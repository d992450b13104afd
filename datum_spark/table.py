"""``Table`` — a named relation with the reference's read/write API.

Reference: ``datum/table.py`` (proxy), ``datum/postgis/table.py``,
``datum/oracle_stgeom/table.py``.  Every method here builds a Catalyst
logical plan (select → filter → orderBy → limit + geometry expressions) and
defers execution to the terminal action — the reference's driver-side
post-processing loops (SURVEY §3 EP2 step 5) become distributed column ops.

Fixes applied vs. the reference (SURVEY §1.4):
- #3 ``count`` is a property returning ``int`` on every backend.
- #4 ``sort=`` honored uniformly (Oracle silently dropped it).
- #5 single canonical name resolution (no double schema-qualification).
- #6 only ``None`` maps to SQL NULL on write (``0``/``False`` kept).
- #8 Force2D is an explicit transform, not a substring accident.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import util
from .functions.dialect import translate_predicate
from .functions.geometry import (
    curve_to_line,
    empty_wkt,
    force_2d,
    is_curve_wkt,
    multi_cast,
    reproject_wkt,
    scrub_m_values,
)
from .functions.geometry_sql import register_called_functions

# one group key for every NaN, as Spark's grouping normalizes NaN
_NAN = object()


class Table:
    def __init__(self, db, name: str):
        # schema-qualified names split like the reference
        # (datum/table.py:16-22); Parquet dirs are flat, so the schema part
        # only namespaces the identifier.
        self.db = db
        self.schema, self.name = util.split_schema(util.check_identifier(name))
        self.qualified_name = name
        self._meta_cache: dict | None = None

    def __str__(self) -> str:
        """Reference shape ``Table: schema.name`` (``datum/table.py:27-32``)."""
        return f"Table: {self.qualified_name}"

    # -- plumbing ---------------------------------------------------------

    def df(self) -> DataFrame:
        """The table as a DataFrame — the Spark-native access path."""
        return self.db._table_df(self.name)

    @property
    def _props(self) -> dict:
        if self._meta_cache is None:
            if self.db.scheme == "file":
                self._meta_cache = self.db._load_meta(self.name)
            else:
                self._meta_cache = self.db._memory_meta.get(self.name, {})
        return self._meta_cache

    @property
    def _schema(self):
        # Parquet footers make introspection free (SURVEY §1.3) — the
        # reference needed information_schema / zero-row probe queries —
        # and the scan memo makes it free after the first call per table
        # version.
        return self.df().schema

    # -- introspection (SURVEY §2-A op 20) ----------------------------------

    @property
    def metadata(self) -> list[dict]:
        """``[{'name','type'}]`` in the datum 4-type model
        (reference: ``datum/table.py:34-38``)."""
        geom = self._props.get("geom_field")
        return [
            {"name": f.name,
             "type": "geom" if f.name == geom else util.datum_type_of(f.dataType)}
            for f in self._schema.fields
        ]

    @property
    def fields(self) -> list[str]:
        return [f.name for f in self._schema.fields]

    @property
    def geom_field(self) -> str | None:
        return self._props.get("geom_field")

    @property
    def non_geom_fields(self) -> list[str]:
        geom = self.geom_field
        return [f for f in self.fields if f != geom]

    @property
    def geom_type(self) -> str | None:
        return self._props.get("geom_type")

    @property
    def srid(self) -> int | None:
        return self._props.get("srid")

    @property
    def pk_field(self) -> str | None:
        return self._props.get("pk_field")

    # Oracle spelling (datum/oracle_stgeom/table.py:170-187)
    @property
    def objectid_field(self) -> str | None:
        return self._props.get("pk_field")

    @property
    def count(self) -> int:
        """Row count as int (fix §1.4#3; reference Q01 semantics)."""
        return self.df().count()

    # -- read (SURVEY §2-A ops 5-12) -----------------------------------------

    def query(self, fields=None, aliases=None, geom_field=None, to_srid=None,
              return_geom: bool = True, limit: int | None = None,
              where: str | None = None, sort=None) -> DataFrame:
        """Build the read plan and return it as a DataFrame (lazy).

        This is the engine-native spelling of ``read``; ``read`` collects it
        to row dicts for reference-API fidelity.
        """
        df = self.df()
        geom = geom_field or self.geom_field

        # field list: default all, minus geometry when return_geom=False
        # (the reference's Oracle default excluded geometry entirely).
        if fields is None:
            cols = list(df.columns)
            if not return_geom and geom in cols:
                cols.remove(geom)
        else:
            cols = list(fields)
            unknown = [c for c in cols if c not in df.columns]
            if unknown:
                raise ValueError(f"fields not in table: {unknown}")
            if return_geom and geom and geom not in cols:
                cols.append(geom)

        aliases = aliases or {}
        exprs: list[Column] = []
        for c in cols:
            col: Column = F.col(c)
            if c == geom:
                # WKT output expr: m-value scrub distributed
                # (ref driver loop datum/oracle_stgeom/table.py:289-297)
                col = scrub_m_values(col)
                if to_srid is not None and self.srid and to_srid != self.srid:
                    col = reproject_wkt(col, self.srid, to_srid)
            exprs.append(col.alias(aliases.get(c, c)))
        df = df.select(*exprs)

        if where:
            # where= fragments may call ST_* (reference users filtered on
            # PostGIS functions): register the ones this fragment names
            pred = translate_predicate(where)
            register_called_functions(self.db.spark, pred)
            df = df.filter(F.expr(pred))
        if sort is not None:
            df = df.orderBy(*self._sort_exprs(sort, aliases))
        if limit is not None:
            df = df.limit(int(limit))
        return df

    @staticmethod
    def _sort_exprs(sort, aliases) -> list[Column]:
        """``"a DESC"`` / ``["a", "b DESC NULLS LAST"]`` → order expressions
        (reference: ``datum/postgis/table.py:159-163``; NULLS FIRST/LAST
        honored like the backends did)."""
        if isinstance(sort, str):
            sort = [s.strip() for s in sort.split(",") if s.strip()]
        exprs = []
        for item in sort:
            parts = item.split()
            name = aliases.get(parts[0], parts[0])
            upper = [p.upper() for p in parts[1:]]
            desc = "DESC" in upper
            nulls = None
            if "NULLS" in upper:
                nulls = upper[upper.index("NULLS") + 1]  # FIRST | LAST
            col = F.col(name)
            if desc:
                col = (col.desc_nulls_first() if nulls == "FIRST"
                       else col.desc_nulls_last() if nulls == "LAST"
                       else col.desc())
            elif nulls:
                col = (col.asc_nulls_first() if nulls == "FIRST"
                       else col.asc_nulls_last())
            exprs.append(col)
        return exprs

    def read(self, fields=None, aliases=None, geom_field=None, to_srid=None,
             return_geom: bool = True, limit=None, where=None,
             sort=None) -> list[dict]:
        """Materialize rows as dicts (reference: ``datum/table.py:68-86``)."""
        df = self.query(fields, aliases, geom_field, to_srid, return_geom,
                        limit, where, sort)
        return [row.asDict() for row in df.collect()]

    def read_iter(self, **kwargs) -> Iterator[dict]:
        """Streaming variant: iterate row dicts without materializing the
        whole result in driver memory (for large scans)."""
        for row in self.query(**kwargs).toLocalIterator():
            yield row.asDict()

    # -- write (SURVEY §2-A op 14) ---------------------------------------------

    def write(self, rows, from_srid: int | None = None,
              chunk_size: int | None = None) -> None:
        """Append rows (list of dicts or a DataFrame).

        The reference chunked INSERTs with a commit per chunk
        (``datum/postgis/table.py:266-304``) — partial failures left earlier
        chunks committed.  Here one atomic Parquet job commit replaces that;
        ``chunk_size`` is accepted for API compatibility and ignored.
        """
        target = self._schema
        if isinstance(rows, DataFrame):
            df, rows = rows, None
            write_fields = df.columns
        else:
            rows = list(rows)
            if not rows:
                return
            write_fields = list(rows[0].keys())

        # field-exists validation (datum/postgis/table.py:256-262)
        unknown = [f for f in write_fields if f not in target.names]
        if unknown:
            raise ValueError(f"fields not in table: {unknown}")
        if rows is not None:
            df = self._rows_to_df(rows, write_fields, target)
        df = self._with_prepared_geom(df, rows, from_srid)

        # auto primary key injection (ref: SDE.GDB_UTIL.NEXT_ROWID,
        # datum/oracle_stgeom/table.py:437-443) — DENSE sequential ids
        # matching the reference's `serial` semantics.  Raw
        # monotonically_increasing_id leaves ~2^33 gaps between partitions,
        # so each multi-partition write would jump the next base by
        # billions (and a double-typed pk column loses exactness past
        # 2^53).  Instead: per-partition row counts (one tiny collect)
        # cumulate into offsets, and the id is offset + within-partition
        # position (the mono id's low 33 bits) — dense, no shuffle.
        pk = self.pk_field
        if pk and self._props.get("pk_auto") and pk not in write_fields:
            base = self._next_pk_base()
            df = self._with_dense_ids(df, pk, base)

        self.db._write_table(self.name, self._align(df, target),
                             mode="append")

    @staticmethod
    def _align(df: DataFrame, target) -> DataFrame:
        """``df`` in the table schema ``target``: its column order and
        declared types, missing columns as NULL."""
        return df.select(*[
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in target.fields])

    @staticmethod
    def _with_dense_ids(df: DataFrame, pk: str, base: int) -> DataFrame:
        """Add a dense sequential ``pk`` column: base, base+1, ...

        zipWithIndex pattern, DataFrame-native: lazily localCheckpoint to
        pin the partition assignment (so the counted partitions are the
        written ones), collect one count per partition, and add the
        cumulated offset to the within-partition position.  The position
        comes from ``monotonically_increasing_id``'s documented layout
        (partition id in the high 31 bits, record index in the low 33) —
        no window, no shuffle, one tiny driver round-trip.
        """
        d = df.localCheckpoint(eager=False)
        pos = F.monotonically_increasing_id().bitwiseAND(
            F.lit((1 << 33) - 1))
        counts = (d.groupBy(F.spark_partition_id().alias("__pid"))
                   .agg(F.count(F.lit(1)).alias("n")).collect())
        offsets, acc = {}, base
        for r in sorted(counts, key=lambda r: r["__pid"]):
            offsets[r["__pid"]] = acc
            acc += r["n"]
        if not offsets:
            return d.withColumn(pk, pos + F.lit(base))
        off = F.coalesce(*[F.when(F.spark_partition_id() == pid, F.lit(o))
                           for pid, o in offsets.items()], F.lit(base))
        return d.withColumn(pk, (off + pos).cast("long"))

    def _next_pk_base(self) -> int:
        pk = self.pk_field
        try:
            current = self.df().agg(F.max(F.col(pk))).collect()[0][0]
        except Exception:
            current = None
        return int(current or 0) + 1

    def _rows_to_df(self, rows: list[dict], write_fields: list[str],
                    target, keys=()) -> DataFrame:
        """Row dicts → a local relation typed by the table schema
        ``target``; with ``keys``, only the last row per key is kept.

        Only None → NULL (fix §1.4#6: the reference coerced 0/False/''
        all to empty string). NaN floats are preserved as NaN.  Python
        values are coerced to the declared column type the way the
        reference's _prepare_val did (datum/postgis/table.py:203-222):
        int→float for num(double) columns, ISO-8601 strings→date/timestamp,
        str() for text columns.
        """
        target_fields = {f.name: f for f in target.fields}
        from pyspark.sql import types as T
        fields = [target_fields.get(f, T.StructField(f, T.StringType(), True))
                  for f in write_fields]
        schema = T.StructType([T.StructField(f.name, f.dataType, True)
                               for f in fields])

        import datetime

        def coerce(v, dt):
            if v is None:
                return None
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                if isinstance(v, bool):
                    return float(int(v))
                if isinstance(v, int):
                    return float(v)
            elif isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                                 T.ByteType)):
                if isinstance(v, bool):
                    return int(v)
                if isinstance(v, float) and v.is_integer():
                    return int(v)
            elif isinstance(dt, T.TimestampType) and isinstance(v, str):
                return datetime.datetime.fromisoformat(v)
            elif isinstance(dt, T.DateType) and isinstance(v, str):
                return datetime.date.fromisoformat(v)
            elif isinstance(dt, T.StringType) and not isinstance(v, str):
                return str(v)
            return v

        cleaned = [tuple(coerce(r.get(f.name), f.dataType) for f in fields)
                   for r in rows]
        if keys:
            # last occurrence wins, as MERGE matches each target row at
            # most once; NaN keys group together, as in Spark's grouping
            at = [write_fields.index(k) for k in keys]
            last = {}
            for row in cleaned:
                last[tuple(_NAN if v != v else v
                           for v in (row[i] for i in at))] = row
            cleaned = list(last.values())
        return util.local_frame(self.db.spark, cleaned, schema)

    def _with_prepared_geom(self, df: DataFrame, rows: list[dict] | None,
                            from_srid: int | None) -> DataFrame:
        """``df`` with :meth:`_prepare_geom` applied to the geometry column,
        if it carries one.  For a list batch (``rows``) the values are on
        the driver, so the curve step (a pandas-UDF stage) joins only when
        some value is a curve."""
        geom = self.geom_field
        if not geom or geom not in df.columns:
            return df
        curves = rows is None or any(
            v is not None and is_curve_wkt(str(v))
            for v in (r.get(geom) for r in rows))
        return df.withColumn(
            geom, self._prepare_geom(F.col(geom), from_srid, curves))

    def _prepare_geom(self, col: Column, from_srid: int | None,
                      curves: bool = True) -> Column:
        """Geometry write normalization as column expressions
        (reference ``_prepare_geom``: ``datum/postgis/table.py:179-201``,
        ``datum/oracle_stgeom/table.py:317-340``)."""
        out = force_2d(scrub_m_values(col))
        # curve conversion before MULTI promotion, matching the reference's
        # ST_CurveToLine-inside-ST_Multi nesting (postgis/table.py:189-191)
        if curves:
            out = curve_to_line(out)
        gtype = self.geom_type
        if gtype:
            out = multi_cast(out, gtype)
            # null geometry → typed EMPTY (datum/oracle_stgeom/table.py:320-322)
            out = F.coalesce(out, F.lit(empty_wkt(gtype)))
        if from_srid and self.srid and from_srid != self.srid:
            out = reproject_wkt(out, from_srid, self.srid)
        return out

    # -- delete / truncate (SURVEY §2-A op 15) -----------------------------------

    def delete(self, cascade: bool = False) -> None:
        """Remove all rows, keep schema (reference TRUNCATE,
        ``datum/postgis/table.py:170-177``).  ``cascade`` accepted for API
        compatibility (no FK graph in Parquet)."""
        empty = self.db.spark.createDataFrame([], self._schema)
        self.db._write_table(self.name, empty, mode="overwrite")

    truncate = delete

    # -- maintenance ---------------------------------------------------------

    def overwrite_partitions(self, rows) -> None:
        """Backfill: replace ONLY the hive partitions present in ``rows``
        (dynamic partition overwrite), leaving every other partition's
        files untouched.  The incremental-recompute primitive at scale —
        re-deriving three changed days of a 100 TB date-partitioned table
        rewrites three directories, not the table.  Requires the table to
        have been created with ``partition_by``.
        """
        part_cols = self._props.get("partition_by")
        if not part_cols:
            raise ValueError(
                f"table {self.name!r} is not partitioned; "
                "overwrite_partitions needs a partition_by table")
        target = self._schema
        df = rows if isinstance(rows, DataFrame) else self._rows_to_df(
            list(rows), list(rows[0].keys()) if rows else target.names,
            target)
        for c in part_cols:
            if c not in df.columns:
                raise ValueError(f"rows missing partition field: {c!r}")
        pk = self.pk_field
        if pk and self._props.get("pk_auto") and pk not in df.columns:
            df = self._with_dense_ids(df, pk, self._next_pk_base())
        spark = self.db.spark
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, "static")
        spark.conf.set(key, "dynamic")
        try:
            (self._align(df, target).write.mode("overwrite")
             .partitionBy(*part_cols)
             .parquet(self.db._table_path(self.name)))
        finally:
            spark.conf.set(key, prev)

    def compact(self, target_file_mb: int = 128) -> dict:
        """Coalesce small files: rewrite the table with file count sized
        from the data's actual bytes (Catalyst size estimate ÷ target).
        Streaming ingest and per-batch upserts leave a long tail of tiny
        files; every one costs a scan task and an open at read time, so
        at 100 TB compaction IS the read-latency lever.  Hive partition
        dirs are preserved (the rewrite re-partitions by the same
        columns).

        Returns a maintenance report ``{"files": written file count,
        "rows": rows moved, "est_bytes": Catalyst size estimate}`` —
        ``rows`` is observed on the rewrite job itself (Observation API),
        so the 100 TB maintenance op is self-reporting with no second
        scan.
        """
        from .operators.metrics import observe
        from .util import estimated_bytes

        df = self.df()
        est = int(estimated_bytes(df))
        n = max(1, -(-est // (target_file_mb << 20)))
        observed, obs = observe(df, rows=F.count(F.lit(1)))
        part_cols = self._props.get("partition_by")
        if part_cols:
            # spread by partition value so each dir gets few, large files
            self.db._rewrite_table(self.name,
                                   observed.repartition(n, *part_cols))
        else:
            self.db._rewrite_table(self.name, observed.repartition(n))
        import glob

        files = len(glob.glob(
            f"{self.db._table_path(self.name)}/**/*.parquet",
            recursive=True))
        return {"files": files, "rows": int(obs.get["rows"] or 0),
                "est_bytes": est}

    def optimize(self, cluster_by: list[str] | str,
                 target_partitions: int | None = None,
                 zorder: bool = False) -> None:
        """Rewrite the table range-clustered and sorted on ``cluster_by``
        (the OPTIMIZE/Z-ORDER analog for plain Parquet).

        Range partitioning puts disjoint key ranges in separate files and
        the within-partition sort tightens row-group min/max stats, so
        selective filters on the cluster columns skip whole files and row
        groups at scan time — the cheap lever when a 100 TB table is mostly
        read through one predicate column.  One shuffle, same data.

        ``zorder=True`` clusters on the bit-interleaved Z-value of the
        columns instead of their lexicographic order: with plain
        ``(a, b)`` clustering, a filter on ``b`` alone skips nothing;
        Z-ordering makes every clustered column's min/max ranges tight
        simultaneously (each file covers a small square of (a, b) space,
        not a thin full-height stripe).  Per-column bucket ranks come from
        one min/max aggregate + ``width_bucket`` over the column's value
        range (``functions/zorder.py`` — deliberately NOT a global
        ``ntile`` window, which would funnel the table through one task),
        interleaved JVM-side with shift/or expressions.  Uniform-width
        buckets skew on heavy-tailed columns (a hot bucket clusters less
        tightly) — the tradeoff for staying aggregate-only.
        """
        cols = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
        for c in cols:
            if c not in self.fields:
                raise ValueError(f"field not in table: {c}")
        from .session import default_parallelism
        n = target_partitions or default_parallelism()
        if zorder and len(cols) >= 2:
            from .functions.zorder import zorder_value

            df = zorder_value(self.df(), cols, out_col="__z")
            df = (df.repartitionByRange(n, F.col("__z"))
                    .sortWithinPartitions("__z")
                    .drop("__z"))
        else:
            df = (self.df()
                  .repartitionByRange(n, *[F.col(c) for c in cols])
                  .sortWithinPartitions(*cols))
        # stage to a temp dir via collect-free rewrite: write new, swap
        self.db._rewrite_table(self.name, df)

    def upsert(self, rows, keys: list[str] | str) -> None:
        """MERGE/upsert: rows whose ``keys`` match an existing row replace
        it; the rest append.  (The reference's pattern was delete-then-
        write around its ``delete(where)``; this is the atomic single-job
        spelling a Parquet warehouse needs.)

        Implemented as existing ⟕-anti new on the keys, union, rewrite —
        one join and one write; no per-row driver loop.  The key slice is
        explicitly broadcast only when the batch arrived as a Python list
        (size known and small); DataFrame batches of unknown size go
        through Catalyst/AQE's autoBroadcastJoinThreshold so a large
        upsert cannot OOM the driver.  Duplicate keys WITHIN the batch are
        collapsed first, last occurrence winning (MERGE's \"each target
        row matched at most once\" contract): on the driver for a list,
        by a window over the partition order for a DataFrame.  Geometry
        is normalized as :meth:`write` normalizes it.
        """
        keys = [keys] if isinstance(keys, str) else list(keys)
        cur = self.df()
        for k in keys:
            if k not in cur.columns:
                raise ValueError(f"field not in table: {k}")
        if isinstance(rows, DataFrame):
            new, rows = rows, None
            batch_fields = new.columns
        else:
            rows = list(rows)
            if not rows:
                return
            batch_fields = list(rows[0].keys())
        for k in keys:
            if k not in batch_fields:
                raise ValueError(f"upsert rows missing key field: {k}")
        if rows is not None:
            # the list is on the driver: dedupe it there, last row wins
            new = self._rows_to_df(rows, batch_fields, cur.schema, keys)
        else:
            # a DataFrame's order is not on the driver: last-wins in its
            # partition order (max __seq is the last row)
            from pyspark.sql import Window

            seq = new.withColumn("__seq", F.monotonically_increasing_id())
            w = Window.partitionBy(*keys).orderBy(F.col("__seq").desc())
            new = (seq.withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") == 1).drop("__seq", "__rn"))
        new = self._with_prepared_geom(new, rows, None)
        aligned = self._align(new, cur.schema)
        # keys are unique after the dedupe: the slice needs no distinct
        key_slice = aligned.select(*keys)
        if rows is not None and len(rows) <= 1_000_000:
            key_slice = F.broadcast(key_slice)
        kept = cur.join(key_slice, keys, "left_anti")
        self.db._rewrite_table(self.name, kept.unionByName(aligned))

    # -- index ops (SURVEY §2-A op 18) --------------------------------------------

    def create_index(self, *fields: str, name: str | None = None) -> str:
        """Accept-and-record: Parquet has no secondary indexes; the index
        request is recorded as table metadata, and future writes could
        sort-within-partitions on these columns.  Auto-name mirrors the
        reference: ``{table}_{f1}_{f2}_idx``
        (``datum/postgis/table.py:309-333``)."""
        for f in fields:
            if f not in self.fields:
                raise ValueError(f"field not in table: {f}")
        idx_name = name or f"{self.name}_{'_'.join(fields)}_idx"
        meta = dict(self._props)
        indexes = {i["name"]: i for i in meta.get("indexes", [])}
        indexes[idx_name] = {"name": idx_name, "fields": list(fields)}
        meta["indexes"] = sorted(indexes.values(), key=lambda i: i["name"])
        self._store_props(meta)
        return idx_name

    def drop_index(self, *fields: str, name: str | None = None) -> None:
        """Drop by explicit ``name`` or by the auto-name derived from
        ``fields`` — the reference accepts either
        (``datum/table.py:102-104``, ``datum/postgis/table.py:327-333``)."""
        idx_name = name or f"{self.name}_{'_'.join(fields)}_idx"
        meta = dict(self._props)
        meta["indexes"] = [i for i in meta.get("indexes", [])
                           if i["name"] != idx_name]
        self._store_props(meta)

    @property
    def indexes(self) -> list[dict]:
        return list(self._props.get("indexes", []))

    def _store_props(self, meta: dict) -> None:
        if self.db.scheme == "file":
            self.db._store_meta(self.name, meta)
        else:
            self.db._memory_meta[self.name] = meta
        self._meta_cache = meta
