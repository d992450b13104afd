"""``Database`` — the engine's connection/catalog object.

Reference: ``datum/database.py`` (proxy over adapter classes picked by URL
scheme, ``datum/database.py:7-20``).  Here there is no proxy/adapter split:
one class routes to Spark sources.  The "connection" is a lazy
``SparkSession`` handle — no I/O happens until an action (SURVEY §3 EP1).

Fixes applied vs. the reference (SURVEY §1.4):
- #2 ``Database.count`` raised AttributeError in the reference; it is
  dropped here (row counts live on ``Table.count``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame

from . import util
from .functions.dialect import translate_sql
from .functions.geometry_sql import register_called_functions
from .session import get_session
from .table import Table

_SCHEMES = ("file", "parquet", "memory", "jdbc")


class Database:
    """A catalog of tables behind one URL.

    - ``file://dir`` / bare path: every ``<name>.parquet`` in the directory
      is a table (the engine's native format; TESTDATA.md layout).
    - ``memory://``: session-scoped catalog, tables are temp views.
    - ``jdbc:...``: tables load via ``spark.read.format("jdbc")``.
    """

    def __init__(self, url: str, spark=None):
        self.url = url
        self.scheme, self.path = util.parse_url(url)
        if self.scheme == "parquet":
            self.scheme = "file"
        if self.scheme not in _SCHEMES:
            # Reference: ValueError on unknown scheme (datum/database.py:17-19)
            raise ValueError(f"invalid url scheme: {self.scheme!r}")
        self.spark = spark or get_session()
        self._memory_tables: dict[str, DataFrame] = {}
        self._views: set[str] = set()
        self._mviews: set[str] = set()
        # table name → the DataFrame its temp view was last bound to
        self._bound: dict[str, DataFrame] = {}

    def __str__(self) -> str:
        """Reference shape ``Database: scheme://.../name`` with credentials
        masked (``datum/database.py:22-26``)."""
        return f"Database: {self.scheme}://{self.name or ''}"

    @property
    def name(self) -> str | None:
        """Database name (reference: ``datum/database.py:32-34`` — the URL
        path component).  file → directory basename; memory → 'memory'."""
        if self.scheme == "memory":
            return "memory"
        if self.scheme == "file":
            return os.path.basename(os.path.normpath(self.path)) or None
        from urllib.parse import urlparse
        return (urlparse(self.url).path or "").lstrip("/") or None

    @property
    def user(self) -> str | None:
        """URL username (reference: ``datum/database.py:36-38``)."""
        from urllib.parse import urlparse
        return urlparse(self.url).username

    # -- table handles ------------------------------------------------------

    def table(self, name: str) -> Table:
        """Bind a table handle (reference: ``datum/database.py:53-55``)."""
        return Table(self, name)

    def __getitem__(self, name: str) -> Table:
        """``db['table']`` sugar (reference: ``datum/database.py:28-30``)."""
        return self.table(name)

    @property
    def tables(self) -> list[str]:
        """Base-table names, sorted — excludes views, mirroring the
        reference's base-table filters (``datum/postgis/database.py:60-69``,
        ``datum/oracle_stgeom/database.py:52-61``)."""
        if self.scheme == "memory":
            names = set(self._memory_tables)
        elif self.scheme == "file":
            names = set()
            if os.path.isdir(self.path):
                for entry in os.listdir(self.path):
                    if entry.endswith(".parquet"):
                        names.add(entry[: -len(".parquet")])
        else:
            names = set()
        names -= self._views
        return sorted(names)

    # -- storage primitives used by Table ------------------------------------

    def _table_path(self, name: str) -> str:
        return os.path.join(self.path, f"{util.check_identifier(name)}.parquet")

    def _meta_path(self, name: str) -> str:
        return os.path.join(self.path, "_meta", f"{name}.json")

    def _load_meta(self, name: str) -> dict:
        try:
            with open(self._meta_path(name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _store_meta(self, name: str, meta: dict) -> None:
        path = self._meta_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)

    def _table_df(self, name: str) -> DataFrame:
        if self.scheme == "memory":
            try:
                return self._memory_tables[name]
            except KeyError:
                raise ValueError(f"no such table: {name!r}") from None
        if self.scheme == "jdbc":
            return (self.spark.read.format("jdbc")
                    .option("url", self.url).option("dbtable", name).load())
        path = self._table_path(name)
        if not os.path.exists(path):
            if name in self._views or self.spark.catalog.tableExists(name):
                return self.spark.table(name)
            raise ValueError(f"no such table: {name!r}")
        from pyspark.sql.utils import AnalysisException

        from .sources.registry import read_parquet_normalized
        try:
            return read_parquet_normalized(self.spark, path)
        except AnalysisException:
            # footer-less dir (empty partitioned table): declared schema
            ddl = self._load_meta(name).get("schema_ddl")
            if ddl:
                return self.spark.createDataFrame([], ddl)
            raise

    def _write_table(self, name: str, df: DataFrame, mode: str) -> None:
        if self.scheme == "memory":
            if mode == "append" and name in self._memory_tables:
                df = self._memory_tables[name].unionByName(df)
            # materialize to avoid recompute chains on repeated appends
            self._memory_tables[name] = self.spark.createDataFrame(
                df.collect(), df.schema)
            self._register(name)
            return
        if self.scheme == "jdbc":
            (df.write.format("jdbc").option("url", self.url)
               .option("dbtable", name).mode(mode).save())
            return
        writer = df.write.mode(mode)
        part_cols = self._load_meta(name).get("partition_by")
        if part_cols:
            # hive layout: partition values become directories, and filters
            # on them prune whole directories (PartitionFilters) at scale
            writer = writer.partitionBy(*part_cols)
        writer.parquet(self._table_path(name))

    def _rewrite_table(self, name: str, df: DataFrame) -> None:
        """Replace a table's files with ``df``'s data via write-then-swap.

        A direct overwrite of the path a lazy plan is READING corrupts the
        read (Spark deletes the input mid-scan); staging to a sibling dir
        and renaming keeps the rewrite safe.

        Swap order is crash-safe: rename the live dir ASIDE (one atomic
        rename — the table is never missing with only staged data left),
        rename the staged dir into place, then delete the backup.  A
        leftover staging/backup dir from a previous crashed run is removed
        up front so the renames land cleanly.
        """
        if self.scheme != "file":
            df = self.spark.createDataFrame(df.collect(), df.schema)
            self._write_table(name, df, mode="overwrite")
            return
        path = self._table_path(name)
        tmp = path + ".__rewrite__"
        old = path + ".__old__"
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        writer = df.write.mode("overwrite")
        part_cols = self._load_meta(name).get("partition_by")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(tmp)
        os.rename(path, old)
        try:
            os.rename(tmp, path)
        except OSError:
            os.rename(old, path)  # roll back: the table stays readable
            raise
        shutil.rmtree(old)

    def _register(self, name: str) -> None:
        """Expose a table as a temp view so ``execute`` SQL can see it.

        The view is re-bound only when ``_table_df`` returns a different
        DataFrame than last time — for a file table, when the scan memo
        saw its files change, whoever changed them."""
        df = self._table_df(name)
        if self._bound.get(name) is df:
            return
        df.createOrReplaceTempView(name)
        self._bound[name] = df

    def register_all(self) -> None:
        for name in self.tables:
            self._register(name)
        self._restore_views()

    def _translate(self, stmt: str) -> str:
        """The dialect-shimmed statement, with the ST_*/text functions it
        calls registered (the gateway's one path to Spark)."""
        stmt = translate_sql(stmt)
        register_called_functions(self.spark, stmt)
        return stmt

    # -- SQL gateway (Tier B) -------------------------------------------------

    def execute(self, stmt: str):
        """Run arbitrary SQL and return rows as dicts (or None for DDL).

        Reference: ``datum/database.py:44-45`` + adapters.  The pg/oracle
        dialect shim (SURVEY §4) rewrites common idioms; the statement then
        goes through Spark's own parser (no string splicing, §1.4#7).
        """
        self.register_all()
        df = self.spark.sql(self._translate(stmt))
        if not df.columns:
            return None
        return [row.asDict() for row in df.collect()]

    def sql(self, stmt: str) -> DataFrame:
        """Spark-native variant of :meth:`execute`: returns the DataFrame
        (lazy logical plan) instead of collecting."""
        self.register_all()
        return self.spark.sql(self._translate(stmt))

    # -- DDL -----------------------------------------------------------------

    def create_table(self, name: str, cols: list[dict],
                     partition_by: list[str] | None = None) -> None:
        """Create an empty table from ``[{'name','type'}]`` specs.

        Reference: ``datum/postgis/database.py:75-103`` — auto-adds an
        ``id`` auto-increment primary key; types restricted to
        num/text/date/geom.  IF NOT EXISTS semantics: existing table wins.

        ``partition_by`` (extension, no reference analog — Postgres tables
        weren't hive-partitioned): declared columns become hive partition
        directories on every subsequent write, so partition-key filters
        prune whole directories at scan time.
        """
        if self.scheme == "file" and os.path.exists(self._table_path(name)):
            return
        if self.scheme == "memory" and name in self._memory_tables:
            return
        specs = list(cols)
        col_names = [c["name"] for c in specs]
        meta: dict = {}
        if "id" not in col_names:
            specs = [{"name": "id", "type": "num"}] + specs
            meta["pk_field"] = "id"
            meta["pk_auto"] = True
        geom_cols = [c["name"] for c in specs if c["type"] == "geom"]
        if len(geom_cols) > 1:
            # single-geometry enforcement (datum/postgis/table.py:93-99)
            raise ValueError("at most one geom column per table")
        if geom_cols:
            meta["geom_field"] = geom_cols[0]
        if partition_by:
            spec_names = [c["name"] for c in specs]
            unknown = [c for c in partition_by if c not in spec_names]
            if unknown:
                raise ValueError(f"partition columns not in table: {unknown}")
            meta["partition_by"] = list(partition_by)
        schema = util.struct_type_for(specs)
        if meta.get("pk_auto"):
            # auto pk is a bigint sequence (reference: `id serial PRIMARY
            # KEY`, datum/postgis/database.py:92-95), not a datum `num`
            from pyspark.sql import types as T
            schema = T.StructType([
                T.StructField("id", T.LongType(), True) if f.name == "id" else f
                for f in schema.fields
            ])
        # declared schema rides in meta: an empty partitioned write emits no
        # parquet footers, so reads of a never-written partitioned table
        # need a schema source other than file inference
        meta["schema_ddl"] = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        # meta BEFORE the first write: _write_table reads partition_by from
        # it, and a mixed partitioned/unpartitioned layout would not read
        if meta and self.scheme == "file":
            self._store_meta(name, {**self._load_meta(name), **meta})
        elif meta:
            self._memory_meta = getattr(self, "_memory_meta", {})
            self._memory_meta[name] = meta
        empty = self.spark.createDataFrame([], schema)
        self._write_table(name, empty, mode="overwrite")

    def drop_table(self, name: str) -> None:
        if self.scheme == "memory":
            self._memory_tables.pop(name, None)
        elif self.scheme == "file":
            path = self._table_path(name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.remove(path)
            meta = self._meta_path(name)
            if os.path.exists(meta):
                os.remove(meta)
        if self._bound.pop(name, None) is not None:
            self.spark.catalog.dropTempView(name)

    # -- adapter-level conveniences (reference: Oracle adapter exposed these
    # directly on the database object) --------------------------------------

    def bulk_insert(self, table: str, rows, geom_field: str | None = None,
                    from_srid: int | None = None,
                    chunk_size: int | None = None) -> None:
        """Insert rows into ``table``
        (reference: ``datum/oracle_stgeom/database.py:146-193``).
        ``geom_field`` is accepted for signature parity; geometry handling
        comes from the table's registered metadata."""
        self.table(table).write(rows, from_srid=from_srid,
                                chunk_size=chunk_size)

    def truncate(self, table: str) -> None:
        """Remove all rows from ``table``
        (reference: ``datum/oracle_stgeom/database.py:196-202``)."""
        self.table(table).delete()

    def import_table(self, name: str, path: str, fmt: str = "csv",
                     schema=None, **options) -> None:
        """Load an external file (csv/json/orc/parquet) into a new table —
        the reference README's TODO ("should support things other than
        databases, like CSV sheets", ``datum/__init__.py`` docstring),
        delivered through Spark's readers."""
        from .sources.registry import load_table

        util.check_identifier(name)
        df = load_table(self.spark, path, fmt=fmt, schema=schema, **options)
        self._write_table(name, df, mode="overwrite")

    def export_table(self, name: str, path: str, fmt: str = "csv",
                     mode: str = "error", **options) -> None:
        """Write a table out in another format (csv/json/orc/parquet)."""
        from .sources.registry import write_table

        write_table(self._table_df(name), path, fmt=fmt, mode=mode,
                    **options)

    # -- views ----------------------------------------------------------------

    def create_view(self, name: str, select_stmt: str) -> None:
        """CREATE VIEW (reference: ``datum/postgis/database.py:108-111``).

        File-scheme views PERSIST: the defining SQL is stored beside the
        data (``_meta/_views.json``) and re-registered on the next
        ``connect`` — matching the reference, where views lived in the
        backend catalog rather than the client session.
        """
        util.check_identifier(name)
        self.register_all()
        self.spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {name} AS "
            f"{self._translate(select_stmt)}")
        self._views.add(name)
        if self.scheme == "file":
            views = self._load_meta("_views")
            views[name] = select_stmt
            self._store_meta("_views", views)

    def drop_view(self, name: str) -> None:
        self.spark.catalog.dropTempView(name)
        self._views.discard(name)
        if self.scheme == "file":
            views = self._load_meta("_views")
            if name in views:
                del views[name]
                self._store_meta("_views", views)

    def _restore_views(self) -> None:
        """Re-register persisted view definitions (file scheme only)."""
        if self.scheme != "file":
            return
        for name, stmt in self._load_meta("_views").items():
            if name in self._views:
                continue
            for table in self.tables:
                self._register(table)
            self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} "
                           f"AS {self._translate(stmt)}")
            self._views.add(name)

    def create_mview(self, name: str, select_stmt: str) -> None:
        """Materialized view → CTAS to storage
        (reference: ``datum/postgis/database.py:118-121``)."""
        util.check_identifier(name)
        self.register_all()
        df = self.spark.sql(self._translate(select_stmt))
        self._write_table(name, df, mode="overwrite")
        self._mviews.add(name)
        self._register(name)

    def drop_mview(self, name: str) -> None:
        self.drop_table(name)
        self._mviews.discard(name)

    def refresh_mview(self, name: str, select_stmt: str) -> None:
        """REFRESH MATERIALIZED VIEW equivalent: re-run the CTAS."""
        self.create_mview(name, select_stmt)

    def refresh_mview_incremental(self, name: str, source_table: str,
                                  agg_builder) -> dict:
        """Incrementally maintain an aggregate mview over ``source_table``
        (SCALE.md §6.4): a Structured Streaming pass with
        ``Trigger.AvailableNow`` reads ONLY files appended since the last
        refresh (offsets live in a per-mview checkpoint under ``_meta``),
        folds them into the persisted aggregation state, and atomically
        overwrites the mview parquet with the updated totals via
        ``foreachBatch``.

        ``agg_builder`` is ``fn(DataFrame) -> DataFrame`` and must be a
        streamable single aggregation (groupBy/agg — no sort/limit; Spark
        rejects non-streamable plans at start).  At 100 TB this is the
        difference between re-scanning the fact table per refresh and
        scanning just the day's new partitions.

        Returns ``{"rows_read": n}`` — input rows this refresh (0 when
        nothing new arrived).
        """
        if self.scheme != "file":
            raise NotImplementedError(
                "incremental mviews need file-scheme storage")
        util.check_identifier(name)
        src = self._table_path(source_table)
        ckpt = os.path.join(self.path, "_meta", "_checkpoints", name)
        schema = self.spark.read.parquet(src).schema
        stream = self.spark.readStream.schema(schema).parquet(src)
        out = agg_builder(stream)

        target = self._table_path(name)

        def _sink(batch_df, _batch_id, _target=target):
            batch_df.write.mode("overwrite").parquet(_target)

        q = (out.writeStream
                .foreachBatch(_sink)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start())
        q.awaitTermination()
        rows = sum(int(p["numInputRows"]) for p in q.recentProgress)
        self._mviews.add(name)
        if os.path.exists(target):
            self._register(name)
        return {"rows_read": rows}

    def snapshot_table(self, name: str, create: bool = False,
                       schema: str | None = None):
        """Handle on a VERSIONED table in this warehouse
        (``sources/snapshots.py``): atomic manifest commits, snapshot-
        isolated reads, time travel, ``append_once`` for exactly-once
        streaming ingest, and additive schema evolution — the
        engine-native stand-in for the backend transactions datum got
        from its RDBMS and for the jar-gated lake formats.  Stored at
        ``<warehouse>/<name>.snapshot`` (the layout keeps it out of
        :attr:`tables`, which lists plain parquet tables).
        ``create=True`` bootstraps an empty v0; ``schema`` (DDL string)
        types it so pre-first-append readers see real columns."""
        from .sources.snapshots import SnapshotTable

        if self.scheme != "file":
            raise ValueError(
                "snapshot tables need a file-scheme warehouse")
        util.check_identifier(name)
        path = os.path.join(self.path, f"{name}.snapshot")
        if create:
            return SnapshotTable.create(self.spark, path, schema=schema)
        if not os.path.isdir(os.path.join(path, "_manifests")):
            raise ValueError(f"no snapshot table {name!r} "
                             f"(create with create=True)")
        return SnapshotTable(self.spark, path)

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Remove stale maintenance debris from the warehouse directory:
        crashed rewrite staging/backup dirs (``*.__rewrite__`` /
        ``*.__old__`` — left only if a write-then-swap died mid-flight;
        the next rewrite would also clear its own) and Spark's
        ``_temporary`` job-attempt dirs.  Returns the removed paths.

        Deliberately conservative: only recognizably-transient names are
        touched — never data files, so a concurrent reader of a LIVE
        table is unaffected — and only dirs whose mtime is older than
        ``min_age_seconds`` (default 1 h), so an IN-FLIGHT rewrite or
        Spark write running concurrently keeps its live staging dir
        (pass ``0`` to force-clean when no writers can be active).
        """
        if self.scheme != "file":
            return []

        def _old_enough(path: str) -> bool:
            # age-check the NEWEST mtime anywhere in the tree, not the
            # top-level dir: Spark task attempts write into nested
            # subdirectories without bumping the parent's mtime, so a
            # long-running in-flight write would otherwise look stale
            # and lose its live staging dir (round-7 advice fix)
            try:
                newest = os.path.getmtime(path)
                for root, dirs, files in os.walk(path):
                    for entry in dirs + files:
                        newest = max(newest, os.path.getmtime(
                            os.path.join(root, entry)))
                return time.time() - newest >= min_age_seconds
            except OSError:
                return False    # vanished underneath us → a writer owns it

        removed: list[str] = []
        for entry in sorted(os.listdir(self.path)):
            p = os.path.join(self.path, entry)
            if entry.endswith((".__rewrite__", ".__old__")) \
                    and os.path.isdir(p):
                if _old_enough(p):
                    shutil.rmtree(p)
                    removed.append(p)
                continue
            if os.path.isdir(p):
                tmp = os.path.join(p, "_temporary")
                if os.path.isdir(tmp) and _old_enough(tmp):
                    shutil.rmtree(tmp)
                    removed.append(tmp)
        return removed

    # -- lifecycle -------------------------------------------------------------

    def save(self) -> None:
        """No-op: Parquet job commits are atomic per write (the reference
        committed per chunk — ``datum/postgis/table.py:304``)."""

    def close(self, stop_spark: bool = False) -> None:
        """Release catalog state; optionally stop the SparkSession."""
        for name in self._bound:
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:
                pass
        self._bound.clear()
        if stop_spark:
            self.spark.stop()
