"""URL parsing, identifier handling and the datum 4-type logical type map.

Reference: ``datum/util.py:8-17`` (URL scheme parse) and the two
``FIELD_TYPE_MAP`` tables (``datum/postgis/table.py:7-21``,
``datum/oracle_stgeom/table.py:10-32``) which collapse backend types into
``num | text | date | geom`` (+ ``nclob``/``name`` aliases of text).
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# URL handling


def parse_url(url: str) -> tuple[str, str]:
    """Return (scheme, rest).  Bare paths get scheme ``file``."""
    if "://" not in url and not url.startswith("jdbc:"):
        return "file", url
    if url.startswith("jdbc:"):
        return "jdbc", url
    parsed = urlparse(url)
    path = (parsed.netloc or "") + (parsed.path or "")
    return parsed.scheme or "file", path


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def check_identifier(name: str) -> str:
    """Validate a table/column identifier (schema-qualified allowed).

    The reference string-interpolates identifiers into SQL
    (``datum/postgis/table.py:150-166``) — SURVEY §1.4#7 flags this as
    injection-by-design.  Here every identifier is validated instead.
    """
    for part in name.split("."):
        if not _IDENT_RE.match(part):
            raise ValueError(f"invalid identifier: {name!r}")
    return name


def split_schema(name: str) -> tuple[str | None, str]:
    """Split ``schema.table`` (reference: ``datum/table.py:16-22``)."""
    if "." in name:
        schema, _, table = name.partition(".")
        return schema, table
    return None, name


# ---------------------------------------------------------------------------
# datum logical type model (num | text | date | geom)

_SPARK_TO_DATUM = {
    "byte": "num", "short": "num", "integer": "num", "long": "num",
    "float": "num", "double": "num",
    "string": "text", "binary": "text", "char": "text", "varchar": "text",
    "date": "date", "timestamp": "date", "timestamp_ntz": "date",
    "boolean": "num",
}

_DATUM_TO_SPARK = {
    "num": T.DoubleType(),
    "text": T.StringType(),
    "date": T.TimestampType(),
    # The reference stores geometry as WKT text even in DDL
    # (``datum/postgis/database.py:83-88`` creates `geom` columns as
    # Postgres `text`), so WKT-as-StringType is behavior-preserving.
    "geom": T.StringType(),
    "nclob": T.StringType(),
    "name": T.StringType(),
}


def datum_type_of(spark_type: T.DataType) -> str:
    """Project a Spark type into the datum 4-type model."""
    if isinstance(spark_type, T.DecimalType):
        return "num"
    return _SPARK_TO_DATUM.get(spark_type.typeName(), "text")


def spark_type_of(datum_type: str) -> T.DataType:
    """Map a datum DDL type to the Spark type used for storage.

    Reference DDL accepts only num/text/date/geom
    (``datum/postgis/database.py:83-88``); unknown types raise, matching
    the reference's ``ValueError``.
    """
    try:
        return _DATUM_TO_SPARK[datum_type]
    except KeyError:
        raise ValueError(f"unknown datum type: {datum_type!r}") from None


def struct_type_for(cols: list[dict]) -> T.StructType:
    """Build a StructType from ``[{'name': ..., 'type': ...}]`` col specs
    (the reference's ``create_table`` input shape,
    ``datum/postgis/database.py:75-103``)."""
    fields = [
        T.StructField(check_identifier(c["name"]), spark_type_of(c["type"]), True)
        for c in cols
    ]
    return T.StructType(fields)


# Spark types whose Python values go to Arrow through their internal
# form (days / microseconds since the epoch), the one PySpark's row path
# computes: a naive datetime means process-local time there, and Arrow
# alone would read it as UTC.
_INTERNAL_ARROW = {T.DateType: "int32", T.TimestampType: "int64",
                   T.TimestampNTZType: "int64"}


def local_frame(spark, rows: list[tuple], schema: T.StructType):
    """Driver-side tuples → DataFrame through an Arrow local relation.

    The plan is a ``LocalTableScan``: unlike ``createDataFrame(list,
    schema)`` (a Python RDD, ``Scan ExistingRDD``), scanning it starts no
    Python worker, and collecting it starts no job.  Values must already
    have the column types (no coercion here).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, field, arrow_field in zip(columns, schema.fields,
                                          arrow_schema):
        base = _INTERNAL_ARROW.get(type(field.dataType))
        if base is None:
            arrays.append(pa.array(values, arrow_field.type))
            continue
        internal = [None if v is None else field.dataType.toInternal(v)
                    for v in values]
        arrays.append(pa.array(internal, base).cast(arrow_field.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


# ---------------------------------------------------------------------------
# Parallelism


def ensure_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition a narrow scan so compute-heavy downstream
    expressions (explode / n-gram generation / pandas UDFs) use every core.

    Small single-file inputs arrive as ONE split (Parquet splits by row
    group), so without this an ``explode`` over a 600 KB documents file
    runs on one core while 31 idle.  At 100 TB the scan already has
    thousands of splits and this is a no-op — only small inputs pay the
    (tiny) round-robin shuffle.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file plans (in-memory tests)
        files = []
    if files:
        # estimate the scan's split count WITHOUT df.rdd (which forces a
        # plan→RDD conversion per call), mirroring FilePartition packing:
        # many tiny files BIN-PACK into few partitions (maxPartitionBytes /
        # openCostInBytes), so a raw len(files) >= target check would
        # over-estimate fan-out exactly when this helper is needed.
        import os
        from urllib.parse import urlparse

        sizes, local = [], True
        for f in files:
            try:
                sizes.append(os.path.getsize(urlparse(f).path or f))
            except OSError:  # non-local FS: sizes unknown
                local = False
                break
        if local:
            est = _estimate_scan_partitions(spark, sizes)
            return df if est >= target else df.repartition(target)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _estimate_scan_partitions(spark, sizes: list[int]) -> int:
    """Simulate FilePartition bin-packing (FilePartition.getFilePartitions):
    split big files at maxSplitBytes, sort chunks descending, pack greedily
    with each chunk padded by openCostInBytes.  This is why many tiny
    files collapse into few scan partitions — ~2 per bin at the defaults.

    maxSplitBytes divides the padded total by Spark's own divisor
    (FilePartition.maxSplitBytes): ``spark.sql.files.minPartitionNum``,
    else ``spark.sql.leafNodeDefaultParallelism``, else the context's
    default parallelism — not by the caller's target partition count."""
    if not sizes:
        return 0
    max_split = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _bytes_conf(
        spark, "spark.sql.files.openCostInBytes", 4 << 20)
    divisor = (_int_conf(spark, "spark.sql.files.minPartitionNum")
               or _int_conf(spark, "spark.sql.leafNodeDefaultParallelism")
               or spark.sparkContext.defaultParallelism)
    padded = sum(sizes) + len(sizes) * open_cost
    split = min(max_split, max(open_cost, padded // max(divisor, 1) or 1))
    chunks = []
    for s in sizes:
        while s > split:
            chunks.append(split)
            s -= split
        chunks.append(s)
    chunks.sort(reverse=True)
    bins, cur = 0, split + 1  # force a new bin on the first chunk
    for s in chunks:
        if cur + s > split:
            bins += 1
            cur = 0
        cur += s + open_cost
    return bins


def _int_conf(spark, key: str) -> int | None:
    """An optional integer Spark conf; None when unset or unreadable."""
    try:
        return int(spark.conf.get(key, None))
    except Exception:  # noqa: BLE001 — unset (None), or not an int
        return None


def _bytes_conf(spark, key: str, default: int) -> int:
    """A Spark size conf ('128MB', '4m', '134217728b', ...) in bytes."""
    try:
        v = spark.conf.get(key)
    except Exception:  # noqa: BLE001
        return default
    v = str(v).strip().lower()
    units = {"pb": 1 << 50, "tb": 1 << 40, "gb": 1 << 30, "mb": 1 << 20,
             "kb": 1 << 10, "p": 1 << 50, "t": 1 << 40, "g": 1 << 30,
             "m": 1 << 20, "k": 1 << 10, "b": 1}
    for suf in sorted(units, key=len, reverse=True):
        if v.endswith(suf):
            try:
                return int(float(v[: -len(suf)]) * units[suf])
            except ValueError:
                return default
    try:
        return int(v)
    except ValueError:
        return default


# ---------------------------------------------------------------------------
# Bounded ring of operator-internal caches.
#
# Lazy-returning operators persist intermediates (compute-once barriers)
# but have no post-materialization hook to unpersist them — a long-lived
# session would accumulate cached blocks until LRU pressure (ADVICE r01).
# Eager alternatives measured badly: localCheckpoint stores row copies
# instead of the columnar cache (5× slower on the MinHash bench path), and
# a GC-finalizer tied to the returned plan fires before execution whenever
# the caller derives a new DataFrame and drops ours.  A FIFO cap keeps the
# most recent caches warm through their use window and deterministically
# frees older ones; an evicted cache that some still-unexecuted plan
# references just recomputes (correct, slower).

import threading as _threading
from collections import deque as _deque

_CACHE_RING = _deque()
_CACHE_RING_CAP = 8
# ops may run on several threads: the scan, append, eviction and clear
# of the ring happen under this one lock
_CACHE_RING_LOCK = _threading.Lock()


def retain_cache(df):
    """persist ``df`` and enroll it in the bounded cache ring.

    Enrollment dedups by PLAN EQUALITY (Catalyst ``sameResult`` over the
    analyzed plans): Spark's CacheManager keeps ONE cache entry per
    canonical plan, so when an operator re-derives the same frame (e.g.
    a repeated fit over the same corpus), a second ring slot would not
    add a second cache — but its later eviction would ``unpersist`` the
    SHARED entry out from under every live user of that plan, turning an
    in-flight iterative fit back into per-step recomputation (measured:
    x202 reps erratically 5 s ↔ 13 s from exactly this).  A re-enrolled
    plan instead refreshes its existing slot to most-recently-used."""
    cached = df.persist()
    try:
        plan = df._jdf.queryExecution().analyzed()
    except Exception:  # noqa: BLE001 — connect-mode / mock frames
        plan = None
    with _CACHE_RING_LOCK:
        if plan is not None:
            for i, (old_plan, _old) in enumerate(_CACHE_RING):
                try:
                    hit = old_plan is not None and plan.sameResult(old_plan)
                except Exception:  # noqa: BLE001
                    hit = False
                if hit:
                    _CACHE_RING.append(_CACHE_RING[i])
                    del _CACHE_RING[i]
                    return cached
        _CACHE_RING.append((plan, cached))
        while len(_CACHE_RING) > _CACHE_RING_CAP:
            _, old = _CACHE_RING.popleft()
            try:
                old.unpersist(False)
            except Exception:  # noqa: BLE001 — session may be stopped
                pass
    return cached


def clear_operator_caches() -> None:
    """Unpersist every operator-internal cache (e.g. at pipeline end)."""
    with _CACHE_RING_LOCK:
        while _CACHE_RING:
            _, old = _CACHE_RING.popleft()
            try:
                old.unpersist(False)
            except Exception:  # noqa: BLE001
                pass


def estimated_bytes(df) -> int:
    """Catalyst's own size estimate for a plan (file sizes × estimated
    row width for scans, propagated through the operators) — the same
    statistic the optimizer uses for its broadcast-vs-shuffle decision.
    Used for size-gated physical choices (e.g. small input → plain
    window rank, large input → distributed prefix sum)."""
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001 — unresolvable plan: assume large
        return 1 << 62


# broadcast-hint size gate for VOCABULARY-sized join inputs (distinct
# words, term document frequencies): thousands of rows at test scale,
# 10⁷–10⁸ rows on a web corpus — an unconditional F.broadcast there is
# an executor OOM at 100 TB (VERDICT r10 #1).  64 MiB matches the
# session's autoBroadcastJoinThreshold; tests force the shuffle path by
# monkeypatching to 0 (read at call time).
_GATED_BROADCAST_BYTES = 64 << 20


def gated_broadcast(df, probe=None, expansion: int = 1):
    """``F.broadcast(df)`` only when Catalyst's own size estimate says
    the plan fits under ``_GATED_BROADCAST_BYTES``; above it (or when
    the estimate is unavailable → assumed large) the frame is returned
    unhinted so the planner picks a shuffle join.  Both physical paths
    are value-identical by construction (equality-tested); use for any
    join input whose cardinality scales with the corpus vocabulary
    rather than a k/cell/query bound.

    ``probe`` (optional) supplies a CHEAPER plan as the size evidence:
    estimating ``df`` itself re-runs the optimizer over its expression
    tree, which for generated-expression plans (the unigram Viterbi
    ``aggregate``, the BPE merge-chain replace) costs ~200 ms per
    fresh DataFrame — more than the decision is worth (measured,
    r11).  Pass the pre-encode input (same row count, plain columns)
    and the decision costs ~15 ms.  ``expansion`` scales the probe
    estimate for known row/width blowup between probe and ``df``
    (e.g. word n-gram explode ≈ n × the text bytes)."""
    from pyspark.sql import functions as F

    est = estimated_bytes(probe if probe is not None else df)
    if est * max(1, int(expansion)) < _GATED_BROADCAST_BYTES:
        return F.broadcast(df)
    return df
