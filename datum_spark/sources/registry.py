"""Format-dispatching load/write — the engine's source/sink surface.

The reference's only sources were PostGIS/Oracle connections; its README
TODO ("should support things other than databases, like CSV sheets",
``datum/__init__.py`` module docstring area) is delivered here via Spark's
native readers.  Parquet is the engine-preferred format (columnar, predicate
pushdown, self-describing schema); CSV/JSON exist for interchange; JDBC
covers the reference's original databases; ORC comes free.

Delta/Iceberg/Hudi would need their jars on the classpath — not present in
this runtime, so they are gated with a clear error rather than stubbed
silently.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession

SUPPORTED_FORMATS = ("parquet", "csv", "json", "orc", "jdbc",
                     "text", "binaryfile")

_LAKE_FORMATS = ("delta", "iceberg", "hudi",
                 # avro is Spark-built-in but ships as an external module
                 # (spark-avro jar), absent from this runtime
                 "avro")


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as Parquet TIMESTAMP(NANOS) (footer-level probe)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        schema = ds.dataset(path, format="parquet").schema
        return [f.name for f in schema
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    except Exception:
        return []


def normalize_nanos(df: DataFrame, path: str) -> DataFrame:
    """Normalize Parquet TIMESTAMP(NANOS) columns to session-zoned
    microsecond TIMESTAMP.  Works on batch AND streaming DataFrames (pure
    projection).

    Two reader behaviors exist across PySpark versions:
    - with ``nanosAsLong`` honored, a TIMESTAMP(NANOS) column arrives as
      BIGINT ns-since-epoch → convert via integer division;
    - under PySpark 4.1.x ANY parquet timestamp with isAdjustedToUTC=false
      (micros or nanos) is inferred as TIMESTAMP_NTZ → cast to TIMESTAMP.
      The session is pinned to UTC, so the cast is value-preserving, and
      it is required for event-time ops: ``withWatermark`` rejects
      TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    nanos = set(_nanos_timestamp_cols(path))
    for f in df.schema.fields:
        # LongType conversion is gated on the footer probe: pyarrow also
        # reports legacy INT96 timestamps as ns, but Spark reads those as
        # TIMESTAMP already — only true BIGINT-nanos columns need it.
        if f.name in nanos and isinstance(f.dataType, T.LongType):
            # integer division — float division would round-trip the
            # ns-since-epoch through double and lose microseconds
            df = df.withColumn(f.name, F.timestamp_micros(
                F.expr(f"`{f.name}` DIV 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(
                f.name, F.col(f.name).cast(T.TimestampType()))
    return df


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def ensure_nanos_readable(spark: SparkSession, path: str) -> None:
    """Enable ``nanosAsLong`` at runtime iff the footer carries
    TIMESTAMP(NANOS) columns, so the scan works even under a caller-built
    vanilla session (it is a regular SQL conf, not a static one).

    Also disables TIMESTAMP_NTZ inference (PySpark 4.1 default): the
    engine's timestamp contract is session-zoned TIMESTAMP (session pinned
    UTC), and event-time operators reject NTZ.  ``normalize_nanos`` still
    casts any NTZ column that slips through (e.g. a caller-supplied
    DataFrame that never went through this reader).
    """
    if spark.conf.get(_NTZ_CONF, "true") != "false":
        spark.conf.set(_NTZ_CONF, "false")
    if _nanos_timestamp_cols(path) and \
            spark.conf.get(_NANOS_CONF, "false") != "true":
        spark.conf.set(_NANOS_CONF, "true")


def _path_signature(path: str) -> tuple:
    """Name, size and ``mtime_ns`` of every file under ``path`` (or of
    ``path`` itself when it is a file): any write, rewrite or file drop
    changes it, from whichever handle or process it came."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_size, st.st_mtime_ns),)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            try:
                fst = os.stat(os.path.join(root, name))
            except FileNotFoundError:   # removed while we listed
                continue
            sig.append((root, name, fst.st_size, fst.st_mtime_ns))
    return tuple(sig)


_SCAN_LOCK = threading.Lock()


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """The normalized scan of ``path``, memoized per session until the
    path's files change.

    A memo hit returns the SAME DataFrame object — an unmaterialized,
    already-analyzed scan plan, so its schema and file listing cost
    nothing — and skips the footer probes and Spark's one-task schema
    job.  The key is the path's signature (:func:`_path_signature`), so
    a write made through any handle or process is seen on the next call
    with no version bookkeeping.  Callers may compare the returned object
    with ``is`` to learn whether the table changed.
    """
    key = os.path.normpath(path)
    try:
        sig = _path_signature(key)
    except OSError:     # not a local path: nothing to key on
        return _read_parquet_normalized(spark, path)
    with _SCAN_LOCK:
        memo = getattr(spark, "_datum_scans", None)
        if memo is None:
            memo = spark._datum_scans = {}
        hit = memo.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    df = _read_parquet_normalized(spark, path)
    with _SCAN_LOCK:
        memo[key] = (sig, df)
    return df


def _read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that tolerates TIMESTAMP(NANOS) columns.

    Spark's Parquet reader rejects nanosecond timestamps; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they arrive as BIGINT nanos and
    are converted by :func:`normalize_nanos` to microsecond timestamps with
    JVM expressions — same truncation DuckDB applies, and the scan stays
    fully distributed/pushdown-capable for every other column.

    The conf is set here at runtime rather than relying on session
    defaults: callers may hand us a vanilla SparkSession they built
    themselves, and the scan must still work.  Setting it only when the
    footer actually carries NANOS columns avoids surprising behavior
    changes for nanos-free data.
    """
    ensure_nanos_readable(spark, path)
    return normalize_nanos(spark.read.parquet(path), path)


def load_table(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, **options) -> DataFrame:
    """Load a table from ``path`` in the given format.

    CSV/JSON without an explicit ``schema`` infer it (fine for exploration;
    pass a schema in pipelines — inference costs an extra pass and can
    mis-type at scale).
    """
    fmt = fmt.lower()
    if fmt in _LAKE_FORMATS:
        raise NotImplementedError(
            f"{fmt} requires its connector jar on the Spark classpath, "
            "which this runtime does not ship")
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format: {fmt!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "parquet":
        return reader.options(**options).parquet(path)
    if fmt == "orc":
        return reader.options(**options).orc(path)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
        return reader.options(**options).csv(path)
    if fmt == "json":
        return reader.options(**options).json(path)
    if fmt == "text":
        # one string row per line (or per file with wholetext=true) — the
        # raw-corpus ingestion format; pair with operators/text.py scoring
        return reader.options(**options).text(path)
    if fmt == "binaryfile":
        # built-in binary-file source: (path, modificationTime, length,
        # content) — the multimodal ingestion path (images/audio/video as
        # opaque bytes + typed metadata; see operators/multimodal.py).
        # Spark never splits a file, so partition count tracks file count;
        # pathGlobFilter/recursiveFileLookup options pass through.
        return reader.format("binaryFile").options(**options).load(path)
    # jdbc: path is the url, options must carry dbtable/query
    return reader.format("jdbc").option("url", path).options(**options).load()


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "error", partition_by: list[str] | None = None,
                sort_by: list[str] | None = None,
                **options) -> None:
    """Write ``df`` to ``path``.

    ``sort_by`` sorts rows WITHIN each output task before writing
    (``sortWithinPartitions`` — no extra shuffle).  For Parquet/ORC this
    tightens per-row-group min/max statistics on the sort keys, so later
    scans filtered on those keys skip whole row groups — the cheap
    data-layout lever at 100 TB (a full Z-order needs a lake format's
    clustering; this is the single-key analogue).
    """
    fmt = fmt.lower()
    if fmt in _LAKE_FORMATS:
        raise NotImplementedError(
            f"{fmt} requires its connector jar on the Spark classpath, "
            "which this runtime does not ship")
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format: {fmt!r}")
    if fmt == "binaryfile":
        raise ValueError("binaryFile is a read-only source; write media "
                         "as a parquet binary column instead "
                         "(operators/multimodal.py)")
    if fmt == "csv":
        # symmetric with load_table's header default — otherwise a read
        # consumes the first data row of every part-file as a header
        options.setdefault("header", True)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode(mode).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "jdbc":
        writer.format("jdbc").option("url", path).save()
    else:
        getattr(writer, fmt)(path)
