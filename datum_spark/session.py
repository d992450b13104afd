"""SparkSession factory tuned for the engine.

Single place where session-level performance policy lives, so tests, the
driver entry point and ``bench.py`` all get identical, scale-aware settings:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- shuffle partitions sized to the local core count rather than the 200
  default (on a real cluster this would be ~2-3× total executor cores —
  callers can override via ``spark.sql.shuffle.partitions``);
- UTC session timezone (cross-engine determinism vs. the DuckDB oracle);
- Arrow enabled for the Python boundary (pandas UDFs, createDataFrame);
- a generated-code cache that holds the engine's whole plan set.  Spark
  keeps compiled whole-stage/projection classes in one JVM-wide LRU cache
  of ``spark.sql.codegen.cache.maxEntries`` classes (default 100).  One
  corpus-pipeline run generates ~110–130 distinct classes and a perfbench
  ``query_mix`` pass ~420, so at 100 the LRU evicts each class before
  its next use and a warm session recompiled every one of them (~6 ms
  each, ~15% of a warm ``query_mix`` pass).  The class bodies are
  byte-identical run to run: the cache was too small, not missed.  Class
  names leave out the whole-stage codegen stage id, so one fragment
  planned under another id is still the same cached class.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: keep row-group/page-level filter pushdown on (default,
    # but pinned here because the correctness of limit/filter pushdown in
    # Table.read depends on it).
    "spark.sql.parquet.filterPushdown": "true",
    # The driver-generated `events` table stores TIMESTAMP(NANOS), which
    # Spark's vectorized Parquet reader rejects outright; read nanos as
    # BIGINT and convert to microsecond timestamps JVM-side at load
    # (sources.registry.read_parquet_normalized) — keeps the scan
    # distributed instead of bouncing through a driver-side Arrow load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # write micros (not legacy INT96) so other engines (DuckDB/pyarrow)
    # read our timestamps without surprises
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    # JVM-wide LRU of compiled generated classes (static: read once, when
    # the first class compiles).  Measured at sf0.01, 4 cores: one
    # perfbench query_mix pass generates ~420 distinct classes and one
    # pass over the 275-entry suite 3,577 (JVM heap ~490 MB, metaspace
    # ~245 MB after it); the default 100 thrashes on both.  Sized to hold
    # the whole suite's set.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # The cache keys on the class body, which names its whole-stage
    # codegen stage id unless this is off; AQE numbers stages in the
    # order they are planned, so one plan fragment under another id
    # would compile again as a "new" class.
    "spark.sql.codegen.useIdInClassName": "false",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compile-time histogram count); a cache hit
    compiles nothing, so a delta of 0 over a warm call means its plans
    all came from the codegen cache."""
    metrics = getattr(spark._jvm.org.apache.spark.metrics.source,
                      "CodegenMetrics$").__getattr__("MODULE$")
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def cluster_profile(executors: int = 1000, cores_per_executor: int = 4,
                    executor_memory_gb: int = 16,
                    data_tb: float = 100.0) -> dict[str, str]:
    """Deployment config for a real multi-executor cluster — the
    executable form of SCALE.md §6, so the 100 TB posture is one
    ``get_session(extra_conf=cluster_profile(...))`` (or
    ``connect(..., conf=...)``) away instead of folklore.

    Policy encoded (each line is a measured or documented Spark
    behavior, not a guess):

    - shuffle partitions ≈ 3× total cores (AQE coalescing makes
      over-partitioning cheap; under-partitioning spills), floored at
      2× and capped so the average post-shuffle partition stays near
      the 128 MB advisory target for the stated data size;
    - ``maxPartitionBytes`` 256 MB: scan tasks sized so a 100 TB scan
      is ~400k tasks, not 800k-task scheduler pressure;
    - AQE advisory partition 128 MB + skew-join split on (the engine's
      joins rely on it for hot keys — SCALE.md §4);
    - broadcast threshold 64 MB: every TPC-H-shaped dim (region,
      nation, part at reasonable SF) broadcasts; fact-fact joins never
      accidentally do;
    - shuffle compression + io encryption left at cluster defaults
      (site policy, not engine policy).

    Memory sizing is the CALLER's contract (``--executor-memory``);
    this dict only sets plan-shaping knobs, so it composes with any
    resource manager (YARN/K8s/standalone).
    """
    total_cores = max(1, executors * cores_per_executor)
    # ~3x cores, but never so few that a partition of the stated data
    # exceeds ~1 GB pre-AQE, and never more than 200k (scheduler sanity)
    by_cores = 3 * total_cores
    by_size = int(data_tb * (1 << 40) / (1 << 30))    # 1 GB partitions
    partitions = min(max(by_cores, 2 * total_cores, by_size), 200_000)
    return {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(128 * 1024 * 1024),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # dynamic allocation bounds match the declared fleet
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_memory_gb}g",
    }


def get_session(app_name: str = "datum_spark", master: str | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    # Python workers (pandas UDF / mapInPandas) unpickle functions by module
    # reference; make the package importable in them regardless of where the
    # driver script runs from.  On a real cluster this would be --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root)
    cores = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")
    conf = dict(_DEFAULTS)
    conf.setdefault("spark.sql.shuffle.partitions", str(cores))
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
