"""Run one workload of the datum-spark benchmark and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5

Run from the root of a checkout.  One process is one run: it generates the
workload's inputs from ``--seed``, starts a Spark session at
``local[<cores>]``, warms up, then runs timed passes with one client in a
closed loop, checking every output.  The number of timed passes is
``--seconds`` over the workload's nominal pass length, so it depends on
the arguments alone and a faster program measures the same work.
Everything it writes lives in a fresh directory inside the checkout,
deleted at exit.

The last line of standard output is the result::

    {"correct": true, "attempted": 96, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
passes with spans and Spark's status store read after each operation, and
reports the per-layer metrics instead.  The line before it holds the run
stamp and every figure of the run; a traced run also writes its spans to
standard error.  The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "datum_crud")

# Median call time of each layer entry point, from the traced spans.
LAYER_CALLS = ("tierb.plan", "extensions.plan", "table.df", "table.query",
               "table.write", "table.upsert", "database.execute",
               "database.create_view", "pipelines.build_training_corpus")
SELF_LAYERS = ("op", "tierb", "extensions", "table", "database",
               "pipelines", "driver", "spark")


def _process_age() -> float:
    """Seconds since this process started (kernel ticks, 10 ms)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _reset_peak_rss(spark, jvm_pid: int) -> None:
    """Start the timed passes from collected heaps, with the peak resident
    set of both processes reset to their current size, so
    ``peak_rss_mb`` is the timed operations' own peak and not the
    warm-up's."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _result_rows(result) -> int:
    if isinstance(result, tuple) and len(result) == 2 and \
            isinstance(result[1], list):
        return len(result[1])
    return len(result) if isinstance(result, list) else 0


def _start_session(workdir: str):
    from datum_spark.session import get_session

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    # Python's and every JVM's scratch files, Spark's block manager, the
    # SQL warehouse and Derby all go under the run directory; no JVM
    # keeps its perf-counter file in the system temp directory.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={os.path.join(workdir, 'derby')} "
        "-XX:+PerfDisableSharedMem")
    tempfile.tempdir = None
    spark = get_session(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()          # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Runner:
    def __init__(self, spark, workload, tracer, seed: int):
        from datum_spark.util import clear_operator_caches

        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.order = random.Random(seed)
        self.clear_operator_caches = clear_operator_caches
        self.records: list[dict] = []
        self.attempted = 0
        self.errors: list[str] = []

    def _execute(self, op, tr, op_id: int) -> tuple:
        """Run one operation and check its output: (result, error, wall
        start, seconds).  Only the call itself is inside the timer."""
        result, err = None, None
        scope = tr.operation(op_id, op.kind) if tr else \
            contextlib.nullcontext()
        with scope:
            start = time.time()
            t0 = time.perf_counter()
            try:
                result = op.run(tr)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                traceback.print_exc()
                err = f"{type(exc).__name__}: {exc}"
            dt = time.perf_counter() - t0
        if err is None:
            try:
                err = op.check(result)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                traceback.print_exc()
                err = f"check raised {type(exc).__name__}: {exc}"
        return result, err, start, dt

    def _count(self, op, err) -> None:
        self.attempted += 1
        if err is not None:
            self.errors.append(f"{op.kind}: {err}"[:500])
            print(f"perfbench: {op.kind} failed: {err[:500]}",
                  file=sys.stderr)

    def run_pass(self, timed: bool = True) -> float:
        """One pass in a fresh seed-shuffled order; returns the summed
        operation time."""
        ops = self.workload.pass_ops()
        self.order.shuffle(ops)
        total = 0.0
        for op in ops:
            if op.clear_caches:
                # each operation measures its own work, not its neighbours'
                self.clear_operator_caches()
                self.spark.catalog.clearCache()
            op_id = len(self.records)
            result, err, start, dt = self._execute(
                op, self.tracer if timed else None, op_id)
            self._count(op, err)
            total += dt
            if timed:
                self.records.append({
                    "op": op_id, "kind": op.kind, "group": op.group,
                    "seconds": dt, "start": start, "end": start + dt,
                    "rows": _result_rows(result),
                    "user_bytes": op.user_bytes, "docs": op.docs})
        return total


def _end_to_end(records, setup_s: float) -> dict:
    secs = [r["seconds"] for r in records]
    return {"setup_s": (setup_s, "s"),
            "ops_per_s": (len(secs) / sum(secs), "op/s")}


def _detail(records, runner, workload, peak_mb: float) -> dict:
    """The end-to-end figures that are not bounded, each as (value, unit):
    the workload-specific ones; the median latency, a single operation's
    time and so the noisiest figure from run to run; and the peak RSS,
    which varies ~20% between runs as the JVM sizes its heap."""
    secs = [r["seconds"] for r in records]
    reads = [r["seconds"] for r in records if r["group"] == "read"]
    writes = [r["seconds"] for r in records if r["group"] == "write"]
    m = {
        "latency_p50_s": (statistics.median(secs), "s"),
        "error_rate": (len(runner.errors) / max(1, runner.attempted),
                       "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    if len(secs) >= 100:
        m["latency_p90_s"] = (statistics.quantiles(secs, n=10)[-1], "s")
    if reads and writes:
        m["read_p50_s"] = (_median(reads), "s")
        m["write_p50_s"] = (_median(writes), "s")
    out = {"ops": len(secs),
           "op_p50_s": {k: _median(r["seconds"] for r in records
                                   if r["kind"] == k)
                        for k in sorted({r["kind"] for r in records})}}
    if workload.pipeline is not None:
        m["docs_per_s"] = (_median(r["docs"] / r["seconds"] for r in records
                                   if r["docs"]), "doc/s")
        out["pipeline_report"] = workload.pipeline.reports[0]
    if workload.crud is not None:
        out["storage"] = workload.crud.storage()
        m["storage_bytes_per_user_byte"] = \
            (out["storage"]["bytes_per_user_byte"], "ratio")
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
    return out


def _per_layer(records, tracer, detail) -> dict:
    n = len(records)
    figs = [tracer.op_job_figures(r["op"], r["start"], r["end"])
            for r in records]

    def mean(key):
        return sum(f[key] for f in figs) / n

    calls: dict[str, list[float]] = {}
    for s in tracer.spans:
        calls.setdefault(s["name"], []).append(s["end"] - s["start"])
    selfs = tracer.self_times()
    m = {
        "memory.peak_rss_mb": (detail["metrics"]["peak_rss_mb"]["value"],
                               "MB"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.executor_run_s": (mean("run_s"), "s"),
        "spark.executor_cpu_s": (mean("cpu_s"), "s"),
        "spark.shuffle_write_bytes": (mean("shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (mean("shuffle_read_bytes"), "B"),
        "spark.input_bytes": (mean("input_bytes"), "B"),
        "spark.output_bytes": (mean("output_bytes"), "B"),
        "spark.spill_bytes": (mean("spill_bytes"), "B"),
        "spark.gc_s": (mean("gc_s"), "s"),
        "spark.failed_tasks": (sum(f["failed_tasks"] for f in figs),
                               "count"),
        "spark.retried_stages": (sum(f["retried_stages"] for f in figs),
                                 "count"),
        "driver.gap_s": (_median(f["gap_s"] for f in figs), "s"),
        "driver.collect_s": (_median(f["collect_s"] for f in figs), "s"),
        "driver.result_rows": (sum(r["rows"] for r in records) / n, "count"),
        "table.count_s": (_median(r["seconds"] for r in records
                                  if r["kind"] == "count"), "s"),
    }
    for name in LAYER_CALLS:
        m[name + "_s"] = (_median(calls.get(name, [])), "s")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = (selfs.get(layer, 0.0) / n, "s")
    storage = detail.get("storage", {})
    written = sum(r["user_bytes"] for r in records)
    out_bytes = sum(f["output_bytes"] for f, r in zip(figs, records)
                    if r["user_bytes"])
    m["storage.files"] = (storage.get("files", 0), "count")
    m["storage.bytes_on_disk"] = (storage.get("bytes_on_disk", 0), "B")
    m["storage.write_amp"] = (out_bytes / written if written else 0.0,
                              "ratio")
    # counts from the pipeline's own report, fixed by the seed: a change
    # means the pipeline's output changed
    report = detail.get("pipeline_report", {})
    m["pipelines.rows_deduped_ratio"] = (
        report["rows_deduped"] / report["rows_quality"] if report else 0.0,
        "ratio")
    m["pipelines.lsh_buckets_skipped"] = (
        report.get("lsh_buckets_skipped", 0), "count")
    secs = [r["seconds"] for r in records]
    m["trace.latency_p50_s"] = (statistics.median(secs), "s")
    m["trace.ops_per_s"] = (n / sum(secs), "op/s")
    m["trace.bookkeeping_s"] = (tracer.bookkeeping_s / n, "s")
    return m


def run(args, workdir: str) -> tuple[dict, dict]:
    import workloads
    from spans import Tracer

    from datum_spark.session import default_parallelism

    load_before, steal_before = os.getloadavg(), _steal_s()
    phases = {"start": _process_age()}
    spark = _start_session(workdir)
    try:
        phases["session"] = _process_age()
        ctx = workloads.Context(spark, args.seed, workdir)
        workload = getattr(workloads, args.workload)(ctx)
        phases["inputs"] = _process_age()
        tracer = Tracer(spark) if args.trace else None
        runner = Runner(spark, workload, tracer, args.seed)
        # one untimed pass, run like a timed one, so the JVM has compiled
        # the hot paths and every cache is filled
        warmup_pass_s = runner.run_pass(timed=False)
        setup_s = phases["warmup"] = _process_age()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        _reset_peak_rss(spark, jvm_pid)
        passes = max(1, round(args.seconds / workload.pass_s))
        pass_s = [runner.run_pass() for _ in range(passes)]
        if workload.crud is not None:
            runner.errors += workload.crud.final_check()
        records = runner.records
        peak = _peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm_pid)
        detail = _detail(records, runner, workload, peak)
        if tracer is None:
            metrics = _end_to_end(records, setup_s)
        else:
            metrics = _per_layer(records, tracer, detail)
            print(json.dumps({"spans": tracer.spans, "jobs": tracer.jobs}),
                  file=sys.stderr)
        stamp = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "pass_s": pass_s,
            "parallelism": default_parallelism(),
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "cpu_steal_s": _steal_s() - steal_before,
            "spark": spark.version, "python": platform.python_version(),
            "setup_phases_s": phases,
            "warmup_pass_s": warmup_pass_s,
        }
    finally:
        _stop_session(spark)
    result = {
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": len(runner.errors),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, {"stamp": stamp, "detail": detail,
                    "errors": runner.errors[:20]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import datum_spark  # noqa: F401
        import workloads  # noqa: F401 - loads the oracle's normalize
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # SparkContext parallelism: every core this process may use
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The JVM writes its banner to fd 1; keep it off the result stream.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    workdir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        result, detail = run(args, workdir)
    except Exception:  # noqa: BLE001 - report and exit nonzero
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    os.write(real_stdout, (json.dumps({"perfbench": detail}) + "\n"
                           + json.dumps(result) + "\n").encode())
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
