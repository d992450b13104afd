"""BENCH harness: run the engine's headline queries and print ONE JSON line.

Config via env:
- ``SPARK_GRAFT_SF_DIR``  input dir (default /root/testdata/sf0.1)
- ``SPARK_GRAFT_CPUS``    local[] parallelism (default: all cores)
- ``SPARK_GRAFT_BENCH_REPS``  timed reps per query (default 3, median)

Output: ``{"metric": "t2_suite_seconds", "value": <sum of per-query
medians>, "unit": "sec", "queries": {...}, "sf": ...}``
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


MAX_LINE = 1900  # whole line must fit in the driver's ~2000-char tail


def bench_pipeline(spark, sf_dir: str) -> tuple[float, dict]:
    """Time ONE end-to-end `build_training_corpus` run (quality gate →
    collapse dedup → decontamination → mixing → token-balanced shard
    write) on the sf documents fixture — the composed product, regression-
    gated per-round so an operator change that slows the composition is
    caught even when each stage's own query stays fast."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from datum_spark.pipelines import build_training_corpus
    from datum_spark.tierb import load

    docs = load(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") < 100)
    corpus = docs.filter(F.col("doc_id") >= 100)
    out = tempfile.mkdtemp(prefix="bench_pipeline_")
    try:
        t0 = time.perf_counter()
        _, report = build_training_corpus(
            corpus, eval_df, os.path.join(out, "shards"), n_shards=8,
            contamination_ngram=5)
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return round(dt, 3), report


def build_stdout_line(short: dict[str, float], total: float, sf_val,
                      load_pre: float, load_post: float,
                      reps: int, extra: dict | None = None) -> str:
    """The ONE driver-parsed JSON line, guaranteed under MAX_LINE chars:
    if the query dict is too large, the FASTEST entries are elided until
    the line fits (``queries_elided`` counts them); error entries (-1.0)
    are never elided.  Full detail always lands in the per-config
    ``BENCH_FULL_c{cpus}_sf{sf}.json``."""
    def render(q: dict[str, float], elided: int) -> str:
        payload = {
            "metric": "t2_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": q,
            "sf": sf_val,
            # box context so rounds can tell load drift from regression
            "load_pre": load_pre,
            "load_post": load_post,
            "reps": reps,
        }
        payload.update(extra or {})
        if elided:
            payload["queries_elided"] = elided
        return json.dumps(payload, separators=(",", ":")) + "\n"

    line = render(short, 0)
    if len(line) > MAX_LINE:
        # errors (-1.0) sort first so they are never elided
        keep = dict(sorted(
            short.items(),
            key=lambda kv: -(kv[1] if kv[1] >= 0 else float("inf"))))
        while len(render(keep, len(short) - len(keep))) > MAX_LINE and keep:
            if keep[next(reversed(keep))] < 0:
                break        # only error entries remain — never elide those
            keep.popitem()   # drops the current fastest entry
        line = render(keep, len(short) - len(keep))
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    # The contract is ONE JSON line on stdout.  The JVM writes its startup
    # banner ("Setting default log level...", ivy resolution, GC warnings)
    # straight to fd 1, bypassing sys.stdout — so save the real stdout and
    # point fd 1 at stderr for the duration of the run; only the final JSON
    # goes to the saved fd.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = os.fdopen(os.dup(2), "w")

    # pre-run load: measured BEFORE the suite so it reflects competing
    # box activity, not the bench's own 32-way parallelism
    try:
        load_pre = round(os.getloadavg()[0], 1)
    except OSError:
        load_pre = -1.0

    import __spark_entry__ as entry_mod
    from datum_spark.session import (codegen_compiles, default_parallelism,
                                     get_session)

    spark = get_session(app_name="datum_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    from datum_spark.util import clear_operator_caches

    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}    # [min, max] of the timed reps
    # classes compiled during the timed reps: nonzero flags an entry
    # whose plans escape the codegen cache
    compiles: dict[str, int] = {}
    for name, fn in qs.items():
        # per-entry ISOLATION (r11): drop the operator cache ring and
        # any catalog-cached frames left by the PREVIOUS entry before
        # timing this one.  Without it, entries measure their
        # neighbors: a 240-entry suite leaves persisted frames and
        # broadcast state whose eviction/GC lands on whoever runs
        # next — the r9/r10 "load positioning" phantom movers
        # (x153/x196) and a 2× swing on x202 depending on dict order.
        # The warm-up run below still warms everything the entry
        # itself owns (JIT/codegen, file listing, its own caches).
        clear_operator_caches()
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001
            pass
        # warm-up run: JIT/codegen caches, file listing, broadcast build
        try:
            fn(spark, sf_dir).collect()
        except Exception as exc:  # noqa: BLE001
            timings[name] = -1.0
            print(f"# {name} ERROR {str(exc)[:120]}", file=sys.stderr)
            continue
        samples = []
        c0 = codegen_compiles(spark)
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(samples), 4)
        spread[name] = [round(min(samples), 4), round(max(samples), 4)]
        compiles[name] = codegen_compiles(spark) - c0

    # composed-pipeline regression gate (one run; separate metric so the
    # per-query suite total stays comparable across rounds)
    try:
        pipeline_sec, pipeline_report = bench_pipeline(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        pipeline_sec, pipeline_report = -1.0, {"error": str(exc)[:300]}
        print(f"# pipeline ERROR {str(exc)[:120]}", file=sys.stderr)

    ok = {k: v for k, v in timings.items() if v >= 0}
    total = round(sum(ok.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The driver keeps only the LAST ~2000 chars of output and parses the
    # JSON line out of that buffer (BENCH_r01–r03 all recorded a 2000-char
    # "tail" cut mid-line and "parsed": null).  A 96-query dict with full
    # names is ~2.7 KB and can never fit, so the stdout line uses the
    # unambiguous qNN/xNN name prefix and 1-decimal timings; past ~170
    # queries even that outgrows the buffer, so the FASTEST entries are
    # elided until the line fits (queries_elided counts them; error
    # entries are never elided) — the elided tail is exactly the set
    # least able to threaten a 2× gate.  The
    # full-name 4-decimal detail for EVERY query goes to a per-config
    # BENCH_FULL_c{cpus}_sf{sf}.json next to this script, so runs at
    # different parallelism or scale never overwrite each other.
    # json.dumps compact separators keep every byte.
    short = {k.split("_", 1)[0]: round(v, 1) for k, v in timings.items()}
    cpus = default_parallelism()
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             f"BENCH_FULL_c{cpus}_sf{sf}.json")
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:
        load1 = load5 = load15 = -1.0
    line = build_stdout_line(short, total, sf_val, load_pre,
                             round(load1, 1), reps,
                             extra={"pipeline_sec": pipeline_sec})
    with open(full_path, "w") as fh:
        json.dump({
            "metric": "t2_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "spread": spread,
            "codegen_compiles": compiles,
            "sf": sf_val,
            "n_queries": len(timings),
            "reps": reps,
            "pipeline_sec": pipeline_sec,
            "pipeline_report": pipeline_report,
            # shared-box context: r2→r3 showed a uniform 1.5× drift that
            # was load, not regression — record load so rounds can tell
            "load_pre_run": load_pre,
            "loadavg": [round(load1, 2), round(load5, 2), round(load15, 2)],
            # the local[] parallelism the run used, not the box's cores
            "cpus": cpus,
        }, fh, indent=1)
        fh.write("\n")
    os.write(real_stdout_fd, line.encode())
    return 0 if len(ok) == len(timings) else 1


if __name__ == "__main__":
    sys.exit(main())
