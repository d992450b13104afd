"""Spans kept in memory, plus the Spark jobs each operation launched.

The benchmark opens a span around each call it makes into a layer of the
program (``tierb.plan``, ``table.query``, ``driver.collect`` ...).  After the
operation returns, the jobs Spark ran for it are read from Spark's status
store (attributed through the job group set around the operation) and added
as ``spark.job`` child spans, so a layer's self time is its span time minus
the time its children cover.  Nothing here runs in an untraced run.
"""

from __future__ import annotations

import contextlib
import time

# Figures summed over the completed stage attempts of an operation's jobs.
STAGE_FIGURES = ("tasks", "run_s", "cpu_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "input_bytes", "output_bytes",
                 "spill_bytes", "gc_s", "failed_tasks")


class StatusStore:
    """Job and stage figures for one job group, read from Spark's
    ``AppStatusStore``, which is there with the UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gateway = self.sc._gateway
        self._no_task_status = gateway.jvm.java.util.ArrayList()
        self._no_quantiles = gateway.new_array(gateway.jvm.double, 0)

    def jobs(self, group: str) -> list[dict]:
        # the listener bus is asynchronous: drain it so the store holds
        # the end of every job the operation ran
        self._bus.waitUntilEmpty()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            if not job.completionTime().isDefined():
                continue
            stages = {"stages": 0, "retried_stages": 0}
            stages.update(dict.fromkeys(STAGE_FIGURES, 0))
            ids = job.stageIds()
            for i in range(ids.size()):
                attempts = self._store.stageData(
                    ids.apply(i), False, self._no_task_status, False,
                    self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() == "SKIPPED":
                        continue
                    stages["stages"] += 1
                    stages["retried_stages"] += int(s.attemptId() > 0)
                    stages["tasks"] += s.numTasks()
                    stages["run_s"] += s.executorRunTime() / 1e3
                    stages["cpu_s"] += s.executorCpuTime() / 1e9
                    stages["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    stages["shuffle_read_bytes"] += s.shuffleReadBytes()
                    stages["input_bytes"] += s.inputBytes()
                    stages["output_bytes"] += s.outputBytes()
                    stages["spill_bytes"] += (s.memoryBytesSpilled()
                                              + s.diskBytesSpilled())
                    stages["gc_s"] += s.jvmGcTime() / 1e3
                    stages["failed_tasks"] += s.numFailedTasks()
            out.append({"job": jid,
                        "start": job.submissionTime().get().getTime() / 1e3,
                        "end": job.completionTime().get().getTime() / 1e3,
                        **stages})
        return out


class Tracer:
    """Spans of one run: name, start, end, parent span and operation id."""

    def __init__(self, spark):
        self.spark = spark
        self.store = StatusStore(spark)
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []

    def _open(self, name: str, op: int) -> dict:
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._open(name, self.spans[self._stack[0]]["op"])
        try:
            yield rec
        finally:
            self._close(rec)

    @contextlib.contextmanager
    def operation(self, op: int, kind: str):
        """Root span of one operation; its Spark jobs become child spans
        of the innermost span open when each job was submitted."""
        group = f"perfbench-op-{op}"
        self.spark.sparkContext.setJobGroup(group, kind, False)
        first = len(self.spans)
        rec = self._open("op." + kind, op)
        try:
            yield rec
        finally:
            self._close(rec)
            t0 = time.perf_counter()
            self.spark.sparkContext.setJobGroup("perfbench-idle", "", False)
            own = self.spans[first:]
            for job in self.store.jobs(group):
                holders = [s for s in own
                           if s["start"] <= job["start"] <= s["end"]]
                parent = max(holders, key=lambda s: s["start"]) if holders \
                    else rec
                job.update(op=op, parent=parent["id"])
                self.jobs.append(job)
                self.spans.append({"id": len(self.spans), "name": "spark.job",
                                   "op": op, "parent": parent["id"],
                                   "start": job["start"], "end": job["end"]})
            self.bookkeeping_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Total self time per layer: each span's duration minus the union
        of its children's intervals clipped to it.  The layer is the part
        of the span name before the first dot."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(max(c["start"], s["start"]),
                               min(c["end"], s["end"]))
                              for c in children.get(s["id"], [])])
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(
                0.0, s["end"] - s["start"] - covered)
        return out

    def op_job_figures(self, op: int, start: float, end: float) -> dict:
        """Job count, stage figures, the operation time not covered by any
        job (``gap_s``) and the time after its last job (``collect_s``)."""
        jobs = [j for j in self.jobs if j["op"] == op]
        fig = {"jobs": len(jobs), "stages": 0, "retried_stages": 0}
        fig.update(dict.fromkeys(STAGE_FIGURES, 0))
        for j in jobs:
            for k in ("stages", "retried_stages", *STAGE_FIGURES):
                fig[k] += j[k]
        busy = _union([(max(j["start"], start), min(j["end"], end))
                       for j in jobs])
        fig["gap_s"] = max(0.0, end - start - busy)
        last = max((j["end"] for j in jobs), default=start)
        fig["collect_s"] = max(0.0, end - max(last, start))
        return fig


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
