"""Spans around public calls, attributed to Spark's own status store.

A span records name, layer, start, end, parent and run id. While a span
is open its name is the thread's Spark job group, so every job Spark
launches under it carries the name. ``flush`` drains the listener bus
and reads, for each closed span, the jobs of its group that were
submitted inside its window, and their stages from
``statusStore().lastStageAttempt``. Catalyst phase times come from the
``tracker()`` of the query executions the benchmark itself holds.

Nothing here touches the package: spans wrap calls from outside. With
tracing off, ``span`` yields without touching Spark at all.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = {
    # StageData accessor -> (metric, scale to s / bytes)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
}
SPARK_KEYS = ["jobs", "stages", "tasks", "catalyst_s", "job_wall_s",
              "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes"]


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._seen_jobs: set[int] = set()
        self.cost_s = 0.0  # time spent in the tracer itself

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time one call; ``attrs`` (a dict the body may extend) is kept."""
        if not self.enabled:
            yield attrs
            return
        c0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "layer": layer, "parent": parent["id"] if parent else None,
               "attrs": attrs, "catalyst_s": 0.0, "child_s": 0.0}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(name, name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        self.cost_s += t0 - c0
        try:
            yield attrs
        finally:
            c1 = time.perf_counter()
            rec["wall_s"] = c1 - t0
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                parent["child_s"] += rec["wall_s"]
                sc.setJobGroup(parent["name"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._pending.append(rec)
            self.cost_s += time.perf_counter() - c1

    def plan(self, df) -> None:
        """Plan ``df`` now and charge its Catalyst phases to the open span."""
        if not self.enabled:
            return
        c0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        it = qe.tracker().phases().values().iterator()
        total = 0
        while it.hasNext():
            total += it.next().durationMs()
        self._stack[-1]["catalyst_s"] += total / 1000.0
        self.cost_s += time.perf_counter() - c0

    def flush(self) -> None:
        """Attribute Spark jobs and stages to every span closed since last flush."""
        if not self.enabled or not self._pending:
            return
        c0 = time.perf_counter()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.spark.sparkContext.statusTracker()
        by_group: dict[str, list[int]] = {}
        for rec in self._pending:
            if rec["name"] not in by_group:
                ids = [j for j in tracker.getJobIdsForGroup(rec["name"])
                       if j not in self._seen_jobs]
                by_group[rec["name"]] = ids
            stats = dict.fromkeys(SPARK_KEYS, 0.0)
            stats["catalyst_s"] = rec["catalyst_s"]
            intervals = []
            lo, hi = rec["start"] * 1000 - 5, rec["end"] * 1000 + 5
            for j in by_group[rec["name"]]:
                if j in self._seen_jobs:
                    continue
                jd = store.job(j)
                sub = jd.submissionTime()
                t_sub = sub.get().getTime() if sub.isDefined() else None
                if t_sub is None or not (lo <= t_sub <= hi):
                    continue
                self._seen_jobs.add(j)
                done = jd.completionTime()
                t_end = done.get().getTime() if done.isDefined() else t_sub
                intervals.append((t_sub, t_end))
                stats["jobs"] += 1
                for sid in tracker.getJobInfo(j).stageIds:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage evicted from the store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += sd.numTasks()
                    for acc, (key, scale) in STAGE_FIELDS.items():
                        stats[key] += getattr(sd, acc)() * scale
            stats["job_wall_s"] = _union_ms(intervals) / 1000.0
            rec["spark"] = stats
        self._pending = []
        self.cost_s += time.perf_counter() - c0

    def dump(self, stream) -> None:
        for rec in self.spans:
            stream.write(json.dumps(rec, sort_keys=True) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total, reach = total + end - start, end
        elif end > reach:
            total, reach = total + end - reach, end
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: span wall minus its child spans."""
    out: dict[str, float] = {}
    for rec in spans:
        out[rec["layer"]] = out.get(rec["layer"], 0.0) + rec["wall_s"] - rec["child_s"]
    return out


def spark_totals(spans: list[dict]) -> dict[str, float]:
    """Spark counters summed over spans, plus the driver gap of top spans.

    Job groups are per span, so a job counts once: in the innermost span
    open when it was submitted. The driver gap is each top-level span's
    wall time minus the union of its own and its children's job walls.
    """
    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    for rec in spans:
        for k, v in rec.get("spark", {}).items():
            tot[k] += v
    top_wall = sum(r["wall_s"] for r in spans if r["parent"] is None)
    tot["driver_gap_s"] = top_wall - tot.pop("job_wall_s")
    return tot
