"""Spans around public calls and the Spark counters behind them.

A span records name, start, end and parent, and carries the run id
shared by every span of one benchmark run.  Spans stay in memory; the
caller writes them out when the run ends.

While a span is open its own Spark job group is set, so every job the
call starts is attributed to exactly one span (the innermost one).  The
per-layer Spark counters are then read back from the JVM status store:
job and stage lists, executor run and CPU time, shuffle bytes, spill and
the task-time distribution of each stage.  Reading them starts no Spark
job, and a disabled tracer touches no Spark state at all.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

from stats import ratio

MB = 1024.0 * 1024.0
_EMPTY = {
    "jobs": 0,
    "stages": 0,
    "executor_run_s": 0.0,
    "executor_cpu_s": 0.0,
    "shuffle_write_mb": 0.0,
    "shuffle_read_mb": 0.0,
    "spill_mb": 0.0,
    "task_max_s": 0.0,
    "task_median_s": 0.0,
    "task_skew": 0.0,
}


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        # jobs the harness itself adds inside spans, and the frames it
        # materialised, keyed by span name (read by the waste counters)
        self.added_jobs = 0
        self.outputs: dict = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "group": f"{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["group"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def named(self, prefix: str) -> list[dict]:
        """Closed spans whose name is ``prefix`` or starts with ``prefix.``."""
        return [
            s
            for s in self.spans
            if s["end"] is not None
            and (s["name"] == prefix or s["name"].startswith(prefix + "."))
        ]

    def self_s(self, span: dict) -> float:
        return self_time(span, [s for s in self.spans if s["parent"] == span["id"]])

    def counters(self, spans: list[dict]) -> dict:
        """Spark counters summed over the jobs of ``spans``' own groups."""
        return spark_counters(self.sc, [s["group"] for s in spans])


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_time(span: dict, children: list[dict]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once; parts of a child outside the
    parent's interval are not subtracted)."""
    lo, hi = span["start"], span["end"]
    iv = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in children
        if c["end"] is not None and c["end"] > lo and c["start"] < hi
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


def task_skew(stage_max: list[float], stage_median: list[float]) -> float:
    """Summed slowest-task time over summed median-task time across the
    stages of a layer: 1.0 when every stage's tasks are even, large when
    stragglers (hot keys) set the layer's wall time.  0.0 when the layer
    ran no multi-task stage."""
    return ratio(sum(stage_max), sum(stage_median))


def spark_counters(sc, groups: list[str]) -> dict:
    out = dict(_EMPTY)
    if not groups:
        return out
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    gw = sc._gateway
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
    maxes, medians = [], []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JError:
            continue  # skipped stage: its shuffle output was reused
        if st.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        if st.numCompleteTasks() >= 2:
            dist = store.taskSummary(sid, st.attemptId(), quant)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                medians.append(rt.apply(0) / 1e3)
                maxes.append(rt.apply(1) / 1e3)
    out["task_max_s"] = sum(maxes)
    out["task_median_s"] = sum(medians)
    out["task_skew"] = task_skew(maxes, medians)
    return out
