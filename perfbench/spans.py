"""Spans around layer calls, with the Spark counters of each span.

A span is a named interval (``<layer>.<step>``) with a start, an end, a
parent span and a pass id. Entering a span sets a Spark job group of its
own, so every job the span launches, and every stage of those jobs, is
attributed to it. Counters are read from the application status store
(``statusStore().stageList``), which Spark keeps even with the UI
disabled. Spans live in memory until ``Tracer.write`` dumps them.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Per-stage counters summed into every span (Spark's StageData fields).
STAGE_COUNTERS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "failed_tasks": "numFailedTasks",
}


@dataclass
class Span:
    span_id: int
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one run. ``enabled=False`` makes ``span`` a
    plain timer-free no-op, so untraced passes run the same code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()

    def _group(self, span: Span | None) -> str:
        return f"perfbench-{span.span_id}" if span else ""

    @contextmanager
    def span(self, name: str, pass_id: int):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, pass_id, parent.span_id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sc.setJobGroup(self._group(parent), parent.name if parent else "")

    def collect(self) -> None:
        """Attach the stage counters of finished jobs to their spans.
        Called after each pass: the status store keeps a bounded number
        of jobs and stages, so counters are read before they age out."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_id = {self._group(s): s for s in self.spans}
        stage_owner: dict[int, Span] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            group = job.jobGroup()
            sp = by_id.get(group.get()) if group.isDefined() else None
            if sp is None or jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            sp.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                # a reused shuffle stage belongs to the first job that ran it
                if sid not in stage_owner or stage_owner[sid].span_id > sp.span_id:
                    stage_owner[sid] = sp
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            sp = stage_owner.get(sid)
            if sp is None or sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            for key, getter in STAGE_COUNTERS.items():
                sp.counters[key] = sp.counters.get(key, 0) + getattr(st, getter)()

    def layer_totals(self, pass_ids: set[int]) -> dict[str, dict[str, float]]:
        """Per layer: summed wall of its top-level spans, summed counters
        of all its spans, job count, over the given passes."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans:
            if sp.pass_id not in pass_ids:
                continue
            tot = out[sp.layer]
            parent = self.spans[sp.parent] if sp.parent is not None else None
            if parent is None or parent.layer != sp.layer:
                tot["wall_s"] += sp.wall_s
            tot["jobs"] += sp.jobs
            for k, v in sp.counters.items():
                tot[k] += v
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp), sort_keys=True) + "\n")
