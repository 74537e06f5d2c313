"""In-memory span recorder and per-op Spark counters.

Spans are recorded only around calls the benchmark makes into the
package; nothing inside the package is instrumented. Spark counters
come from Spark's own status store through a job group per op, which
works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it that child spans cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.span_id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return {
        s.span_id: s.duration - _covered(children.get(s.span_id, []))
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body.

    ``span`` is a context manager; nesting sets the parent. ``op_id``
    groups the spans of one benchmark operation.
    """

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def span(self, name: str, op_id: int = 0, **attrs):
        return _SpanCtx(self, name, op_id, attrs)

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [dict(asdict(s), self_s=st[s.span_id]) for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_json(), f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int, attrs: dict):
        self.tracer, self.name, self.op_id, self.attrs = tracer, name, op_id, attrs
        self.span: Span | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            op_id = self.op_id or (parent.op_id if parent else 0)
            self.span = Span(
                len(t.spans), self.name, op_id,
                parent.span_id if parent else None, t.clock(), attrs=dict(self.attrs),
            )
            t.spans.append(self.span)
            t._stack.append(self.span)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.span.end = self.tracer.clock()
            self.tracer._stack.pop()
        return False


class SparkCounters:
    """Spark's own counters for the jobs one op ran.

    ``begin(group)`` tags every job the calling thread starts with a
    job group; ``collect(group)`` reads the jobs of that group back from
    the status store (``lastStageAttempt`` per stage: ``stageList``
    fails through py4j), counting only stages that ran. Waits for the
    listener bus first so the final task metrics of finished stages are
    in the store.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        stage_ids: set[int] = set()
        for j in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if str(st.status()) == "SKIPPED":  # its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
        return out
