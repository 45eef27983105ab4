"""Outside-in tracing for the benchmark: spans recorded around the
calls the benchmark makes into each layer, Spark job tags, and stage
metrics read back from Spark's live status store.

Nothing here reaches into the package: a span is opened by the
benchmark's own code around a public call, the span's Spark jobs are
found through the job group the span sets, and their stage metrics come
from ``sc._jsc.sc().statusStore()``, which works with the UI disabled.
Spans are kept in memory and written once, at exit.
"""

from __future__ import annotations

import json
import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A metric name: a letter or digit first, then at most 63 letters,
# digits, '_', '.' or '-'.
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it,
    or None when that percentile would not lie above the median (below
    21 samples)."""
    ps = [p for p in range(51, 100) if n - math.ceil(n * p / 100) >= 10]
    return max(ps) if ps else None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(n * p / 100))."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100) - 1)]


def median(values: list[float]) -> float:
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str | None
    parent: int | None
    start: float
    end: float | None = None
    counts: dict = field(default_factory=dict)
    # jobs run under another group (a streaming query's run id) that the
    # caller attributes to this span
    extra_jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return (self.end or time.perf_counter()) - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its direct children
    cover (overlapping children are merged, so nothing is subtracted
    twice)."""
    kids = sorted(
        (max(s.start, span.start), min(s.end, span.end))
        for s in spans if s.parent == span.span_id and s.end is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.wall - covered


class Tracer:
    """Spans plus Spark job attribution. With ``enabled`` false every
    call is a cheap no-op apart from the clock, so the timed loop of an
    untraced run carries no tagging or status-store reads."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._ungrouped: set = set()
        if enabled:
            self._ungrouped = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(self._next, name, op_id, parent.span_id if parent else None,
                 time.perf_counter())
        self._next += 1
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(self._group(s), f"{op_id}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self._group(parent), f"{parent.op_id}:{parent.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc_t = sc.statusTracker()
            job_ids = list(sc_t.getJobIdsForGroup(self._group(s))) + s.extra_jobs
            if parent is None:
                # jobs run outside any group belong to the op that was
                # running
                free = set(sc_t.getJobIdsForGroup(None)) - self._ungrouped
                self._ungrouped |= free
                job_ids += sorted(free)
            s.counts.update(self.stage_metrics(job_ids))

    @staticmethod
    def _group(s: Span) -> str:
        return f"perfbench-{s.span_id}"

    def stage_metrics(self, job_ids: list[int]) -> dict:
        """Counts and times of the given jobs' stages, plus the task
        skew (max / median task run time) of the longest stage."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["skew"] = 0.0
        out["longest_stage_s"] = 0.0
        out["jobs"] = len(job_ids)
        quant = sc._gateway.new_array(jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        seen = set()
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in _seq(store.stageData(sid, False, jvm.java.util.ArrayList(),
                                               False, sc._gateway.new_array(jvm.double, 0))):
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    run_s = sd.executorRunTime() / 1e3
                    out["executor_run_s"] += run_s
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["input_bytes"] += sd.inputBytes()
                    out["input_records"] += sd.inputRecords()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if run_s > out["longest_stage_s"]:
                        out["longest_stage_s"] = run_s
                        out["skew"] = _stage_skew(store, sid, sd.attemptId(), quant)
        return out

    def query_jobs(self, query) -> list[int]:
        """Jobs a streaming query ran (Spark groups them by its run id)."""
        if not self.enabled:
            return []
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "span": s.span_id, "name": s.name, "op": s.op_id,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self_time(s, self.spans), **s.counts,
                }) + "\n")


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _stage_skew(store, stage_id: int, attempt: int, quant) -> float:
    """max / median task run time of one stage attempt."""
    summary = store.taskSummary(stage_id, attempt, quant)
    if summary.isEmpty():
        return 0.0
    run = summary.get().executorRunTime()
    med, top = run.apply(0), run.apply(1)
    return top / med if med > 0 else 0.0
