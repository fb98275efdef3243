"""Measurement primitives for the benchmark: percentiles, spans with
self time, and Spark job/stage deltas read from the driver's own status
stores over py4j (no UI, no jar).

Everything here is measured from outside the engine: the benchmark
wraps calls into the engine's public functions and reads
``SparkContext.statusTracker`` and ``AppStatusStore`` afterwards.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


# -- percentiles --------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest of the percentiles 50/90/99/99.9 that leaves at least
    ``beyond`` of ``n`` samples above it, or None when even the median
    does not."""
    best = None
    for q in (50, 90, 99, 99.9):
        if n - max(1, math.ceil(q / 100.0 * n)) >= beyond:
            best = q
    return best


def summarize(values: list[float]) -> dict:
    """Median, the highest percentile with >= 10 samples beyond it, and
    the sample count of one timing series."""
    q = tail_percentile(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "tail_q": q,
        "tail": percentile(values, q) if q is not None else None,
    }


def op_p50_s(ops: list[dict]) -> float:
    """Median latency ``s`` of each query's ops (ops without a
    ``query`` form one kind), averaged over the queries: a median
    pooled over queries of unlike cost would jump between them from
    run to run."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.get("query", ""), []).append(o["s"])
    return statistics.fmean(statistics.median(v) for v in by_kind.values())


# -- spans -------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span in Trace.spans
    op: str
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Trace:
    """In-memory span store; written out once when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            op: str, **attrs) -> int:
        self.spans.append(Span(name, start, end, parent, op, attrs))
        return len(self.spans) - 1

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == idx and c.end > sp.start and c.start < sp.end
        ]
        return sp.dur - union_seconds(kids)

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            out[sp.name] = out.get(sp.name, 0.0) + self.self_time(i)
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, **s.attrs}
            for s in self.spans
        ]


# -- Spark status ------------------------------------------------------------

STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


class SparkStatus:
    """Job and stage facts for one job group, read from the driver's
    ``statusTracker`` (job ids) and ``AppStatusStore`` (timings and
    per-stage task metrics). The UI may be off: both stores are fed by
    the listener bus regardless."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store reflects all jobs that have ended."""
        self._jsc.listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage(self, stage_id: int) -> dict | None:
        """Summed task metrics over every attempt of one stage; None
        for a stage that never ran (skipped: its shuffle output was
        reused)."""
        defaults = [getattr(self._store, f"stageData$default${i}")() for i in range(2, 6)]
        attempts = self._store.stageData(stage_id, *defaults)
        if attempts.size() == 0:
            return None
        out = {k: 0 for k in STAGE_FIELDS}
        ran = False
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            ran = True
            for k, attr in STAGE_FIELDS.items():
                out[k] += getattr(sd, attr)()
        return out if ran else None

    def group_facts(self, group: str) -> tuple[list[dict], dict]:
        """(jobs, stage totals) for every job fired under ``group``."""
        jobs = []
        totals = {k: 0 for k in STAGE_FIELDS}
        totals["stages"] = 0
        for jid in self.job_ids(group):
            jd = self._store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            jobs.append(
                {
                    "job": jid,
                    "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                }
            )
            seq = jd.stageIds()
            for i in range(seq.size()):
                st = self.stage(seq.apply(i))
                if st is None:
                    continue
                totals["stages"] += 1
                for k in STAGE_FIELDS:
                    totals[k] += st[k]
        return jobs, totals

    def persisted_bytes(self) -> int:
        """Memory + disk bytes held by persisted RDDs right now."""
        total = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return total


# -- process memory ----------------------------------------------------------

def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of live processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
