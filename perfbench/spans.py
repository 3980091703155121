"""Per-call spans read back from Spark's app status store.

Every traced call runs in a job group of its own. When the call returns, the
collector waits for the listener bus to drain (the status store is filled
asynchronously), lists the group's jobs through the status tracker, and reads
each of their stages from the status store. Nothing inside the package is
instrumented: the spans sit around the public calls the benchmark makes.

Spans are kept in memory; the run writes them out once, when it ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from typing import Iterator

# the nine numbers every span reports, in output order
SPAN_METRICS = (
    "wall_s",
    "driver_s",
    "jobs",
    "stages",
    "exec_run_s",
    "exec_cpu_s",
    "input_mb",
    "shuffle_write_mb",
    "spill_mb",
)
_MB = 1e6


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of closed [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Collects one span per traced call of a Spark session."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jvm = self._sc._jvm
        self._no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        self._seq = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str) -> Iterator[None]:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self._sc.setJobGroup(group, name)
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            t1 = time.time()
            self._sc._jsc.clearJobGroup()
            rec = {"name": name, "parent": parent, "start": t0, "end": t1, "wall_s": wall}
            rec.update(self._read_group(group, t0, t1, wall))
            self.spans.append(rec)

    def _read_group(self, group: str, t0: float, t1: float, wall: float) -> dict:
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(SPAN_METRICS[2:], 0)
        out["jobs"] = len(job_ids)
        # Parquet reads land off the task thread, so inputBytes under-counts
        # them; records read are counted by the scan itself
        out["input_records"] = 0
        lo, hi = int(t0 * 1000), int(t1 * 1000)
        busy: list[tuple[int, int]] = []
        for sid in sorted(stage_ids):
            # stageData is the per-stage form of the 5-arg stageList
            # overload (Scala default arguments are not visible over py4j);
            # it avoids walking every retained stage of the application
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                status = sd.status().toString()
                if status == "SKIPPED":
                    continue
                if status == "COMPLETE":
                    out["stages"] += 1
                out["exec_run_s"] += sd.executorRunTime() / 1000.0
                out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_mb"] += sd.inputBytes() / _MB
                out["input_records"] += sd.inputRecords()
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    s = max(lo, sub.get().getTime())
                    e = min(hi, done.get().getTime())
                    if e > s:
                        busy.append((s, e))
        out["driver_s"] = max(0.0, wall - _union_ms(busy) / 1000.0)
        return out

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def medians(self, names: tuple[str, ...]) -> dict[str, float]:
        """``<span>.<metric>`` → median over this run's spans of that name;
        0 for a span this run never entered."""
        res: dict[str, float] = {}
        for name in names:
            mine = self.of(name)
            for m in SPAN_METRICS:
                res[f"{name}.{m}"] = statistics.median(s[m] for s in mine) if mine else 0
        return res
