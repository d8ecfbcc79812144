"""Spans for the traced run, with Spark's per-stage counters.

A span is a name, a start, an end, a parent and a run id.  Spans are
kept in memory and written out once, when the run ends.  Each span also
carries the sums of the stage metrics of every Spark stage that
completed inside it (from settled ``plans.stage_metrics`` snapshots), so
counts are taken at the same boundary as the time.  A span's counters
include those of its children; its self time is its duration minus the
part of it that child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from data_warehouse_morrocan_banks_spark.plans.stage_metrics import (
    settled_completed_stages,
)

_MB = 1024.0 * 1024.0

# REST stage fields summed per span → counter name and scale
_STAGE_FIELDS = {
    "executorCpuTime": ("cpu_s", 1e-9),
    "executorRunTime": ("run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / _MB),
    "shuffleReadRecords": ("shuffle_read_records", 1),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / _MB),
    "shuffleWriteRecords": ("shuffle_write_records", 1),
    "shuffleFetchWaitTime": ("fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spill_mem_mb", 1 / _MB),
    "diskBytesSpilled": ("spill_disk_mb", 1 / _MB),
    "numCompleteTasks": ("tasks", 1),
}


def stage_counters(before: dict | None, after: dict | None) -> dict | None:
    """Counter sums over the stages in ``after`` but not in ``before``;
    None when either snapshot is missing (the UI is unavailable)."""
    if before is None or after is None:
        return None
    new = [s for k, s in after.items() if k not in before]
    out = {name: sum(s.get(f, 0) or 0 for s in new) * scale
           for f, (name, scale) in _STAGE_FIELDS.items()}
    out["stages"] = len(new)
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int
    counters: dict | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    no-op that takes no snapshot, so untraced runs pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # time spent on snapshots inside an enclosing span, which that
        # span's wall includes
        self.overhead_s = 0.0

    def snapshot(self):
        return settled_completed_stages(self.spark)

    def _counted_snapshot(self):
        t0 = time.perf_counter()
        snap = self.snapshot()
        if self._stack:
            self.overhead_s += time.perf_counter() - t0
        return snap

    @contextmanager
    def span(self, name: str, counters: bool = True, **attrs):
        """Time the block as span ``name``; with ``counters``, also sum
        the stage metrics of the Spark stages it ran.  Yields the attrs
        dict so the block can attach results (row counts, bytes)."""
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        before = self._counted_snapshot() if counters else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            after = self._counted_snapshot() if counters else None
            self.spans.append(Span(name, start, end, parent, self.run_id,
                                   sid, stage_counters(before, after), attrs))

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record an already-timed interval (e.g. a pipeline stage
        reported by the program) as a child of the current span."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, start, end, parent, self.run_id,
                               len(self.spans), None, attrs))

    def self_seconds(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.seconds - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_seconds(s)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, default=str)
