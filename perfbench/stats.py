"""The benchmark's arithmetic, kept free of Spark so it can be tested alone.

- ``tail_percentile``: the highest percentile with at least 10 samples
  beyond it, and the sample count it rests on.
- ``self_times``: a span's duration minus the part of it its child spans
  cover.
- ``OpLog``: the operation log every rate and failure share is read from.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def tail_percentile(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest percentile that leaves at
    least ``min_beyond`` samples above it, or None when there are too few
    samples for any such percentile.

    With n sorted samples the value at rank k (1-based) has n - k
    samples beyond it, so the highest admissible rank is n - min_beyond
    and its percentile is 100 * k / n."""
    n = len(samples)
    k = n - min_beyond
    if k < 1:
        return None
    return 100.0 * k / n, sorted(samples)[k - 1], n


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else math.nan


def mean(samples: list[float]) -> float:
    return statistics.fmean(samples) if samples else math.nan


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the union of its direct
    children's intervals (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        kids = clip(children.get(sp["id"], []), sp["start"], sp["end"])
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length(kids)
    return out


@dataclass
class OpRecord:
    kind: str          # operation class, e.g. "read", "write", "fit"
    name: str          # the operation itself, e.g. "q01_pricing_summary"
    latency_s: float   # timed part only; checks are outside it
    ok: bool
    error: str = ""
    work: float = 0.0  # items the operation processed (documents, rows)
    op_id: int = -1    # id shared with the operation's spans


@dataclass
class OpLog:
    records: list[OpRecord] = field(default_factory=list)

    def add(self, rec: OpRecord) -> None:
        self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def busy_s(self) -> float:
        """Client busy time: the sum of timed parts of every operation."""
        return sum(r.latency_s for r in self.records)

    def latencies(self, *kinds: str) -> list[float]:
        """Latencies of the operations of the ``kinds`` that succeeded."""
        return [r.latency_s for r in self.records if r.kind in kinds and r.ok]

    def ops_per_s(self) -> float:
        """Completed operations per second of client busy time (one
        closed-loop client, so busy time is the wall time of the loop
        less the untimed output checks)."""
        done = sum(1 for r in self.records if r.ok)
        return done / self.busy_s if self.busy_s > 0 else math.nan

    def work_per_s(self, kind: str) -> float:
        """Items processed per second by the successful ``kind`` operations."""
        recs = [r for r in self.records if r.kind == kind and r.ok]
        busy = sum(r.latency_s for r in recs)
        return sum(r.work for r in recs) / busy if busy > 0 else math.nan
