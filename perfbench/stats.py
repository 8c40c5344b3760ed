"""Pure arithmetic of the benchmark: percentiles, due-time latency from
streaming progress, sustained commit rate."""

from __future__ import annotations

import json
import math
import statistics
from dataclasses import dataclass
from datetime import datetime, timezone

MIN_BEYOND = 10  # a percentile is reported only with this many samples past it


def due_count(now_ms: float, t0_ms: float, rate: float, n: int) -> int:
    """Number of schedule positions due at ``now_ms`` when position j is due
    at t0_ms + j * 1000 / rate (so position 0 is due at t0_ms)."""
    if now_ms < t0_ms:
        return 0
    return min(n, int((now_ms - t0_ms) * rate / 1000.0) + 1)


def percentile(values, q: float, min_beyond: int = MIN_BEYOND):
    """Nearest-rank q-quantile (0 < q < 1) of ``values``, or None when fewer
    than ``min_beyond`` samples lie beyond it."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def mean(values):
    return statistics.fmean(values) if values else None


@dataclass(frozen=True)
class Batch:
    """One committed micro-batch: schedule positions [start, end), trigger
    start and commit in epoch milliseconds, plus the progress durations."""

    batch_id: int
    start: int
    end: int
    trigger_ms: float
    commit_ms: float
    durations: dict
    state_rows: int
    state_bytes: int

    @property
    def rows(self) -> int:
        return self.end - self.start


def _iso_ms(ts: str) -> float:
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def _offset(raw) -> int:
    if raw is None:
        return 0
    if isinstance(raw, str):
        raw = json.loads(raw)
    return int(raw["index"])


def batches_from_progress(progress: list[dict]) -> list[Batch]:
    """Micro-batches that admitted rows, one per batch id, in id order.

    A batch commits at its trigger start (``timestamp``) plus its
    ``triggerExecution`` duration. Idle-trigger reports repeat the last
    batch id with no rows and are dropped."""
    by_id: dict[int, Batch] = {}
    for p in progress:
        src = p["sources"][0]
        start, end = _offset(src.get("startOffset")), _offset(src.get("endOffset"))
        if end <= start:
            continue
        dur = dict(p.get("durationMs") or {})
        t = _iso_ms(p["timestamp"])
        ops = p.get("stateOperators") or []
        by_id[int(p["batchId"])] = Batch(
            batch_id=int(p["batchId"]),
            start=start,
            end=end,
            trigger_ms=t,
            commit_ms=t + float(dur.get("triggerExecution", 0)),
            durations=dur,
            state_rows=sum(int(o.get("numRowsTotal", 0)) for o in ops),
            state_bytes=sum(int(o.get("memoryUsedBytes", 0)) for o in ops),
        )
    return [by_id[k] for k in sorted(by_id)]


def due_latencies(batches, t0_ms: float, rate: float, lo: int, hi: int) -> list[float]:
    """Seconds from each schedule position's due time (t0 + k/rate) to the
    commit of the micro-batch that carried it, for positions in [lo, hi)."""
    out: list[float] = []
    step = 1000.0 / rate
    for b in batches:
        for k in range(max(b.start, lo), min(b.end, hi)):
            out.append((b.commit_ms - (t0_ms + k * step)) / 1000.0)
    return out


def commit_rate(batches) -> float | None:
    """Committed events per second: the rows of every batch after the first,
    over the time from the first batch's commit to the last one's. A stall
    between commits lowers it."""
    if len(batches) < 2 or batches[-1].commit_ms <= batches[0].commit_ms:
        return None
    rows = sum(b.rows for b in batches[1:])
    return rows * 1000.0 / (batches[-1].commit_ms - batches[0].commit_ms)


def backlog_at_commits(batches, t0_ms: float, rate: float, n: int) -> list[int]:
    """Events due but not yet committed, sampled at each commit."""
    return [max(0, due_count(b.commit_ms, t0_ms, rate, n) - b.end) for b in batches]
