"""Admission schedule of the open-loop stream (``perfbench_schedule``).

The reader replays ``sources.trade_feed.gen_frame`` over a seeded index
range ``[base, base + n)``; only *when* an index is admitted belongs to the
benchmark. Offsets are schedule positions ``k`` (frame ``base + k``).

The first trigger of a query admits ``warm`` positions at once: that batch
carries the query's start-up and the Python workers' first use. The
measured schedule starts at the next trigger, whose wall-clock time ``t0``
the reader writes to the file named by the ``t0_path`` option: position
``warm + j`` is due at ``t0 + j / rate``, and each trigger admits every
position due by then. The schedule never slows down when the engine does.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ssiintegrateddatapipeline_spark.sources import trade_feed

from perfbench.stats import due_count


class _Range(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def _split(lo: int, hi: int, parts: int) -> list[_Range]:
    if hi <= lo:
        return [_Range(lo, lo)]
    step = max(1, -(-(hi - lo) // parts))
    return [_Range(s, min(s + step, hi)) for s in range(lo, hi, step)]


class _ScheduleReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.base = int(options["base"])
        self.n = int(options["n"])
        self.parts = int(options.get("parts", 2))
        self.t0_path = options.get("t0_path")
        self.rate = float(options["rate"])
        self.warm = int(options.get("warm", 0))
        self.t0_ms: float | None = None
        self._current = 0

    def _start_schedule(self, now_ms: float) -> None:
        self.t0_ms = now_ms
        if self.t0_path:
            tmp = self.t0_path + ".tmp"
            with open(tmp, "w") as f:
                f.write(repr(now_ms))
            os.replace(tmp, self.t0_path)  # readers never see a partial file

    def initialOffset(self) -> dict:
        return {"index": 0}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return _split(start["index"], end["index"], self.parts)

    def read(self, partition: _Range) -> Iterator[tuple]:
        gen, base = trade_feed.gen_frame, self.base
        for k in range(partition.start, partition.end):
            yield gen(base + k)

    def latestOffset(self) -> dict:
        now = time.time() * 1000.0
        if self._current < self.warm:
            self._current = self.warm
        else:
            if self.t0_ms is None:
                self._start_schedule(now)
            due = self.warm + due_count(now, self.t0_ms, self.rate, self.n - self.warm)
            self._current = max(self._current, due)
        return {"index": self._current}

    def commit(self, end: dict) -> None:
        pass


class ScheduleFeed(DataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_schedule"

    def schema(self) -> str:
        return trade_feed.FEED_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ScheduleReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(ScheduleFeed)
