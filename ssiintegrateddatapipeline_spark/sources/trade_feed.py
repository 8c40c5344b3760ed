"""Custom Python DataSource: deterministic Finnhub-style trade feed (S1/S2).

The reference ingests trades over a WebSocket (data_synthesizer/service/
finnhub/finnhub.go:59-169: connect, subscribe, read JSON frames with
single-letter wire fields). Spark has no WebSocket source; the idiomatic
Spark 4 answer is a custom Python DataSource, implemented here twice over
the same generator:

- ``TradeFeedDataSource`` batch reader — partitioned deterministic replay
  (each partition independently generates its index range, so generation is
  embarrassingly parallel and scales with the cluster);
- its ``DataSourceStreamReader`` — offset-tracked micro-batches with
  ``rows_per_batch`` as the backpressure knob (the maxOffsetsPerTrigger
  analogue), exactly-once via offset commit.

Every field derives from md5 of the trade index, so the DuckDB oracle can
reproduce the full feed with generate_series + the same md5 arithmetic —
the wire shape (single-letter fields, occasional ping frames, null
condition lists) matches the reference's documented frames
(data_synthesizer/README.md:95-133, column map finnhub.go:47-53).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SYMBOLS = (
    "BINANCE:BTCUSDT",
    "BINANCE:ETHUSDT",
    "BINANCE:SOLUSDT",
    "BINANCE:ADAUSDT",
    "BINANCE:XRPUSDT",
)

FEED_SCHEMA = "type string, c array<string>, p double, s string, t bigint, v double"

BASE_EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z
PING_EVERY = 97  # every 97th frame is a keepalive ping (dropped by F1)


def _h32(tag: str, i: int) -> int:
    """First 32 bits of md5(f'{tag}|{i}') — the cross-dialect hash used
    throughout the engine (same spelling as functions/text_funcs.md5_int32)."""
    return int(hashlib.md5(f"{tag}|{i}".encode()).hexdigest()[:8], 16)


def gen_frame(i: int) -> tuple:
    """Deterministic wire frame for trade index i (raw Finnhub field names)."""
    if i % PING_EVERY == 0:
        return ("ping", None, None, None, None, None)
    price = 100.0 + (_h32("p", i) % 1000000) / 100.0
    volume = (_h32("v", i) % 10000) / 1000.0
    cond = None if _h32("c", i) % 10 == 0 else ["market"]
    return (
        "trade",
        cond,
        price,
        SYMBOLS[i % len(SYMBOLS)],
        BASE_EPOCH_MS + i * 250,
        volume,
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _TradeFeedBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.n_partitions = int(options.get("numpartitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        step = max(1, -(-self.n // self.n_partitions))
        return [
            _RangePartition(s, min(s + step, self.n))
            for s in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield gen_frame(i)


class _TradeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.rows_per_batch = int(options.get("rowsperbatch", 250))
        self.n_partitions = int(options.get("numpartitions", 4))
        self._current = 0

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        # advance by at most rows_per_batch per trigger, capped at the feed
        # end — the backpressure contract (maxOffsetsPerTrigger analogue)
        self._current = min(self._current + self.rows_per_batch, self.n)
        return {"index": self._current}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["index"], end["index"]
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = max(1, -(-(hi - lo) // self.n_partitions))
        return [
            _RangePartition(s, min(s + step, hi)) for s in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield gen_frame(i)

    def commit(self, end: dict) -> None:
        pass  # generation is deterministic; nothing to clean up

    def stop(self) -> None:
        pass


class TradeFeedDataSource(DataSource):
    """spark.read.format("trade_feed").option("n", N).load() — and the same
    via readStream for offset-tracked micro-batch replay."""

    @classmethod
    def name(cls) -> str:
        return "trade_feed"

    def schema(self) -> str:
        return FEED_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _TradeFeedBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _TradeFeedStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(TradeFeedDataSource)


# ---------------------------------------------------------------------------
# Driver-contract queries: the S1->P1->F1->P2 ingest path over the source
# ---------------------------------------------------------------------------

FEED_N = 2000


def _ingest_projection(raw):
    """F1 type filter + P1 rename map + P2 default-fill + timestamp decode
    (finnhub.go:47-53, :186-198; models/types.go:27-34)."""
    from pyspark.sql import functions as F

    return (
        raw.where(F.col("type") == "trade")
        .select(
            F.col("s").alias("symbol"),
            F.col("p").alias("price"),
            F.col("v").alias("volume"),
            F.coalesce(F.col("c"), F.array().cast("array<string>")).alias(
                "trade_condition"
            ),
            F.timestamp_millis(F.col("t")).alias("event_timestamp"),
        )
    )


def feed_ingest(spark, sf_dir: str):
    """Batch read of the custom source through the ingest projection."""
    register(spark)
    raw = (
        spark.read.format("trade_feed")
        .option("n", FEED_N)
        .option("numPartitions", 8)
        .load()
    )
    return _ingest_projection(raw)


def feed_ingest_streaming(spark, sf_dir: str):
    """Same plan through the offset-tracked stream reader: micro-batches of
    rows_per_batch advance the offset until the feed is drained (real
    multi-batch offset progression). The reader paces its ``latestOffset``
    answers, so an ``availableNow`` trigger would snapshot the first one
    and stop after one batch — that is why the engine's one drive
    (``streaming.pipeline._drive``) runs ``processAllAvailable`` instead.
    Result must equal the batch read exactly."""
    return _run_feed(_ingest_projection(_feed_stream(spark)), "append")


def trade_vwap(spark, sf_dir: str):
    """Per-symbol VWAP over the ingested trade feed — the reference
    domain's headline market stat (volume-weighted average price), with
    the repo's exact-integer parity device: price and volume become cents
    and milli-units (both exact decimals by the feed's construction), the
    p*v ledger accumulates as int64, and the final 4-dp VWAP is one
    half-up integer division identical in both engines. sum bounds:
    price_cents <= 1.01e6, vol_milli < 1e4, 2000 frames -> the pv ledger
    stays ~1e13, far inside int64 even at the 2*10^4 rounding scale-up.

    Scale shape: one narrow projection on the feed (no shuffle) into a
    5-key hash aggregate with map-side partials — at a real feed rate
    this is the canonical always-on symbol rollup."""
    return _vwap_finalize(_vwap_ledger(feed_ingest(spark, sf_dir)))


def _vwap_ledger(t):
    """Per-symbol integer VWAP ledger (count, Σ price_cents*vol_milli,
    Σ vol_milli) — a commutative-monoid aggregate, so the SAME expression
    runs as a batch hash agg and as streaming complete-mode state."""
    from pyspark.sql import functions as F

    price_cents = F.round(F.col("price") * 100).cast("long")
    vol_milli = F.round(F.col("volume") * 1000).cast("long")
    return t.groupBy("symbol").agg(
        F.count("*").alias("n_trades"),
        F.sum(price_cents * vol_milli).alias("pv"),
        F.sum(vol_milli).alias("vol_milli_total"),
    )


def _vwap_finalize(agg):
    # vwap = pv / (100 * vol); round half-up to 4 dp in pure integers:
    # (pv*2*10^4 + 100*vol) div (2*100*vol) / 10^4 — `div`, not `/`:
    # float division of a ~4e16 numerator is past double's 2^53 exact
    # range, and a last-ulp quotient error under floor() could flip the
    # 4th decimal vs DuckDB's exact `//`
    from pyspark.sql import functions as F

    vwap = (
        F.expr(
            "(pv * 20000 + vol_milli_total * 100) div (vol_milli_total * 200)"
        )
        / F.lit(10000.0)
    )
    return agg.select(
        "symbol",
        "n_trades",
        F.col("vol_milli_total"),
        vwap.alias("vwap"),
    )


def _run_feed(plan, output_mode):
    """Drain the offset-tracked feed stream through the engine's drive into
    a memory sink and return the final snapshot as a batch DataFrame. The
    feed's state domain is 5 symbols (or symbol x minute), so stateful
    plans pin 8 state stores, not 32."""
    # imported here, not at module level: Python workers import this
    # module to run the data source and need none of the streaming engine
    from ssiintegrateddatapipeline_spark.streaming.pipeline import (
        run_available_now,
    )

    return run_available_now(plan, output_mode, state_partitions=8)


def _feed_stream(spark):
    register(spark)
    return (
        spark.readStream.format("trade_feed")
        .option("n", FEED_N)
        .option("rowsPerBatch", 500)
        .option("numPartitions", 4)
        .load()
    )


def _run_feed_complete(spark, plan_builder):
    """Complete-mode aggregate drain (streaming VWAP / OHLC twins)."""
    return _run_feed(
        plan_builder(_ingest_projection(_feed_stream(spark))), "complete"
    )


def streaming_trade_vwap(spark, sf_dir: str):
    """The VWAP ledger maintained as STREAMING complete-mode state over
    the offset-tracked feed reader (5 rows of state — the bounded
    metrics-counter footprint); the snapshot must equal the batch
    aggregate exactly."""
    return _vwap_finalize(_run_feed_complete(spark, _vwap_ledger))


def trade_ohlc_bars(spark, sf_dir: str):
    """One-minute OHLC candlestick bars per symbol — the other canonical
    market rollup next to VWAP. Open/high/low/close are SELECTIONS
    (min_by/max_by/min/max over the bar), so no float arithmetic exists
    to diverge between engines; bar volume uses the integer milli-unit
    ledger. One narrow projection into a (symbol, minute) hash aggregate
    with map-side partials — the always-on bar builder shape; the
    streaming twin would be the same expression under a 1-minute
    event-time window + watermark."""
    return _ohlc_plan(feed_ingest(spark, sf_dir))


def _ohlc_plan(t):
    """The (symbol, minute) OHLC aggregate — min_by/max_by/min/max/count/
    int-ledger sum are all order-insensitive, so the SAME expression runs
    as a batch hash agg and as streaming complete-mode state."""
    from pyspark.sql import functions as F

    vol_milli = F.round(F.col("volume") * 1000).cast("long")
    return (
        t.groupBy(
            "symbol",
            F.date_trunc("minute", "event_timestamp").alias("bar_ts"),
        )
        .agg(
            F.min_by("price", "event_timestamp").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "event_timestamp").alias("close"),
            F.count("*").alias("n_trades"),
            F.sum(vol_milli).alias("vol_milli"),
        )
    )


def streaming_trade_ohlc(spark, sf_dir: str):
    """OHLC bars as streaming complete-mode state over the offset-tracked
    feed: bar state is bounded by the (symbol, minute) domain of the
    replay span; the snapshot must equal the batch bars exactly (min_by/
    max_by resolve identically because (symbol, event_timestamp) is
    unique by the feed's construction)."""
    return _run_feed_complete(spark, _ohlc_plan)


def trade_max_drawdown(spark, sf_dir: str):
    """Maximum drawdown per symbol over the replayed feed: the largest
    peak-to-trough price drop (running-max price minus current price,
    maximized) — the risk stat quoted next to realized volatility. Same
    per-symbol sequence window as the tick rule; all arithmetic exact
    integer cents with one display division."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = feed_ingest(spark, sf_dir)
    pc = F.round(F.col("price") * 100).cast("long")
    w = (
        Window.partitionBy("symbol")
        .orderBy("event_timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runmax = F.max(pc).over(w)
    return (
        t.select("symbol", (runmax - pc).alias("dd"), pc.alias("pc"))
        .groupBy("symbol")
        .agg(
            (F.max("dd").cast("double") / 100.0).alias("max_drawdown"),
            (F.max("pc").cast("double") / 100.0).alias("peak_price"),
        )
    )


BB_WINDOW = 5  # bars in the rolling band (short replay span)


def trade_bollinger_bands(spark, sf_dir: str):
    """Bollinger bands over the per-symbol minute bars: rolling mean ±2
    population-σ of the close over the trailing BB_WINDOW bars, emitted
    once the window is full. The rolling sums run in exact integer cents
    (Σc, Σc²) over a per-symbol ROWS window — the bar series per symbol
    is calendar-bounded, so the window partitioning carries the same
    scale argument as the OHLC aggregate feeding it. The only floats are
    the final mean division and one sqrt (display-rounded)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bars = _ohlc_plan(feed_ingest(spark, sf_dir)).select(
        "symbol", "bar_ts", F.round(F.col("close") * 100).cast("long").alias("cc")
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar_ts")
        .rowsBetween(-(BB_WINDOW - 1), Window.currentRow)
    )
    stats = bars.select(
        "symbol",
        "bar_ts",
        F.count("cc").over(w).alias("n"),
        F.sum("cc").over(w).alias("s"),
        F.sum(F.col("cc") * F.col("cc")).over(w).alias("ss"),
        "cc",
    ).where(F.col("n") == BB_WINDOW)
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double") / F.col("n")
        - (F.col("s").cast("double") / F.col("n"))
        * (F.col("s").cast("double") / F.col("n"))
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return stats.select(
        "symbol",
        "bar_ts",
        (F.col("cc").cast("double") / 100.0).alias("close"),
        F.round(mean / 100.0, 6).alias("mid"),
        F.round((mean - 2 * sd) / 100.0, 6).alias("lower"),
        F.round((mean + 2 * sd) / 100.0, 6).alias("upper"),
    )


def trade_tick_direction(spark, sf_dir: str):
    """Tick-rule order-flow imbalance per symbol: classify each trade as
    uptick/downtick/zerotick against the previous trade's price and
    aggregate the counts and net direction. The lag window partitions by
    symbol — the RIGHT partitioning for market data, because per-symbol
    tick sequence is inherently sequential state: a production feed
    shards by symbol (state per key is one float) and the per-symbol
    stream is processed in event order; the analogue here is one window
    over the bounded replay. Prices are exact two-decimal constructions,
    so the comparisons carry no float hazard."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    t = feed_ingest(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("event_timestamp")
    prev = F.lag("price").over(w)
    tick = F.when(prev.isNull(), F.lit(0)).otherwise(
        F.signum(F.col("price") - prev).cast("int")
    )
    return (
        t.withColumn("tick", tick)
        .groupBy("symbol")
        .agg(
            F.sum((F.col("tick") == 1).cast("long")).alias("n_upticks"),
            F.sum((F.col("tick") == -1).cast("long")).alias("n_downticks"),
            F.sum((F.col("tick") == 0).cast("long")).alias("n_zeroticks"),
            F.sum("tick").cast("long").alias("net_ticks"),
        )
    )


def trade_realized_vol(spark, sf_dir: str):
    """Per-symbol realized volatility over the replayed feed: tick-to-tick
    price changes in exact integer cents, realized variance as the
    sample variance of the deltas, volatility as its square root — the
    risk stat every market dashboard pairs with VWAP. Same per-symbol lag
    window as the tick rule (per-symbol sequence is inherently sequential
    state; a production feed shards by symbol); the only non-integer step
    is one ``sqrt`` — IEEE-correctly-rounded, so no snap grid, just the
    display rounding."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    t = feed_ingest(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("event_timestamp")
    pc = F.round(F.col("price") * 100).cast("long")
    d = pc - F.lag(pc).over(w)
    agg = (
        t.select("symbol", d.alias("d"))
        .groupBy("symbol")
        .agg(
            F.count("d").cast("long").alias("n_deltas"),
            F.sum(F.col("d") * F.col("d")).alias("ss"),
        )
    )
    rv = (
        F.sqrt(
            F.col("ss").cast("double") / (F.col("n_deltas") - 1).cast("double")
        )
        / 100.0
    )
    return agg.select(
        "symbol", "n_deltas", F.round(rv, 6).alias("realized_vol")
    )


def streaming_trade_realized_vol(spark, sf_dir: str):
    """Realized volatility as STREAMING per-symbol state: the batch twin's
    lag window is inherently sequential, so the streaming form carries
    (last price, n_deltas, Σd²) per symbol in ``applyInPandasWithState``
    — three int64s per symbol, the exact state a per-symbol-sharded
    production feed keeps. Each micro-batch extends the delta ledger from
    the carried last price; the drained snapshot must equal
    ``trade_realized_vol`` exactly (integer ledger, one final sqrt)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("n_deltas", T.LongType()),
            T.StructField("ss", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_pc", T.LongType()),
            T.StructField("n_deltas", T.LongType()),
            T.StructField("ss", T.LongType()),
        ]
    )

    def _update(key, pdf_iter, state: GroupState):
        last_pc, n, ss = state.get if state.exists else (None, 0, 0)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("event_timestamp")
            pc = np.round(pdf["price"].values * 100).astype("int64")
            prev = (
                np.concatenate(([last_pc], pc[:-1]))
                if last_pc is not None
                else pc[:-1]
            )
            cur = pc if last_pc is not None else pc[1:]
            d = cur - prev
            n += len(d)
            ss += int((d * d).sum())
            last_pc = int(pc[-1])
        state.update((last_pc, n, ss))
        yield pd.DataFrame(
            {"symbol": [key[0]], "n_deltas": [n], "ss": [ss]}
        )

    plan = (
        _ingest_projection(_feed_stream(spark))
        .select("symbol", "price", "event_timestamp")
        .groupBy("symbol")
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    snap = _run_feed(plan, "update")
    final = (
        snap.groupBy("symbol")
        .agg(F.max_by(F.struct("n_deltas", "ss"), "n_deltas").alias("s"))
        .select("symbol", "s.n_deltas", "s.ss")
    )
    rv = (
        F.sqrt(
            F.col("ss").cast("double") / (F.col("n_deltas") - 1).cast("double")
        )
        / 100.0
    )
    return final.select(
        "symbol", "n_deltas", F.round(rv, 6).alias("realized_vol")
    )


GAP_MS = 2000  # silence threshold: regular per-symbol cadence is 1250 ms


def trade_silence_gaps(spark, sf_dir: str):
    """Heartbeat monitor over the replayed feed: intervals where a symbol
    went silent longer than GAP_MS between consecutive trades — exactly
    the dropped-keepalive slots (every PING_EVERY-th frame is a ping the
    type filter discards, leaving a 2500 ms hole in that symbol's 1250 ms
    cadence). The reference's liveness story is the WS read deadline
    (finnhub.go:134-169); this is the same absence-detection semantics as
    a query. Same per-symbol lag window as the tick rule; gap arithmetic
    is exact integer milliseconds."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = feed_ingest(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("event_timestamp")
    prev = F.lag("event_timestamp").over(w)
    return (
        t.select(
            "symbol",
            prev.alias("gap_start"),
            F.col("event_timestamp").alias("gap_end"),
        )
        .withColumn(
            "gap_ms", F.unix_millis("gap_end") - F.unix_millis("gap_start")
        )
        .where(F.col("gap_start").isNotNull() & (F.col("gap_ms") > GAP_MS))
    )


def streaming_trade_gaps(spark, sf_dir: str):
    """The heartbeat monitor as a STREAMING stateful operator: per-symbol
    last-seen timestamps held in ``applyInPandasWithState`` (state = ONE
    int64 per symbol — the O(|symbols|) footprint a production feed
    monitor keeps), emitting silence intervals append-only as they close.
    Cross-batch correctness: the offset-tracked reader replays frames in
    slot order, so each micro-batch's per-symbol minimum joins the carried
    last-seen state exactly like the batch twin's lag window; the drained
    snapshot must equal ``trade_silence_gaps`` row-for-row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401  (plan helpers)
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("symbol", T.StringType()),
            T.StructField("gap_start", T.TimestampType()),
            T.StructField("gap_end", T.TimestampType()),
            T.StructField("gap_ms", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("last_us", T.LongType())])

    def _detect(key, pdf_iter, state: GroupState):
        last = state.get[0] if state.exists else None
        starts: list[int] = []
        ends: list[int] = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            us = np.sort(pdf["event_timestamp"].values.astype("int64")) // 1000
            prevs = np.concatenate(
                ([last if last is not None else 0], us[:-1])
            )
            mask = (us - prevs) > GAP_MS * 1000
            if last is None:
                mask[0] = False  # first-ever trade has no predecessor
            starts.extend(prevs[mask].tolist())
            ends.extend(us[mask].tolist())
            last = int(us[-1])
        if last is not None:
            state.update((last,))
        yield pd.DataFrame(
            {
                "symbol": [key[0]] * len(starts),
                "gap_start": pd.to_datetime(
                    np.array(starts, dtype="int64"), unit="us"
                ),
                "gap_end": pd.to_datetime(
                    np.array(ends, dtype="int64"), unit="us"
                ),
                "gap_ms": np.array(
                    [(e - s) // 1000 for s, e in zip(starts, ends)],
                    dtype="int64",
                ),
            }
        )

    plan = (
        _ingest_projection(_feed_stream(spark))
        .groupBy("symbol")
        .applyInPandasWithState(
            _detect,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_feed(plan, "append")


QUERIES = {
    "source_trade_feed": feed_ingest,
    "source_trade_feed_stream": feed_ingest_streaming,
    "trade_vwap": trade_vwap,
    "streaming_trade_vwap": streaming_trade_vwap,
    "trade_ohlc_bars": trade_ohlc_bars,
    "trade_bollinger_bands": trade_bollinger_bands,
    "trade_max_drawdown": trade_max_drawdown,
    "trade_tick_direction": trade_tick_direction,
    "streaming_trade_ohlc": streaming_trade_ohlc,
    "trade_realized_vol": trade_realized_vol,
    "trade_silence_gaps": trade_silence_gaps,
    "streaming_trade_gaps": streaming_trade_gaps,
    "streaming_trade_realized_vol": streaming_trade_realized_vol,
}

_H32 = "(('0x' || substr(md5('{tag}|' || i::VARCHAR), 1, 8))::UBIGINT::BIGINT)"

_FEED_ORACLE = f"""
    WITH idx AS (SELECT unnest(generate_series(0, {FEED_N - 1})) AS i)
    SELECT ['BINANCE:BTCUSDT','BINANCE:ETHUSDT','BINANCE:SOLUSDT',
            'BINANCE:ADAUSDT','BINANCE:XRPUSDT'][(i % 5)::INT + 1] AS symbol,
           100.0 + ({_H32.format(tag="p")} % 1000000) / 100.0 AS price,
           ({_H32.format(tag="v")} % 10000) / 1000.0 AS volume,
           CASE WHEN {_H32.format(tag="c")} % 10 = 0 THEN []::VARCHAR[]
                ELSE ['market'] END AS trade_condition,
           make_timestamp(({BASE_EPOCH_MS} + i * 250) * 1000) AS event_timestamp
    FROM idx
    WHERE i % {PING_EVERY} != 0
"""

_OHLC_ORACLE = f"""
        WITH feed AS ({_FEED_ORACLE})
        SELECT symbol,
               date_trunc('minute', event_timestamp)::TIMESTAMP AS bar_ts,
               arg_min(price, event_timestamp) AS open,
               max(price) AS high,
               min(price) AS low,
               arg_max(price, event_timestamp) AS close,
               count(*) AS n_trades,
               sum(CAST(round(volume * 1000) AS BIGINT))::BIGINT AS vol_milli
        FROM feed GROUP BY 1, 2
    """

_VWAP_ORACLE = f"""
    WITH feed AS ({_FEED_ORACLE}),
    cents AS (
        SELECT symbol,
               CAST(round(price * 100) AS BIGINT) AS pc,
               CAST(round(volume * 1000) AS BIGINT) AS vm
        FROM feed
    ),
    agg AS (
        SELECT symbol, count(*) AS n_trades,
               sum(pc * vm)::BIGINT AS pv,
               sum(vm)::BIGINT AS vol_milli_total
        FROM cents GROUP BY symbol
    )
    SELECT symbol, n_trades, vol_milli_total,
           ((pv * 20000 + vol_milli_total * 100)
            // (vol_milli_total * 200)) / 10000.0 AS vwap
    FROM agg
"""

_GAPS_ORACLE = f"""
    WITH feed AS ({_FEED_ORACLE}),
    seq AS (
        SELECT symbol,
               lag(event_timestamp) OVER w AS gap_start,
               event_timestamp AS gap_end
        FROM feed
        WINDOW w AS (PARTITION BY symbol ORDER BY event_timestamp)
    )
    SELECT symbol, gap_start, gap_end,
           (epoch_ms(gap_end) - epoch_ms(gap_start))::BIGINT AS gap_ms
    FROM seq
    WHERE gap_start IS NOT NULL
      AND epoch_ms(gap_end) - epoch_ms(gap_start) > {GAP_MS}
"""

ORACLES = {
    "source_trade_feed": _FEED_ORACLE,
    "source_trade_feed_stream": _FEED_ORACLE,
    "trade_vwap": _VWAP_ORACLE,
    # the streaming twin drains the same deterministic feed into the same
    # integer ledger — one oracle serves both forms
    "streaming_trade_vwap": _VWAP_ORACLE,
    "trade_ohlc_bars": _OHLC_ORACLE,
    "trade_bollinger_bands": f"""
        WITH bars AS (
            SELECT symbol, bar_ts,
                   CAST(round(close * 100) AS BIGINT) AS cc
            FROM ({_OHLC_ORACLE})
        ),
        stats AS (
            SELECT symbol, bar_ts, cc,
                   count(cc) OVER pw AS n,
                   sum(cc) OVER pw AS s,
                   sum(cc * cc) OVER pw AS ss
            FROM bars
            WINDOW pw AS (PARTITION BY symbol ORDER BY bar_ts
                          ROWS BETWEEN {BB_WINDOW - 1} PRECEDING
                          AND CURRENT ROW)
        )
        SELECT symbol, bar_ts,
               CAST(cc AS DOUBLE) / 100.0 AS close,
               round((CAST(s AS DOUBLE) / n) / 100.0, 6) AS mid,
               round((CAST(s AS DOUBLE) / n
                      - 2 * sqrt(greatest(CAST(ss AS DOUBLE) / n
                          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                          0.0))) / 100.0, 6) AS lower,
               round((CAST(s AS DOUBLE) / n
                      + 2 * sqrt(greatest(CAST(ss AS DOUBLE) / n
                          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                          0.0))) / 100.0, 6) AS upper
        FROM stats WHERE n = {BB_WINDOW}
    """,
    "streaming_trade_ohlc": _OHLC_ORACLE,
    "trade_tick_direction": f"""
        WITH feed AS ({_FEED_ORACLE}),
        ticks AS (
            SELECT symbol,
                   CASE WHEN lag(price) OVER w IS NULL THEN 0
                        ELSE sign(price - lag(price) OVER w)::INT END AS tick
            FROM feed
            WINDOW w AS (PARTITION BY symbol ORDER BY event_timestamp)
        )
        SELECT symbol,
               sum(CASE WHEN tick = 1 THEN 1 ELSE 0 END)::BIGINT AS n_upticks,
               sum(CASE WHEN tick = -1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_downticks,
               sum(CASE WHEN tick = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_zeroticks,
               sum(tick)::BIGINT AS net_ticks
        FROM ticks GROUP BY symbol
    """,
    "trade_realized_vol": f"""
        WITH feed AS ({_FEED_ORACLE}),
        seq AS (
            SELECT symbol,
                   CAST(round(price * 100) AS BIGINT) AS pc,
                   lag(CAST(round(price * 100) AS BIGINT)) OVER (
                       PARTITION BY symbol ORDER BY event_timestamp) AS prev
            FROM feed
        ),
        d AS (
            SELECT symbol, pc - prev AS d FROM seq WHERE prev IS NOT NULL
        )
        SELECT symbol,
               CAST(count(*) AS BIGINT) AS n_deltas,
               round(sqrt(CAST(sum(d * d) AS DOUBLE)
                          / CAST(count(*) - 1 AS DOUBLE)) / 100.0, 6)
                   AS realized_vol
        FROM d GROUP BY symbol
    """,
    "trade_max_drawdown": f"""
        WITH feed AS ({_FEED_ORACLE}),
        seq AS (
            SELECT symbol,
                   CAST(round(price * 100) AS BIGINT) AS pc,
                   max(CAST(round(price * 100) AS BIGINT)) OVER (
                       PARTITION BY symbol ORDER BY event_timestamp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS runmax
            FROM feed
        )
        SELECT symbol,
               max(runmax - pc)::DOUBLE / 100.0 AS max_drawdown,
               max(pc)::DOUBLE / 100.0 AS peak_price
        FROM seq GROUP BY symbol
    """,
    "trade_silence_gaps": _GAPS_ORACLE,
    # the streaming twin drains the same deterministic feed through the
    # per-symbol last-seen state — one oracle serves both forms
    "streaming_trade_gaps": _GAPS_ORACLE,
}

# per-symbol delta ledger carried as streaming state reproduces the batch
# lag window exactly — one oracle serves both forms
ORACLES["streaming_trade_realized_vol"] = ORACLES["trade_realized_vol"]
