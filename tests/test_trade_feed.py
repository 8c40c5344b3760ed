"""Custom Python DataSource: partitioned batch generation, offset-tracked
streaming, and the ingest projection (rename map, type filter, default-fill)."""

from __future__ import annotations

import ast

from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.sources import trade_feed as TF
from ssiintegrateddatapipeline_spark.streaming import pipeline as SP


def test_batch_read_is_partitioned(spark):
    TF.register(spark)
    raw = (
        spark.read.format("trade_feed")
        .option("n", 400)
        .option("numPartitions", 8)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 8
    assert raw.count() == 400


def test_ping_frames_filtered_and_defaults_filled(spark):
    out = TF.feed_ingest(spark, "")
    n_pings = len(range(0, TF.FEED_N, TF.PING_EVERY))
    assert out.count() == TF.FEED_N - n_pings
    # default-fill: null condition lists became empty arrays
    assert out.where(F.col("trade_condition").isNull()).count() == 0
    assert out.where(F.size("trade_condition") == 0).count() > 0


def test_generator_is_deterministic():
    assert TF.gen_frame(5) == TF.gen_frame(5)
    assert TF.gen_frame(0)[0] == "ping"
    assert TF.gen_frame(1)[0] == "trade"


def test_stream_equals_batch(spark):
    got = sorted(map(tuple, TF.feed_ingest_streaming(spark, "").collect()))
    want = sorted(map(tuple, TF.feed_ingest(spark, "").collect()))
    assert got == want


def test_feed_drain_records_progress(spark):
    """The feed drain reports its stream progress like every engine query:
    one record per micro-batch of rowsPerBatch, ending at the feed end."""
    SP.LAST_QUERY_PROGRESS = None
    SP.LAST_QUERY_DURATIONS = []
    TF.feed_ingest_streaming(spark, "")
    assert len(SP.LAST_QUERY_DURATIONS) >= TF.FEED_N // 500
    # PySpark keeps a source offset as str() of its parsed JSON dict
    end = SP.LAST_QUERY_PROGRESS["sources"][0]["endOffset"]
    assert ast.literal_eval(end) == {"index": TF.FEED_N}


def test_stream_progresses_in_micro_batches(spark):
    """The offset must advance in rows_per_batch steps — real multi-batch
    progression, not a single snapshot."""
    reader = TF._TradeFeedStreamReader({"n": "1000", "rowsperbatch": "300"})
    assert reader.initialOffset() == {"index": 0}
    offsets = [reader.latestOffset()["index"] for _ in range(5)]
    assert offsets == [300, 600, 900, 1000, 1000]
    parts = reader.partitions({"index": 300}, {"index": 600})
    covered = sorted((p.start, p.end) for p in parts)
    assert covered[0][0] == 300 and covered[-1][1] == 600


def test_gap_monitor_finds_exactly_the_ping_holes(spark):
    """Every dropped keepalive slot (except slot 0, which has no
    predecessor for its symbol) is a 2500 ms hole in a 1250 ms cadence."""
    gaps = TF.trade_silence_gaps(spark, "").collect()
    n_pings = len(range(0, TF.FEED_N, TF.PING_EVERY))
    # independent replay of the slot grid: per symbol (slot % 5), count
    # consecutive trade pairs more than GAP_MS apart (slots are 250 ms)
    replayed = 0
    last: dict[int, int] = {}
    for i in range(TF.FEED_N):
        if i % TF.PING_EVERY == 0:
            continue  # ping frame, dropped by the type filter
        s = i % 5
        if s in last and (i - last[s]) * 250 > TF.GAP_MS:
            replayed += 1
        last[s] = i
    assert len(gaps) == n_pings - 1 == replayed
    assert all(g.gap_ms == 2500 for g in gaps)


def test_streaming_gaps_equal_batch_twin(spark):
    """The per-symbol last-seen state must reconstruct the batch lag window
    exactly across micro-batch boundaries."""
    got = sorted(map(tuple, TF.streaming_trade_gaps(spark, "").collect()))
    want = sorted(map(tuple, TF.trade_silence_gaps(spark, "").collect()))
    assert got == want


def test_streaming_realized_vol_equals_batch_twin(spark):
    """The per-symbol (last price, n, sum-of-squares) state must extend the
    delta ledger across micro-batch boundaries exactly like the batch lag
    window."""
    got = sorted(map(tuple, TF.streaming_trade_realized_vol(spark, "").collect()))
    want = sorted(map(tuple, TF.trade_realized_vol(spark, "").collect()))
    assert got == want
