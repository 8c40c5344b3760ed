"""End-to-end composed pipeline (SURVEY §3.1 + §3.2 as one Spark job):

    custom source -> ingest projection -> broadcast identity join ->
    sign -> verify -> windowed aggregation -> foreachBatch metrics sink

The whole write path and read/verify path of the reference collapsed into
one streaming query over the deterministic feed."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.operators.identity import (
    build_identity_dim,
    sign_column_by,
    verify_column_by,
)
from ssiintegrateddatapipeline_spark.sources import sinks
from ssiintegrateddatapipeline_spark.sources import trade_feed as TF


def test_full_pipeline_batch_shape(spark):
    """Batch run of the composed dataflow: every stage wired together."""
    ingested = TF.feed_ingest(spark, "")
    dim = build_identity_dim(spark)
    enriched = ingested.join(F.broadcast(dim), "symbol", "left")
    assert enriched.where(F.col("did").isNull()).count() == 0  # J1: all hit

    payload = enriched.withColumn(
        "payload", F.to_json(F.struct("price", "volume"))
    ).withColumn("provider", F.lit("did:key"))
    signed = sign_column_by(payload, "symbol", "payload", "provider")
    verified = verify_column_by(signed, "symbol", "jwt", "provider")
    assert verified.where(~F.col("verified")).count() == 0  # untampered

    windows = (
        verified.groupBy(
            F.window("event_timestamp", "30 seconds").alias("w"), "symbol"
        )
        .agg(F.count("*").alias("n"))
    )
    total = windows.agg(F.sum("n")).collect()[0][0]
    n_pings = len(range(0, TF.FEED_N, TF.PING_EVERY))
    assert total == TF.FEED_N - n_pings


def test_full_pipeline_streaming_to_metrics_sink(spark, tmp_path):
    """Streaming variant: feed stream -> verify -> windowed counts ->
    foreachBatch metrics sink, drained with real micro-batches."""
    import time

    TF.register(spark)
    raw = (
        spark.readStream.format("trade_feed")
        .option("n", 500)
        .option("rowsPerBatch", 200)
        .option("numPartitions", 2)
        .load()
    )
    ingested = TF._ingest_projection(raw)
    payload = ingested.withColumn(
        "payload", F.to_json(F.struct("price", "volume"))
    ).withColumn("provider", F.lit("did:key"))
    signed = sign_column_by(payload, "symbol", "payload", "provider")
    verified = verify_column_by(signed, "symbol", "jwt", "provider")
    windows = (
        verified.withWatermark("event_timestamp", "1 minute")
        .groupBy(F.window("event_timestamp", "30 seconds").alias("w"), "symbol")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("verified"), 1).otherwise(0)).alias("n_verified"),
        )
    )
    metrics_path = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    q = (
        windows.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sinks.foreach_batch_metrics_sink(metrics_path))
        .trigger(processingTime="0 seconds")
        .start()
    )
    expected = 500 - len(range(0, 500, TF.PING_EVERY))
    deadline = time.time() + 120
    while time.time() < deadline:
        if os.path.isdir(metrics_path):
            try:
                got = (
                    spark.read.parquet(metrics_path)
                    .groupBy("w", "symbol")
                    .agg(F.max("n").alias("n"))
                    .agg(F.sum("n"))
                    .collect()[0][0]
                )
                if got == expected:
                    break
            except Exception:
                pass
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    out = spark.read.parquet(metrics_path)
    assert {"batch_id", "emitted_at", "n", "n_verified", "symbol", "w"} <= set(out.columns)
    final = (
        out.groupBy("w", "symbol")
        .agg(F.max("n").alias("n"), F.max("n_verified").alias("nv"))
    )
    totals = final.agg(F.sum("n"), F.sum("nv")).collect()[0]
    assert totals[0] == expected
    assert totals[1] == expected  # everything verified
