"""The composed trade pipeline with the reference's configuration matrix.

The reference is evaluated across 6 documented option sets
(README.md:92-145: did:web/did:key/did:ethr x sync/async x DID-cache on/off
x validation off) whose knobs are environment variables
(data_synthesizer/sample.env:1-5). Here the matrix is a config object and
the pipeline is one composable plan builder:

    envelope -> [sign -> tamper? -> verify]? -> label columns -> summary

- ``ssi_validation`` switches the sign/verify stage in or out (F3 routing,
  trade_handler.go:128-145);
- ``did_provider`` / ``cache_did`` / ``processing_mode`` become label
  columns stamped on every row — exactly how the reference injects constant
  labels into every metric series (kafka_consumer/app/metrics/
  metrics.py:33-38);
- the run summary (A7: messages, time span, msg/sec —
  websocket_data_request.py:100-113) aggregates per config.

``processing_mode`` is honest metadata: sync-vs-async concurrency is
Spark's partition parallelism, not a per-row branch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.operators.identity import (
    sign_tamper_verify_column_by,
)
from ssiintegrateddatapipeline_spark.operators.trade_pipeline import trade_envelope
from ssiintegrateddatapipeline_spark.sources.batch import spread
from ssiintegrateddatapipeline_spark.sources.batch import local_frame


@dataclass(frozen=True)
class PipelineConfig:
    did_provider: str = "did:key"
    ssi_validation: bool = True
    cache_did: bool = True
    processing_mode: str = "async"


# the reference's 6 documented option sets (README.md:96-145):
# 1 did:web/async/uncached, 2 did:web/sync/cached, 3 did:key/sync/uncached,
# 4 did:key/sync/cached, 5 validation off, 6 did:ethr:sepolia/sync/cached
OPTION_SETS = (
    PipelineConfig("did:web", True, False, "async"),
    PipelineConfig("did:web", True, True, "sync"),
    PipelineConfig("did:key", True, False, "sync"),
    PipelineConfig("did:key", True, True, "sync"),
    PipelineConfig("did:key", False, True, "async"),
    PipelineConfig("did:ethr:sepolia", True, True, "sync"),
)


def build_pipeline(
    spark: SparkSession,
    sf_dir: str,
    config: PipelineConfig,
) -> DataFrame:
    """The full dataflow for one configuration. With SSI on, each event is
    signed and verified (tampered subset fails, as in trade_sign_verify);
    with SSI off the credential stage is skipped entirely — two plan
    variants, not a per-row branch, matching the reference's startup-time
    routing."""
    env = trade_envelope(spark, sf_dir)
    if config.ssi_validation:
        # fan the narrow projection across all cores before the crypto UDF
        # stage — the local scan is a single parquet split (see spread())
        env = spread(env)
        ev = env.select(
            "trade_event_id",
            "symbol",
            "start_timestamp",
            F.to_json(F.struct("price", "volume")).alias("payload"),
            (F.substring("trade_event_id", 1, 2) == F.lit("00")).alias("tamper"),
            F.lit(config.did_provider).alias("provider"),
        )
        out = sign_tamper_verify_column_by(
            ev, "symbol", "payload", "tamper", "provider"
        ).select("trade_event_id", "symbol", "start_timestamp", "verified")
    else:
        out = env.select(
            "trade_event_id",
            "symbol",
            "start_timestamp",
            F.lit(None).cast("boolean").alias("verified"),
        )
    return (
        out.withColumn("did_provider", F.lit(config.did_provider))
        .withColumn("ssi_validation", F.lit(config.ssi_validation))
        .withColumn("cache_did", F.lit(config.cache_did))
        .withColumn("processing_mode", F.lit(config.processing_mode))
    )


def run_summary(df: DataFrame) -> DataFrame:
    """A7: per-config run summary — message count, verified count, wall
    span, messages/sec over the event-time span."""
    span_secs = (
        F.unix_micros(F.max("start_timestamp"))
        - F.unix_micros(F.min("start_timestamp"))
    ) / F.lit(1_000_000.0)
    return df.groupBy(
        "did_provider", "ssi_validation", "cache_did", "processing_mode"
    ).agg(
        F.count("*").alias("n_messages"),
        F.sum(F.when(F.col("verified"), 1).otherwise(0)).alias("n_verified"),
        F.round(span_secs, 3).alias("span_secs"),
        F.round(F.count("*") / span_secs, 6).alias("msgs_per_sec"),
    )


def summary_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run summaries for an SSI-on and an SSI-off configuration — the
    benchmark comparison the reference's thesis dashboard makes."""
    on = build_pipeline(spark, sf_dir, PipelineConfig("did:key", True, True, "async"))
    off = build_pipeline(spark, sf_dir, PipelineConfig("did:key", False, True, "async"))
    return run_summary(on).unionByName(run_summary(off))


def provider_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run summaries across the three DID providers of the reference's
    config matrix (README.md:96-145), SSI on: did:key signs EdDSA
    (Ed25519 multicodec key), did:web and did:ethr:sepolia sign ES256K —
    Veramo's WebDIDProvider/EthrDIDProvider create Secp256k1 keys inside
    createIdentifier, so the Ed25519 top-up
    (veramo_create_protected_did.ts:332-337) never fires for them — same
    tamper/verify contract across methods."""
    # ONE plan for the whole sweep: the provider is a data column (a
    # broadcast 3-row dim cross-joined under the crypto stage), not three
    # parallel plan branches — same crypto volume, a third of the stages,
    # and the eager per-Dataset analysis cost is paid once instead of
    # three times (the branched form spent ~4 s of driver time just
    # CONSTRUCTING the union plan at sf0.1). Sign → tamper → verify is the
    # one fused kernel: nothing downstream reads the tokens. The composed
    # sign_column_by/verify_column_by pair is exercised by perfbench's
    # signed-trade stream and tests/test_crypto.py.
    env = trade_envelope(spark, sf_dir)
    env = env.where(F.substring("trade_event_id", 1, 1) < F.lit("1"))
    ev = spread(env).select(
        "trade_event_id",
        "symbol",
        "start_timestamp",
        F.to_json(F.struct("price", "volume")).alias("payload"),
    )
    provs = local_frame(spark,
        [(p,) for p in ("did:key", "did:web", "did:ethr:sepolia")],
        "did_provider string",
    )
    evp = ev.crossJoin(F.broadcast(provs)).withColumn(
        "tamper", F.substring("trade_event_id", 1, 2) == F.lit("00")
    )
    out = sign_tamper_verify_column_by(
        evp, "symbol", "payload", "tamper", "did_provider"
    ).select(
        "did_provider",
        F.lit(True).alias("ssi_validation"),
        F.lit(True).alias("cache_did"),
        F.lit("sync").alias("processing_mode"),
        "trade_event_id",
        "start_timestamp",
        "verified",
    )
    return run_summary(out)


QUERIES = {
    "pipeline_summary_matrix": summary_matrix,
    "pipeline_provider_matrix": provider_matrix,
}

# verified iff md5(trade_event_id) does NOT start '00' (the tamper rule);
# trade_event_id is itself md5(event_id).
ORACLES = {
    "pipeline_summary_matrix": """
        WITH env AS (
            SELECT md5(event_id::VARCHAR) AS trade_event_id,
                   make_timestamp(epoch_us(ts) + (event_id % 5) * 1000000)
                       AS start_timestamp
            FROM events
        ),
        span AS (
            SELECT count(*) AS n,
                   (epoch_us(max(start_timestamp)) - epoch_us(min(start_timestamp)))
                       / 1000000.0 AS span_secs,
                   sum(CASE WHEN substr(trade_event_id, 1, 2) != '00'
                            THEN 1 ELSE 0 END)::BIGINT AS n_ok
            FROM env
        )
        SELECT 'did:key' AS did_provider, true AS ssi_validation,
               true AS cache_did, 'async' AS processing_mode,
               n AS n_messages, n_ok AS n_verified,
               round(span_secs, 3) AS span_secs,
               round(n / span_secs, 6) AS msgs_per_sec
        FROM span
        UNION ALL
        SELECT 'did:key', false, true, 'async',
               n, 0::BIGINT, round(span_secs, 3), round(n / span_secs, 6)
        FROM span
    """,
    "pipeline_provider_matrix": """
        WITH env AS (
            SELECT md5(event_id::VARCHAR) AS trade_event_id,
                   make_timestamp(epoch_us(ts) + (event_id % 5) * 1000000)
                       AS start_timestamp
            FROM events
            WHERE substr(md5(event_id::VARCHAR), 1, 1) < '1'
        ),
        span AS (
            SELECT count(*) AS n,
                   (epoch_us(max(start_timestamp)) - epoch_us(min(start_timestamp)))
                       / 1000000.0 AS span_secs,
                   sum(CASE WHEN substr(trade_event_id, 1, 2) != '00'
                            THEN 1 ELSE 0 END)::BIGINT AS n_ok
            FROM env
        ),
        providers(did_provider) AS (
            VALUES ('did:key'), ('did:web'), ('did:ethr:sepolia')
        )
        SELECT p.did_provider, true AS ssi_validation, true AS cache_did,
               'sync' AS processing_mode,
               n AS n_messages, n_ok AS n_verified,
               round(span_secs, 3) AS span_secs,
               round(n / span_secs, 6) AS msgs_per_sec
        FROM providers p CROSS JOIN span
    """,
}
