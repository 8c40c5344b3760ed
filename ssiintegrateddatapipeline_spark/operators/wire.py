"""Avro wire-format operators: serialize/deserialize at the Kafka boundary.

Re-expresses P10 (Avro serialize: kafka_producer/app/handlers/
kafka_producer.py:93-132) and the S3 deserialize side (kafka_consumer/app/
handlers/kafka_consumer.py:44-45) with the engine's own binary codec
(functions/avro_codec.py — a pure Avro-spec implementation). It is the one
Avro path: Avro binary carries no schema, so a JVM Avro consumer reads the
same bytes.

Design:
- timestamps are converted to epoch-microsecond longs JVM-side
  (``unix_micros``) before the Python boundary, and back with
  ``timestamp_micros`` after — the Arrow batches crossing into the codec
  carry only ints/floats/strings/lists, never timezone-bearing objects;
- the codec runs inside ``mapInPandas`` over whole Arrow batches; at scale
  this is one Python worker per partition streaming record batches — the
  same shape a registry-backed AvroSerializer sidecar would have, minus the
  network hop;
- the key column mirrors the reference's constant message key
  (kafka_producer/app/utils/settings.py:14 — ordering is per-topic there;
  we keep the symbol as key so a real Kafka sink partitions by symbol).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.functions import avro_codec
from ssiintegrateddatapipeline_spark.operators.trade_pipeline import trade_envelope

# Wire schema for the flattened trade envelope (TradeEventRef semantics,
# kafka_initialiser/app/resources/avro/trade/trade_event.avsc — flat variant
# with timestamp-micros longs; union exercises the null/array branch logic).
TRADE_WIRE_SCHEMA = {
    "type": "record",
    "name": "TradeEventWire",
    "namespace": "io.malmike.trades.wire",
    "fields": [
        {"name": "trade_event_id", "type": "string"},
        {"name": "symbol", "type": "string"},
        {"name": "price", "type": "double"},
        {"name": "volume", "type": "double"},
        {
            "name": "trade_condition",
            "type": ["null", {"type": "array", "items": "string"}],
            "default": None,
        },
        {"name": "event_ts_us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "start_ts_us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "e2e_latency_secs", "type": "double"},
    ],
}

_FIELDS = [f["name"] for f in TRADE_WIRE_SCHEMA["fields"]]

_DECODED_SPARK_SCHEMA = (
    "trade_event_id string, symbol string, price double, volume double, "
    "trade_condition array<string>, event_ts_us long, start_ts_us long, "
    "e2e_latency_secs double"
)


def avro_serialize(df: DataFrame) -> DataFrame:
    """P10: rows -> (key, value) with value = Avro binary per TRADE_WIRE_SCHEMA,
    encoded by the own codec inside mapInPandas (schema compiled once per
    worker)."""

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch encode: whole Arrow chunk into one shared buffer, no
        # per-record dict construction (avro_codec.compile_dumps_batch)
        dumps_b = avro_codec.compile_dumps_batch(TRADE_WIRE_SCHEMA)
        for pdf in batches:
            cols = [pdf[n].tolist() for n in _FIELDS]
            yield pd.DataFrame({"key": pdf["symbol"], "value": dumps_b(cols)})

    return df.mapInPandas(enc, "key string, value binary")


def avro_deserialize(df: DataFrame) -> DataFrame:
    """S3: (key, value) -> decoded columns. Avro binary carries no schema,
    so bytes from any spec-conformant writer of TRADE_WIRE_SCHEMA decode
    here, and a JVM Avro reader decodes these."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # batch decode: preallocated per-field column lists, no per-record
        # dict + no pandas list-of-dicts inference
        loads_b = avro_codec.compile_loads_batch(TRADE_WIRE_SCHEMA)
        for pdf in batches:
            yield pd.DataFrame(loads_b(pdf["value"].tolist()))

    return df.mapInPandas(dec, _DECODED_SPARK_SCHEMA)


def _wire_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope projected into the wire field order (_FIELDS),
    timestamps as epoch-microsecond longs, fanned across cores for the
    Python codec stage (the local scan is a single parquet split; at
    production scale the repartition is a no-op to remove). Hash exchange
    on the unique event id, not round-robin: keyless repartition pays a
    local sort-before-repartition (SPARK-23207) that the deterministic
    key skips (r11: 0.52 s -> 0.31 s for this exchange at sf0.1)."""
    from ssiintegrateddatapipeline_spark.sources.batch import spread

    return spread(
        trade_envelope(spark, sf_dir).select(
            "trade_event_id",
            "symbol",
            "price",
            "volume",
            "trade_condition",
            F.unix_micros("event_timestamp").alias("event_ts_us"),
            F.unix_micros("start_timestamp").alias("start_ts_us"),
            "e2e_latency_secs",
        ),
        key="trade_event_id",
    )


def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 + S3 round trip over the trade envelope: serialize every event to
    Avro binary, deserialize, restore timestamps. Output equals the envelope
    exactly — the oracle is the envelope SQL itself.

    The encode and decode run FUSED in one Arrow kernel (guide §4.1):
    composed as avro_serialize → avro_deserialize the wire bytes are
    produced and consumed by Python on the same rows, so two mapInPandas
    stages would ship them through the JVM for nothing. The kernel uses the
    same compiled codec as the two operators, so the bytes are identical."""
    env = _wire_env(spark, sf_dir)

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dumps_b = avro_codec.compile_dumps_batch(TRADE_WIRE_SCHEMA)
        loads_b = avro_codec.compile_loads_batch(TRADE_WIRE_SCHEMA)
        for pdf in batches:
            yield pd.DataFrame(
                loads_b(dumps_b([pdf[n].tolist() for n in _FIELDS]))
            )

    decoded = env.mapInPandas(rt, _DECODED_SPARK_SCHEMA)
    return decoded.select(
        "trade_event_id",
        "symbol",
        "price",
        "volume",
        "trade_condition",
        F.timestamp_micros("event_ts_us").alias("event_timestamp"),
        F.timestamp_micros("start_ts_us").alias("start_timestamp"),
        "e2e_latency_secs",
    )


def avro_payload_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 over the wire bytes: per-symbol payload-size stats of the Avro
    binary — the engine-side equivalent of the payload-size histogram's
    input (data_synthesizer_finnhub_payload_size_bytes)."""
    env = _wire_env(spark, sf_dir)
    wire = avro_serialize(env)
    return (
        wire.groupBy("key")
        .agg(
            F.count("*").alias("n_messages"),
            F.min(F.octet_length("value")).alias("min_bytes"),
            F.max(F.octet_length("value")).alias("max_bytes"),
        )
        .select(F.col("key").alias("symbol"), "n_messages", "min_bytes", "max_bytes")
    )


# Reader-side schema evolution (the registry's BACKWARD gate made
# executable): V2 drops the e2e_latency_secs field and adds an `exchange`
# field with a default — the canonical compatible evolution. A V2 consumer
# must decode V1 wire bytes via Avro schema resolution
# (functions/avro_codec.compile_loads_resolved), exactly the lagging-
# consumer scenario use.latest.version=True producers create
# (kafka_producer/app/handlers/kafka_producer.py:53-62).
TRADE_WIRE_SCHEMA_V2 = {
    "type": "record",
    "name": "TradeEventWire",
    "namespace": "io.malmike.trades.wire",
    "fields": [
        {"name": "trade_event_id", "type": "string"},
        {"name": "symbol", "type": "string"},
        {"name": "price", "type": "double"},
        {"name": "volume", "type": "double"},
        {
            "name": "trade_condition",
            "type": ["null", {"type": "array", "items": "string"}],
            "default": None,
        },
        {"name": "event_ts_us", "type": "long"},
        {"name": "start_ts_us", "type": "long"},
        {"name": "exchange", "type": "string", "default": "BINANCE"},
    ],
}

_V2_FIELDS = [f["name"] for f in TRADE_WIRE_SCHEMA_V2["fields"]]


def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the envelope under the V1 writer schema, decode under the
    V2 reader: the dropped field is skipped mid-record, the added field
    materializes its default — per-row, from the binary, with no
    re-serialization (the resolution is the part the registry's BACKWARD
    gate promises)."""
    env = _wire_env(spark, sf_dir)

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fused V1-encode -> resolved V2-decode per Arrow chunk (dropped
        # field skipped mid-record, added field defaulted): one Python
        # boundary crossing instead of two — the wire bytes are produced
        # and consumed inside the same batch, exactly as a consumer
        # sidecar would, without shipping them through Arrow twice
        dumps_b = avro_codec.compile_dumps_batch(TRADE_WIRE_SCHEMA)
        loads_b = avro_codec.compile_loads_batch(
            TRADE_WIRE_SCHEMA, TRADE_WIRE_SCHEMA_V2
        )
        for pdf in batches:
            wire_bytes = dumps_b([pdf[n].tolist() for n in _FIELDS])
            yield pd.DataFrame(loads_b(wire_bytes))

    decoded = env.mapInPandas(
        rt,
        "trade_event_id string, symbol string, price double, volume double, "
        "trade_condition array<string>, event_ts_us long, start_ts_us long, "
        "exchange string",
    )
    return decoded.select(
        "trade_event_id",
        "symbol",
        "price",
        "volume",
        "trade_condition",
        F.timestamp_micros("event_ts_us").alias("event_timestamp"),
        F.timestamp_micros("start_ts_us").alias("start_timestamp"),
        "exchange",
    )


def corrupt_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 for the Avro boundary: per-record deserialization errors are
    routed, counted, and skipped — never crash the stream — mirroring the
    consumer's ValueDeserializationError handling
    (kafka_consumer/app/handlers/kafka_consumer.py:142-150).

    A deterministic subset of wire frames (trade_event_id md5 prefix
    '00', the same tamper device as trade_sign_verify) is truncated
    on the wire; the permissive decoder emits null columns + a corrupt
    flag for those rows and decoded values for the rest. The oracle
    predicts both the per-symbol ok/corrupt counts and an exact integer
    aggregate over the surviving decoded values."""
    env = _wire_env(spark, sf_dir)

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fused encode → deterministic truncation → permissive decode in
        # one Arrow kernel (guide §4.1): the wire frames are produced,
        # tampered, and consumed on the same rows — shipping them through
        # the JVM between two mapInPandas stages was pure transfer cost.
        # Failed records null out + flag, never crash the stream (F5
        # routing, columnar).
        dumps_b = avro_codec.compile_dumps_batch(TRADE_WIRE_SCHEMA)
        loads_b = avro_codec.compile_loads_batch(TRADE_WIRE_SCHEMA, permissive=True)
        for pdf in batches:
            wire = dumps_b([pdf[n].tolist() for n in _FIELDS])
            wire = [
                # truncated mid-record; None-guard keeps the F5 routing
                # path's never-crash contract on a null id (the SQL
                # substring() predecessor was null-safe)
                v[:5] if tid is not None and tid[:2] == "00" else v
                for tid, v in zip(pdf["trade_event_id"].tolist(), wire)
            ]
            cols = loads_b(wire)
            yield pd.DataFrame(
                {
                    "symbol": pdf["symbol"],
                    "volume": cols["volume"],
                    "corrupt": cols["_corrupt"],
                }
            )

    decoded = env.mapInPandas(rt, "symbol string, volume double, corrupt boolean")
    return decoded.groupBy("symbol").agg(
        F.sum(F.when(~F.col("corrupt"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("corrupt"), 1).otherwise(0)).alias("n_corrupt"),
        # volumes are small integers stored as doubles -> the sum is exact
        F.sum(F.when(~F.col("corrupt"), F.col("volume")).otherwise(0.0))
        .cast("long")
        .alias("ok_volume_units"),
    )


# The reference's SECOND topic schema: HealthSensorRecord (nested record +
# signature fields, kafka_initialiser/app/resources/avro/health_sensor.avsc)
# — exercises the codec's nested-record path on the driver contract, not
# just in property tests.
HEALTH_WIRE_SCHEMA = {
    "type": "record",
    "name": "HealthSensorRecord",
    "namespace": "com.example.health",
    "fields": [
        {
            "name": "data",
            "type": {
                "type": "record",
                "name": "SensorData",
                "fields": [
                    {"name": "id", "type": "string"},
                    {"name": "patient_id", "type": "string"},
                    {"name": "sensor_id", "type": "string"},
                    {"name": "sensor_type", "type": "string"},
                    {"name": "temperature", "type": "double"},
                    {"name": "systolic_bp", "type": "int"},
                    {"name": "diastolic_bp", "type": "int"},
                    {"name": "heart_rate", "type": "int"},
                ],
            },
        },
        {"name": "vc_store_signature", "type": "string"},
        {"name": "start_ts_us", "type": "long"},
        {"name": "did", "type": "string"},
    ],
}

_HEALTH_FLAT = (
    "id string, patient_id string, sensor_id string, sensor_type string, "
    "temperature double, systolic_bp int, diastolic_bp int, heart_rate int, "
    "vc_store_signature string, start_ts_us long, did string"
)


def health_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-record wire round trip on the health topic: synthesize
    HealthSensorRecord rows from events deterministically, encode to Avro
    binary (nested record branch of the codec), decode, flatten. The
    oracle recomputes the synthesis — equality proves the nested
    encode/decode is lossless on the engine surface."""
    from ssiintegrateddatapipeline_spark.sources.batch import load_table, spread

    ev = (
        load_table(spark, sf_dir, "events")
        .transform(spread)
        .select(
            F.md5(F.col("event_id").cast("string")).alias("id"),
            F.concat(F.lit("patient-"), F.col("user_id")).alias("patient_id"),
            F.concat(F.lit("sensor-"), F.col("event_id") % 10).alias("sensor_id"),
            F.col("event_type").alias("sensor_type"),
            F.col("value").alias("temperature"),
            (F.lit(90) + F.col("event_id") % 50).cast("int").alias("systolic_bp"),
            (F.lit(60) + F.col("user_id") % 30).cast("int").alias("diastolic_bp"),
            (F.lit(55) + (F.col("event_id") * 7) % 60)
            .cast("int")
            .alias("heart_rate"),
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit("|sig"))).alias(
                "vc_store_signature"
            ),
            F.unix_micros("ts").alias("start_ts_us"),
            F.concat(
                F.lit("did:key:z"),
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            ).alias("did"),
        )
    )

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dumps = avro_codec.compile_dumps(HEALTH_WIRE_SCHEMA)
        loads = avro_codec.compile_loads(HEALTH_WIRE_SCHEMA)
        data_cols = [
            "id",
            "patient_id",
            "sensor_id",
            "sensor_type",
            "temperature",
            "systolic_bp",
            "diastolic_bp",
            "heart_rate",
        ]
        for pdf in batches:
            out_rows = []
            for r in pdf.to_dict("records"):
                rec = {
                    "data": {c: r[c] for c in data_cols},
                    "vc_store_signature": r["vc_store_signature"],
                    "start_ts_us": r["start_ts_us"],
                    "did": r["did"],
                }
                back = loads(dumps(rec))
                flat = dict(back["data"])
                flat.update(
                    vc_store_signature=back["vc_store_signature"],
                    start_ts_us=back["start_ts_us"],
                    did=back["did"],
                )
                out_rows.append(flat)
            yield pd.DataFrame(out_rows)

    return ev.mapInPandas(rt, _HEALTH_FLAT)


def jwe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keyManagerEncryptJWE / keyManagerDecryptJWE
    (veramo-methods.ts: Key Management) as an engine stage: each sampled
    event's ``props`` payload is encrypted to its symbol's X25519 key
    (compact JWE, ECDH-ES + A256GCM — functions/crypto.py documents the
    deterministic-ephemeral deviation), a deterministic subset is
    tampered mid-ciphertext, and decryption tallies authenticated
    success vs AEAD rejection per symbol, with an integer checksum over
    the recovered plaintexts proving the cycle byte-lossless.

    Both crypto hops are Arrow-batched Pandas UDFs on a hash-spread
    projection (the 1-in-16 sample gate bounds the work exactly like
    the sign/verify matrix)."""
    from ssiintegrateddatapipeline_spark.functions.text_funcs import md5_int32
    from ssiintegrateddatapipeline_spark.operators.identity import SYMBOLS
    from ssiintegrateddatapipeline_spark.sources.batch import load_table, spread

    arr = F.array(*[F.lit(s) for s in SYMBOLS])
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 16 == 0)
        .select(
            "event_id",
            F.element_at(arr, (F.col("user_id") % 5 + 1).cast("int")).alias(
                "symbol"
            ),
            F.col("props").alias("payload"),
        )
        .transform(spread, "event_id")
    )

    @F.pandas_udf("string")
    def _roundtrip(
        symbols: pd.Series, payloads: pd.Series, tampers: pd.Series
    ) -> pd.Series:
        # fused encrypt → deterministic mid-ciphertext flip → decrypt in
        # one Arrow kernel (guide §4.1): the JWE tokens are produced and
        # consumed on the same rows, so the former _enc / JVM-splice /
        # _dec chain shipped every token across the Python boundary twice
        # for nothing. The splice reproduces the SQL
        # substring(jwe,1,40) || 'x' || substring(jwe,42) exactly.
        from ssiintegrateddatapipeline_spark.functions import crypto

        out = []
        ap = out.append
        for s, p, tam in zip(symbols, payloads, tampers):
            jwe = crypto.jwe_encrypt_deterministic(p.encode(), s)
            if tam:  # flip a ciphertext character: AEAD must reject
                jwe = jwe[:40] + "x" + jwe[41:]
            pt = crypto.jwe_decrypt(jwe, s)
            ap(None if pt is None else pt.decode())
        return pd.Series(out)

    dec = ev.withColumn(
        "plain",
        _roundtrip(
            F.col("symbol"),
            F.col("payload"),
            (F.col("event_id") % 50 == 0).alias("tampered"),
        ),
    )
    return dec.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.sum(F.col("plain").isNotNull().cast("long")).alias("n_ok"),
        F.sum(F.col("plain").isNull().cast("long")).alias("n_rejected"),
        F.sum(
            F.when(F.col("plain").isNotNull(), md5_int32(F.col("plain")))
            .otherwise(0)
        ).alias("plain_checksum"),
    )


# ---------------------------------------------------------------------------
# Protobuf wire path — the same envelope over the other standard Kafka wire
# format (functions/proto_codec.py implements the public wire-format spec;
# spark-protobuf's from_protobuf/to_protobuf need a package + compiled
# descriptor set that this build doesn't carry, mirroring the spark-avro
# situation). Arrow-batched mapInPandas kernels, one codec compile per
# worker; encoding is canonical (ascending field order), so sizes are a
# pure function of field values and the size oracle is exact SQL.
# ---------------------------------------------------------------------------


def proto_serialize(df: DataFrame) -> DataFrame:
    """rows -> (key, value) with value = TradeEventProto wire bytes."""
    from ssiintegrateddatapipeline_spark.functions import proto_codec

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = [pdf[n].tolist() for n in _FIELDS]
            yield pd.DataFrame(
                {"key": pdf["symbol"], "value": proto_codec.encode_batch(cols)}
            )

    return df.mapInPandas(enc, "key string, value binary")


def proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf twin of `wire_avro_roundtrip`: encode every envelope row to
    proto wire bytes, decode, restore timestamps — output equals the
    envelope exactly, so the oracle is the envelope SQL itself.

    Encode→decode run fused in one Arrow kernel (guide §4.1, same
    rationale as avro_roundtrip — the wire bytes have no consumer outside
    this kernel)."""
    from ssiintegrateddatapipeline_spark.functions import proto_codec

    env = _wire_env(spark, sf_dir)

    def rt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            wire = proto_codec.encode_batch([pdf[n].tolist() for n in _FIELDS])
            recs = [proto_codec.decode_trade(v) for v in wire]
            yield pd.DataFrame.from_records(recs, columns=_FIELDS)

    decoded = env.mapInPandas(
        rt,
        "trade_event_id string, symbol string, price double, volume double,"
        " trade_condition array<string>, event_ts_us long, start_ts_us long,"
        " e2e_latency_secs double",
    )
    return decoded.select(
        "trade_event_id",
        "symbol",
        "price",
        "volume",
        "trade_condition",
        F.timestamp_micros("event_ts_us").alias("event_timestamp"),
        F.timestamp_micros("start_ts_us").alias("start_timestamp"),
        "e2e_latency_secs",
    )


def proto_payload_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol proto payload-size stats — the avro_payload_sizes twin,
    measured from the REAL encoded bytes while the oracle recomputes every
    size analytically from the wire spec (tag + varint + payload per
    field), so encoder and spec cannot drift apart silently."""
    env = _wire_env(spark, sf_dir)
    wire = proto_serialize(env)
    return (
        wire.groupBy("key")
        .agg(
            F.count("*").alias("n_messages"),
            F.min(F.octet_length("value")).alias("min_bytes"),
            F.max(F.octet_length("value")).alias("max_bytes"),
            F.sum(F.octet_length("value")).alias("total_bytes"),
        )
        .select(
            F.col("key").alias("symbol"),
            "n_messages",
            "min_bytes",
            "max_bytes",
            "total_bytes",
        )
    )


def _plain_varint_len_sql(col: str) -> str:
    """Byte length of the PLAIN (non-zigzag) varint of non-negative
    ``col`` — exact integer CASE thresholds, no float log hazards."""
    conds = " ".join(
        f"WHEN {col} < {1 << (7 * k)} THEN {k}" for k in range(1, 10)
    )
    return f"(CASE {conds} ELSE 10 END)"


# Analytic proto wire-size accounting for TradeEventProto, field by field
# (canonical ascending-field encoding, explicit presence):
#   trade_event_id  md5 hex, 32 chars   -> 1 tag + 1 len + 32       = 34
#   symbol                              -> 1 tag + 1 len + strlen
#   price / volume / e2e_latency_secs   -> 3 x (1 tag + 8 fixed)    = 27
#   trade_condition repeated string     -> per element 1 tag + 1 len
#                                          + strlen; empty -> absent
#   event_ts_us / start_ts_us           -> 1 tag + plain varint each
_PROTO_SIZE_SQL = (
    "34 + (2 + strlen(symbol)) + 27 "
    "+ CASE WHEN event_type != 'view' THEN 2 + strlen(event_type) "
    "       ELSE 0 END "
    f"+ 1 + {_plain_varint_len_sql('event_ts_us')} "
    f"+ 1 + {_plain_varint_len_sql('start_ts_us')}"
)


QUERIES = {
    "wire_proto_roundtrip": proto_roundtrip,
    "wire_proto_payload_sizes": proto_payload_sizes,
    "wire_jwe_roundtrip": jwe_roundtrip,
    "wire_avro_roundtrip": avro_roundtrip,
    "wire_avro_payload_sizes": avro_payload_sizes,
    "wire_health_roundtrip": health_roundtrip,
    "wire_schema_evolution": schema_evolution_roundtrip,
    "wire_corrupt_route": corrupt_route,
}

# the roundtrip restores the envelope exactly -> reuse its oracle SQL
from ssiintegrateddatapipeline_spark.operators.trade_pipeline import (  # noqa: E402
    _SYMBOLS_SQL,
    ORACLES as _TRADE_ORACLES,
)


def _varint_len_sql(col: str) -> str:
    """Byte length of the zigzag varint of non-negative ``col`` — exact
    integer CASE thresholds (2v < 2^(7k)), no float log hazards."""
    conds = " ".join(
        f"WHEN 2 * {col} < {1 << (7 * k)} THEN {k}" for k in range(1, 10)
    )
    return f"(CASE {conds} ELSE 10 END)"


# Analytic Avro wire-size accounting for TRADE_WIRE_SCHEMA, field by field
# (Avro 1.12 binary spec, mirrored by functions/avro_codec.py):
#   trade_event_id  md5 hex, always 32 chars -> 1 len byte + 32
#   symbol          1 len byte + strlen      (ASCII)
#   price/volume/e2e_latency_secs            3 x 8 fixed doubles
#   trade_condition union idx (1 byte) + array:
#       non-empty: count varint (1) + [1 len byte + strlen(item)] + 0-term
#       empty:     just the 0 terminator (1 byte)
#   event_ts_us / start_ts_us                zigzag varint lengths
_WIRE_SIZE_SQL = (
    "33 + (1 + strlen(symbol)) + 24 + 1 "
    "+ CASE WHEN event_type != 'view' THEN 3 + strlen(event_type) "
    "       ELSE 1 END "
    f"+ {_varint_len_sql('event_ts_us')} + {_varint_len_sql('start_ts_us')}"
)

ORACLES = {
    # the JWE cycle is lossless for untampered rows and AEAD-rejected for
    # tampered ones, so the oracle is pure arithmetic over the original
    # events: the sample gate, the tamper gate, and props checksums
    "wire_jwe_roundtrip": f"""
        WITH sampled AS (
            SELECT {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
                   event_id % 50 = 0 AS tampered,
                   props
            FROM events WHERE event_id % 16 = 0
        )
        SELECT symbol, count(*) AS n_messages,
               sum(CASE WHEN tampered THEN 0 ELSE 1 END)::BIGINT AS n_ok,
               sum(CASE WHEN tampered THEN 1 ELSE 0 END)::BIGINT
                   AS n_rejected,
               sum(CASE WHEN tampered THEN 0 ELSE
                   ('0x' || substr(md5(props), 1, 8))::UBIGINT::BIGINT
                   END)::BIGINT AS plain_checksum
        FROM sampled GROUP BY symbol
    """,
    "wire_avro_roundtrip": _TRADE_ORACLES["trade_envelope"],
    "wire_proto_roundtrip": _TRADE_ORACLES["trade_envelope"],
    "wire_proto_payload_sizes": f"""
        WITH env AS (
            SELECT {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
                   event_type,
                   epoch_us(ts) AS event_ts_us,
                   epoch_us(ts) + (event_id % 5) * 1000000 AS start_ts_us
            FROM events
        ),
        sized AS (SELECT symbol, {_PROTO_SIZE_SQL} AS n_bytes FROM env)
        SELECT symbol, count(*) AS n_messages,
               min(n_bytes) AS min_bytes, max(n_bytes) AS max_bytes,
               sum(n_bytes)::BIGINT AS total_bytes
        FROM sized GROUP BY symbol
    """,
    "wire_avro_payload_sizes": f"""
        WITH env AS (
            SELECT {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
                   event_type,
                   epoch_us(ts) AS event_ts_us,
                   epoch_us(ts) + (event_id % 5) * 1000000 AS start_ts_us
            FROM events
        ),
        sized AS (SELECT symbol, {_WIRE_SIZE_SQL} AS n_bytes FROM env)
        SELECT symbol, count(*) AS n_messages,
               min(n_bytes) AS min_bytes, max(n_bytes) AS max_bytes
        FROM sized GROUP BY symbol
    """,
    # per-symbol ok/corrupt split under the '00'-prefix truncation rule,
    # plus the exact integer volume aggregate over surviving rows
    "wire_corrupt_route": f"""
        WITH env AS (
            SELECT md5(event_id::VARCHAR) AS id,
                   {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
                   (event_id % 100 + 1) AS vol_units
            FROM events
        )
        SELECT symbol,
               sum(CASE WHEN substr(id, 1, 2) != '00' THEN 1 ELSE 0 END)::BIGINT
                   AS n_ok,
               sum(CASE WHEN substr(id, 1, 2) = '00' THEN 1 ELSE 0 END)::BIGINT
                   AS n_corrupt,
               sum(CASE WHEN substr(id, 1, 2) != '00' THEN vol_units
                        ELSE 0 END)::BIGINT AS ok_volume_units
        FROM env GROUP BY symbol
    """,
    # V2 view of the envelope: e2e dropped, exchange defaulted
    "wire_schema_evolution": f"""
        SELECT md5(event_id::VARCHAR) AS trade_event_id,
               {_SYMBOLS_SQL}[(user_id % 5 + 1)::INT] AS symbol,
               value AS price,
               (event_id % 100 + 1)::DOUBLE AS volume,
               CASE WHEN event_type != 'view' THEN [event_type]
                    ELSE []::VARCHAR[] END AS trade_condition,
               ts AS event_timestamp,
               make_timestamp(epoch_us(ts) + (event_id % 5) * 1000000)
                   AS start_timestamp,
               'BINANCE' AS exchange
        FROM events
    """,
    "wire_health_roundtrip": """
        SELECT md5(event_id::VARCHAR) AS id,
               'patient-' || user_id::VARCHAR AS patient_id,
               'sensor-' || (event_id % 10)::VARCHAR AS sensor_id,
               event_type AS sensor_type,
               value AS temperature,
               (90 + event_id % 50)::INT AS systolic_bp,
               (60 + user_id % 30)::INT AS diastolic_bp,
               (55 + (event_id * 7) % 60)::INT AS heart_rate,
               md5(event_id::VARCHAR || '|sig') AS vc_store_signature,
               epoch_us(ts) AS start_ts_us,
               'did:key:z' || substr(md5(user_id::VARCHAR), 1, 8) AS did
        FROM events
    """,
}
