"""Kafka connector factory — the reference's consumer/producer wiring as
Spark Structured Streaming options.

Mirrors, option for option, the reference's confluent-kafka clients:

- consumer (kafka_consumer/app/handlers/kafka_consumer.py:30-58):
  ``bootstrap.servers``, ``group.id='malmike.kafka_consumer.avro.consumer.2'``,
  string key deserializer, Avro value deserializer,
  ``auto.offset.reset='latest'``;
- producer (kafka_producer/app/handlers/kafka_producer.py:30-62):
  ``bootstrap.servers``, string key serializer, registry-backed Avro value
  serializer (``auto.register.schemas=False``, ``use.latest.version=True``).

Spark's Kafka source expresses the same semantics differently:
``auto.offset.reset`` becomes ``startingOffsets`` (Spark manages offsets in
the checkpoint, not in a Kafka consumer group), ``group.id`` becomes the
optional ``kafka.group.id`` passthrough (useful for ACL'd clusters), and the
Avro boundary is the wire codec (operators/wire.py — the engine's own Avro
codec, byte-compatible with any Avro reader or writer of the same schema).

Offline there is no broker and no kafka-sql jar, so the factory builds and
returns the fully-configured option maps and reader/writer builders without
calling ``.load()``/``.start()`` — unit tests assert the option dicts; on a
real cluster the same objects run unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

# the reference's fixed consumer group (kafka_consumer.py:47)
CONSUMER_GROUP_ID = "malmike.kafka_consumer.avro.consumer.2"
# the reference's trade topic (kafka_initialiser config; one topic per run)
DEFAULT_TOPIC = "trade_topic"


@dataclass(frozen=True)
class KafkaSourceConfig:
    """Consumer-side configuration (S3 + the reference's consumer props)."""

    bootstrap_servers: str
    topics: tuple[str, ...] = (DEFAULT_TOPIC,)
    group_id: str | None = CONSUMER_GROUP_ID
    # 'auto.offset.reset': 'latest' (kafka_consumer.py:51) — new streams
    # start from the tip; Spark checkpoints its own offsets thereafter
    starting_offsets: str = "latest"
    fail_on_data_loss: bool = False
    # bound per-micro-batch read for backpressure (the reference bounds via
    # consumer poll loops; Spark bounds via maxOffsetsPerTrigger)
    max_offsets_per_trigger: int | None = None
    extra: dict = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": ",".join(self.topics),
            "startingOffsets": self.starting_offsets,
            "failOnDataLoss": str(self.fail_on_data_loss).lower(),
        }
        if self.group_id:
            opts["kafka.group.id"] = self.group_id
        if self.max_offsets_per_trigger is not None:
            opts["maxOffsetsPerTrigger"] = str(self.max_offsets_per_trigger)
        opts.update({k: str(v) for k, v in self.extra.items()})
        return opts

    def reader(self, spark: SparkSession, streaming: bool = True):
        """A fully-configured DataStreamReader/DataFrameReader; the caller
        owns ``.load()`` (requires a reachable broker + kafka-sql package)."""
        base = spark.readStream if streaming else spark.read
        return base.format("kafka").options(**self.options())


@dataclass(frozen=True)
class KafkaSinkConfig:
    """Producer-side configuration (K2 + the reference's producer props)."""

    bootstrap_servers: str
    topic: str = DEFAULT_TOPIC
    checkpoint_location: str | None = None
    extra: dict = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "topic": self.topic,
        }
        if self.checkpoint_location:
            opts["checkpointLocation"] = self.checkpoint_location
        opts.update({k: str(v) for k, v in self.extra.items()})
        return opts

    def writer(self, wire_df: DataFrame, streaming: bool = True):
        """A configured writer over a (key binary, value binary) frame —
        build it with sinks.kafka_wire_frame + wire.avro_serialize, matching
        the reference's StringSerializer key / AvroSerializer value pair.
        The caller owns ``.start()`` / ``.save()``."""
        cols = set(wire_df.columns)
        if not {"key", "value"} <= cols:
            raise ValueError(
                f"Kafka sink frame needs key+value columns, got {sorted(cols)}"
            )
        base = wire_df.writeStream if streaming else wire_df.write
        return base.format("kafka").options(**self.options())


def decoded_stream(spark: SparkSession, config: KafkaSourceConfig) -> "object":
    """The consumer pipeline shape, composed: kafka source -> cast key to
    string (StringDeserializer) -> Avro-decode value (wire codec). Returns
    the un-loaded reader plus the decode function so the caller can
    ``decode(reader.load())`` when a broker exists — the decode stage is the
    already-tested wire.avro_deserialize."""
    from pyspark.sql import functions as F

    from ssiintegrateddatapipeline_spark.operators import wire

    reader = config.reader(spark)

    def decode(raw: DataFrame) -> DataFrame:
        framed = raw.select(
            F.col("key").cast("string").alias("key"),
            F.col("value"),
            "topic",
            "partition",
            "offset",
            "timestamp",
        )
        return wire.avro_deserialize(framed.select("key", "value"))

    return reader, decode


def registry_value_contract(registry, schema: dict, subject_name: str | None = None):
    """The producer's registry contract (kafka_producer.py:53-62):
    ``auto.register.schemas=False`` + ``use.latest.version=True`` — the
    serializer must NOT create the subject; it looks up the latest
    registered version and pins it. Returns that RegisteredSchema.

    Raises KeyError when the subject was never registered (the exact
    failure mode the reference surfaces on an uninitialized cluster —
    kafka_initialiser owns registration, producers only consume it)."""
    from ssiintegrateddatapipeline_spark.schemas.registry import subject_for

    subject = subject_for(schema, subject_name)
    latest = registry.get_latest_version(subject)  # KeyError if absent
    return latest
