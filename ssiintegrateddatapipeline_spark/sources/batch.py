"""Batch parquet sources for the driver's test tables.

The reference ingests from WebSocket/Kafka (SURVEY §2.1 S1-S5); the batch
equivalent here is a plain columnar scan. Expressing the load as
``spark.read.parquet`` keeps predicate pushdown / column pruning available to
Catalyst — filters written downstream of these loaders reach the parquet
reader (check ``.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to always broadcast in joins.
SMALL_DIMS = {"region", "nation", "supplier"}


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny literal frame as a LocalRelation, not a Python-RDD scan.

    ``createDataFrame(list, ...)`` builds a LogicalRDD whose every scan or
    broadcast pays a Python-worker round trip (~0.5-1 s per use on
    local[32] — measured: a 5x6-row nested-loop join over two such frames
    cost 10 s). Routing the same rows through a pandas DataFrame takes the
    Arrow path and lands as a LocalRelation: driver-side data, no job, and
    eligible for driver-side broadcast without touching an executor."""
    import pandas as pd

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if isinstance(rows, pd.DataFrame):
        pdf = rows
    else:
        pdf = pd.DataFrame(
            [tuple(r) for r in rows], columns=schema.fieldNames()
        )
    if pdf.empty:
        pdf = pdf.astype(object)
    return spark.createDataFrame(pdf, schema=schema)


# Testdata timestamps have shipped in two physical layouts: INT64
# TIMESTAMP(NANOS) (surfacing as long nanoseconds under
# spark.sql.legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS) without
# a timezone (surfacing as TIMESTAMP_NTZ when Spark's NTZ inference is on).
# Normalize both to session-timezone TimestampType — the engine runs UTC
# everywhere (session.py), so the instant semantics match DuckDB's naive
# microsecond TIMESTAMP either way.
TIMESTAMP_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Session-scoped loader memo: every load_table call otherwise re-lists the
# path and re-reads parquet footers (~60-90 ms per call even with a warm
# FS cache). It stays on the gated perfbench ``dashboard`` path: with the
# memo cleared before each panel (seed 7, 50k rows, local[4], 10
# interleaved rounds) the mean of per-panel medians rose from 0.354 s to
# 0.434 s, +23% against that workload's 0.25 bound.
# DataFrames are immutable, so handing the same analyzed relation to every
# caller is safe; keyed by applicationId so a new session never sees stale
# JVM references. This is metadata caching only — no .cache()/persist of
# row data, and scan pushdown still specializes per downstream query.
#
# Contract: an sf_dir's CONTENTS ARE IMMUTABLE for the session — the memo
# freezes the file listing, so files added to the directory mid-session are
# invisible to later load_table calls. Sweeping a mutated/replaced dataset
# requires caches.clear_caches(spark) first.
from ssiintegrateddatapipeline_spark.caches import register

_LOAD_MEMO: dict[tuple[str, str, str], DataFrame] = register({})


def load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The un-normalized parquet relation (file-layout schema), memoized.
    Streaming readers need THIS schema — readStream.schema must match the
    physical files, before any timestamp normalization."""
    key = (spark.sparkContext.applicationId, sf_dir, name + "#raw")
    hit = _LOAD_MEMO.get(key)
    if hit is None:
        hit = _LOAD_MEMO[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _LOAD_MEMO.get(key)
    if hit is not None:
        return hit
    df = load_raw(spark, sf_dir, name)
    for col in TIMESTAMP_COLS.get(name, ()):
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            # integer division: float division would lose precision on
            # 19-digit nanosecond values (> 2^53)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # naive micros reinterpreted as a UTC instant (session tz is UTC)
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    _LOAD_MEMO[key] = df
    return df


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition to the session's default parallelism, for placing a
    CPU-heavy stage (crypto/codec UDF, large explode) right after a
    narrow scan.

    The local testdata files are single-row-group parquet — one split —
    so without this the heavy stage inherits ONE partition and runs on one
    core. On production data the scan is already wide, and the repartition
    moves only the narrow projection feeding the heavy stage.

    Pass ``key`` (a unique/high-cardinality column) when one exists:
    hash exchange on a deterministic key skips the local
    sort-before-repartition that every keyless round-robin repartition
    pays (SPARK-23207's retry-determinism sort — measured 0.52 s vs
    0.31 s for the same 100k-row exchange at sf0.1)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(n, F.col(key))
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view so plans can also be spark.sql()."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
