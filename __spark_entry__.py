"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (windowed throughput, the
reference's headline Q3: SURVEY §2.6) at sf0.001. ``queries()`` /
``oracle_sql()`` aggregate every implemented operator's (spark, sf_dir) ->
DataFrame callable and its DuckDB oracle twin from the engine modules.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ssiintegrateddatapipeline_spark.operators import (
    analytics,
    asof,
    credstore,
    dedup,
    experiment,
    frontier,
    hierarchy,
    metrics,
    multimodal,
    profiling,
    sampling,
    scd,
    similarity,
    store,
    text,
    trade_pipeline,
    transform,
    wire,
)
from ssiintegrateddatapipeline_spark.plans import pipeline as pipeline_plans
from ssiintegrateddatapipeline_spark.plans import relational
from ssiintegrateddatapipeline_spark.sources import files as file_sources
from ssiintegrateddatapipeline_spark.sources import trade_feed
from ssiintegrateddatapipeline_spark.streaming import pipeline as streaming_pipeline

_MODULES = [
    analytics,
    asof,
    relational,
    pipeline_plans,
    trade_pipeline,
    text,
    dedup,
    experiment,
    frontier,
    hierarchy,
    similarity,
    multimodal,
    sampling,
    profiling,
    scd,
    store,
    transform,
    wire,
    metrics,
    credstore,
    trade_feed,
    file_sources,
    streaming_pipeline,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return analytics.windowed_throughput(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out
