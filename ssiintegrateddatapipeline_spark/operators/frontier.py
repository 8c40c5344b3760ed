"""Pareto-frontier (skyline) operators — sort-based, no pairwise join.

The skyline of a set of points under "maximize every dimension" is the
subset no other point dominates (>= in all dimensions, > in at least one).
The textbook SQL definition is a quadratic ``NOT EXISTS`` self-join — a
nested-loop join over every pair, hopeless at warehouse scale. For two
dimensions there is an exact O(n log n) reformulation: sort by the first
dimension descending, then a point is dominated iff the running max of the
second dimension over the STRICTLY-PRECEDING rows reaches its own value.
(Preceding rows have d1 strictly greater, or d1 equal and d2 strictly
greater — exactly the dominators, once exact duplicates are pre-grouped.)

That turns the skyline into one hash aggregation (distinct-pair grouping)
plus one global running max — which this engine computes with the
two-phase range-bucket machinery (``functions/twophase.py``): quantile
range buckets monotone along the descending sort, per-bucket exclusive
prefix maxima folded back as a plan-time literal, within-bucket ordinary
partitioned windows. No ``Exchange SinglePartition``, no pairwise join.

Scale notes (100 TB):
- the distinct-pair pre-aggregation is a map-side-combined hash agg; for
  discretized measures (cents x days) it bounds the ranked set by the
  value-domain product, independent of row count;
- the ranking pass is the standard two-phase shape: one quantile sketch
  job, one hash shuffle on the range bucket, bounded windows;
- the equivalence to the quadratic dominance definition is pinned by a
  brute-force ``NOT EXISTS`` cross-check at sf0.001 in
  tests/test_frontier.py — the oracle itself uses the window formulation
  so the sf0.1 hash sweep stays cheap.

Reference parity: the reference has no skyline operator (flat trade
streams); this extends the warehouse layer like the SCD2/interval/
hierarchy operators. DuckDB oracle: same distinct-pair grouping + one
window with a ``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING`` frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.functions.twophase import (
    quantile_buckets,
    two_phase_prefix_max,
)
from ssiintegrateddatapipeline_spark.sources.batch import load_table


def skyline_2d(df: DataFrame, d1, d2, keep: list[str]) -> DataFrame:
    """Rows of ``df`` not dominated under (maximize ``d1``, maximize
    ``d2``). ``d1``/``d2`` are integer columns; (``d1``, ``d2``) pairs must
    be distinct (pre-group duplicates — callers own the tie semantics:
    identical points do not dominate each other)."""
    bucket = quantile_buckets(df, d1, descending=True)
    ranked = two_phase_prefix_max(
        df, bucket, [d1.desc(), d2.desc()], d2, out="__prev_max"
    )
    return ranked.where(
        F.col("__prev_max").isNull() | (F.col("__prev_max") < d2)
    ).select(*keep)


def pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of orders under (maximize total price, maximize recency):
    the "frontier of the biggest recent deals" — no other order is both
    at-least-as-large and at-least-as-recent. Exact-integer dimensions
    (price cents, epoch micros) with duplicate (price, date) pairs
    pre-grouped into one frontier point carrying its order count."""
    o = load_table(spark, sf_dir, "orders")
    pairs = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.col("o_orderdate").alias("order_date"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    pairs = pairs.withColumn("__us", F.unix_micros(F.col("order_date")))
    return skyline_2d(
        pairs,
        F.col("price_cents"),
        F.col("__us"),
        ["price_cents", "order_date", "n_orders"],
    )


QUERIES = {
    "analytics_pareto_skyline": pareto_skyline,
}

# The quadratic dominance definition this is equivalent to (cross-checked
# brute-force at sf0.001 in tests/test_frontier.py):
#   SELECT * FROM pairs p WHERE NOT EXISTS (
#     SELECT 1 FROM pairs q
#     WHERE q.price_cents >= p.price_cents AND q.order_date >= p.order_date
#       AND (q.price_cents, q.order_date) != (p.price_cents, p.order_date))
ORACLES = {
    "analytics_pareto_skyline": """
        WITH pairs AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
                   o_orderdate AS order_date,
                   count(*) AS n_orders
            FROM orders GROUP BY 1, 2
        ), ranked AS (
            SELECT price_cents, order_date, n_orders,
                   max(order_date) OVER (
                       ORDER BY price_cents DESC, order_date DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prev_max
            FROM pairs
        )
        SELECT price_cents, order_date, CAST(n_orders AS BIGINT) AS n_orders
        FROM ranked
        WHERE prev_max IS NULL OR prev_max < order_date
    """,
}
