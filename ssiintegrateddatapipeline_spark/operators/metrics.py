"""Prometheus-style metric families as DataFrame aggregations (A1-A3).

The reference instruments everything with prometheus_client metric families
(counters kafka_consumer/app/metrics/metrics.py:41-45, histograms :47-60
with the _bucket/_sum/_count triple, gauges :63-101) which Prometheus
scrapes into a time-series store. The engine-side equivalent is a *metrics
table*: one long-format DataFrame (metric, label, le, value) produced by
three family builders, writable through sinks.foreach_batch_metrics_sink as
the streaming K4 sink.

Histogram semantics are exactly Prometheus's: cumulative `le` buckets
(value <= le counts, +Inf == _count), plus _sum and _count rows — the same
shape histogram_quantile() consumes. The bucket rows come from
analytics.bucket_rows; the quantile panels read the same counts in wide form
(analytics.bucket_counts) through analytics.histogram_quantile_sql.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.operators.analytics import (
    bucket_counts,
    bucket_rows,
    histogram_quantile_sql,
    sql_double,
)
from ssiintegrateddatapipeline_spark.sources.batch import load_table, local_frame

METRICS_SCHEMA_COLS = ("metric", "label", "le", "value")


def counter(df: DataFrame, name: str, label_col: str) -> DataFrame:
    """A1: counter family — count per label value."""
    return df.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").cast("double").alias("value")
    ).select(
        F.lit(name).alias("metric"),
        "label",
        F.lit(None).cast("double").alias("le"),
        "value",
    )


def gauge_last(df: DataFrame, name: str, label_col: str, value_col: str, ts_col: str) -> DataFrame:
    """A3: gauge family — last observed value per label (by event time)."""
    return df.groupBy(F.col(label_col).alias("label")).agg(
        F.max_by(F.col(value_col), F.col(ts_col)).cast("double").alias("value")
    ).select(
        F.lit(name).alias("metric"),
        "label",
        F.lit(None).cast("double").alias("le"),
        "value",
    )


def histogram(
    df: DataFrame, name: str, label_col: str, value_col: str, buckets: list[float]
) -> DataFrame:
    """A2: histogram family — cumulative le buckets + _sum + _count."""
    labeled = df.select(F.col(label_col).alias("label"), F.col(value_col).alias("v"))
    cum = bucket_rows(labeled, ["label"], "v", buckets).selectExpr(
        f"'{name}_bucket' AS metric", "label", "le", "CAST(cum_count AS DOUBLE) AS value"
    )
    sums = labeled.groupBy("label").agg(
        F.round(F.sum("v"), 4).alias("value"), F.count("*").cast("double").alias("cnt")
    )
    sum_rows = sums.select(
        F.lit(f"{name}_sum").alias("metric"),
        "label",
        F.lit(None).cast("double").alias("le"),
        F.col("value").cast("double").alias("value"),
    )
    count_rows = sums.select(
        F.lit(f"{name}_count").alias("metric"),
        "label",
        F.lit(None).cast("double").alias("le"),
        F.col("cnt").alias("value"),
    )
    return cum.unionByName(sum_rows).unionByName(count_rows)


VALUE_BUCKETS = [1.0, 2.0, 5.0, 10.0, 25.0, 50.0, 100.0, 150.0, 200.0, 300.0]


def metrics_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scrape: counters + gauges + histograms over the events
    stream, one long-format table (the engine's /metrics endpoint)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        counter(ev, "events_processed_total", "event_type")
        .unionByName(gauge_last(ev, "last_value", "event_type", "value", "ts"))
        .unionByName(
            histogram(ev, "event_value", "event_type", "value", VALUE_BUCKETS)
        )
    )


RESET_EVERY = 500  # simulated process restart: counter wraps at this count


def counter_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL `increase()` with counter-reset detection — the semantic the
    reference's rate() dashboards depend on (a consumer restart zeroes its
    counters; naive last-minus-first goes negative and undercounts).

    A scraped counter series is derived from events (per-minute cumulative
    count, wrapped at RESET_EVERY to plant deterministic resets), then the
    Prometheus rule is applied per sample: delta = v_t - v_{t-1} when
    monotone, else v_t (the restart means everything since the reset
    counts). One groupBy + one window + one final agg — the window
    partitioning (by series) is exactly how a 100 TB metrics store shards.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("minute")
    cum = F.sum("n").over(w)
    sampled = per_min.select(
        "event_type", "minute", (cum % RESET_EVERY).alias("sample")
    )
    prev = F.lag("sample").over(Window.partitionBy("event_type").orderBy("minute"))
    deltas = sampled.select(
        "event_type",
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("sample") >= prev, F.col("sample") - prev)
        .otherwise(F.col("sample"))
        .alias("delta"),
        F.when(F.col("sample") < prev, 1).otherwise(0).alias("reset"),
    )
    return deltas.groupBy("event_type").agg(
        F.sum("delta").alias("increase"),
        F.sum("reset").alias("n_resets"),
        F.count("*").alias("n_samples"),
    )


COARSE_BUCKETS = [5.0, 25.0, 100.0, 300.0]


def histogram_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram downsampling — the Prometheus recording-rule / federation
    op: merge the per-type value histograms into ONE global histogram,
    re-grid it to a coarse 4-bucket grid, and report the p95 each grid
    yields, quantifying the quantile-precision cost of keeping fewer
    buckets at the aggregation tier.

    Rebucketing CUMULATIVE buckets to a sub-grid is exact — drop the
    non-retained `le` rows (each kept row already counts everything <= le)
    — which is precisely why Prometheus histograms are cumulative: any
    coarsening is a filter, never a re-scan. One corpus pass builds the
    fine cumulative counts; each grid's p95 is the shared
    ``analytics.histogram_quantile_sql`` over its subset of those columns.
    """
    ev = load_table(spark, sf_dir, "events")
    # ONE corpus scan, ZERO joins, kept eager: the fine counts and total
    # come back as one driver row (a lazy keyless aggregate would add a
    # single-partition exchange), re-emitted as a local relation that both
    # grids' quantile expressions read
    row = bucket_counts(ev, [], "value", VALUE_BUCKETS).collect()[0]
    coarse = [f"c{VALUE_BUCKETS.index(b)}" for b in COARSE_BUCKETS]
    return local_frame(
        spark, [row], ", ".join(f"{c} long" for c in row.asDict())
    ).selectExpr(
        f"stack(2, 'fine', {len(VALUE_BUCKETS)}, "
        f"{histogram_quantile_sql(0.95, VALUE_BUCKETS)}, 'coarse', "
        f"{len(COARSE_BUCKETS)}, {histogram_quantile_sql(0.95, COARSE_BUCKETS, coarse)})"
        " AS (grid, n_buckets, p95)"
    )


SLO_ERROR_BUDGET = 0.01  # 99% non-error SLO
BURN_ALERT = 14.4  # Google SRE workbook: page at 14.4x on 5m AND 1h


def burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (the SRE workbook
    pattern the reference's Prometheus/Grafana layer exists to serve):
    the error-event rate per 5-minute window, expressed as a multiple of
    the 1% error budget ("burn rate"), gated by the SAME multiple over
    the enclosing 1-hour window — paging only when BOTH short and long
    windows burn >= 14.4x, which filters blips without missing a real
    budget-destroying incident.

    Exact shape: integer error/total counts per aligned 5m bucket (one
    map-side-combined groupBy of the event scan), hour totals as a
    window sum over the 5m table's hour partition (never a rescan, no
    second rollup, no join). Burn rates are exact-integer ratios over
    the budget constant, rounded at 6."""
    ev = load_table(spark, sf_dir, "events")
    by5 = (
        ev.select(
            F.expr("unix_seconds(ts) div 300").alias("w5"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("w5")
        .agg(F.count(F.lit(1)).alias("n_5m"), F.sum("is_err").alias("err_5m"))
    )
    return burn_report(by5)


def burn_report(by5: DataFrame) -> DataFrame:
    """Shared tail of the batch query and its streaming twin: hour gate
    + page flags over a (w5, n_5m, err_5m) bucket table."""
    hour = "OVER (PARTITION BY w5 div 12)"
    return by5.selectExpr(
        "w5", "n_5m", "err_5m", f"sum(n_5m) {hour} AS n_1h", f"sum(err_5m) {hour} AS err_1h"
    ).selectExpr(
        "timestamp_seconds(w5 * 300) AS window_start",
        "n_5m",
        "err_5m",
        f"round(err_5m / n_5m / {sql_double(SLO_ERROR_BUDGET)}, 6) AS burn_5m",
        f"round(err_1h / n_1h / {sql_double(SLO_ERROR_BUDGET)}, 6) AS burn_1h",
    ).selectExpr(
        "*", f"burn_5m >= {sql_double(BURN_ALERT)} AND burn_1h >= {sql_double(BURN_ALERT)} AS page"
    )


QUERIES = {
    "metrics_burn_rate": burn_rate_alerts,
    "metrics_scrape_table": metrics_table,
    "metrics_counter_increase": counter_increase,
    "metrics_histogram_rebucket": histogram_rebucket,
}

_BUCKETS_SQL = "(VALUES (1.0),(2.0),(5.0),(10.0),(25.0),(50.0),(100.0),(150.0),(200.0),(300.0))"

ORACLES = {
    "metrics_burn_rate": f"""
        WITH by5 AS (
            -- epoch_us floor-divided: epoch() is a fractional DOUBLE and
            -- ::BIGINT would ROUND where Spark's unix_seconds truncates
            SELECT epoch_us(ts) // 1000000 // 300 AS w5,
                   count(*) AS n_5m,
                   sum(CASE WHEN event_type = 'error' THEN 1
                            ELSE 0 END)::BIGINT AS err_5m
            FROM events GROUP BY 1
        ),
        byh AS (
            SELECT w5 // 12 AS wh,
                   sum(n_5m)::BIGINT AS n_1h,
                   sum(err_5m)::BIGINT AS err_1h
            FROM by5 GROUP BY 1
        )
        SELECT make_timestamp(w5 * 300 * 1000000) AS window_start,
               n_5m, err_5m,
               round(err_5m::DOUBLE / n_5m / {SLO_ERROR_BUDGET}, 6)
                   AS burn_5m,
               round(err_1h::DOUBLE / n_1h / {SLO_ERROR_BUDGET}, 6)
                   AS burn_1h,
               round(err_5m::DOUBLE / n_5m / {SLO_ERROR_BUDGET}, 6)
                   >= {BURN_ALERT}
               AND round(err_1h::DOUBLE / n_1h / {SLO_ERROR_BUDGET}, 6)
                   >= {BURN_ALERT} AS page
        FROM by5 JOIN byh ON by5.w5 // 12 = byh.wh
    """,
    "metrics_histogram_rebucket": f"""
        WITH obs AS (SELECT value AS v FROM events),
        tot AS (SELECT count(*)::DOUBLE AS total FROM obs),
        fine(le) AS {_BUCKETS_SQL},
        fcum AS (
            SELECT f.le, count(*) AS cum
            FROM fine f JOIN obs ON v <= le GROUP BY f.le
        ),
        grid_cum AS (
            SELECT 'fine' AS grid, le, cum FROM fcum
            UNION ALL
            SELECT 'coarse', le, cum FROM fcum
            WHERE le IN (5.0, 25.0, 100.0, 300.0)
        ),
        w AS (
            SELECT grid, le, cum,
                   coalesce(lag(cum) OVER pw, 0) AS prev_cum,
                   coalesce(lag(le) OVER pw, 0.0) AS prev_le
            FROM grid_cum
            WINDOW pw AS (PARTITION BY grid ORDER BY le)
        ),
        hit AS (
            SELECT grid,
                   prev_le + (le - prev_le) * (t.total * 0.95 - prev_cum)
                       / (cum - prev_cum) AS q
            FROM w, tot t
            WHERE cum >= t.total * 0.95
            QUALIFY row_number() OVER (PARTITION BY grid ORDER BY le) = 1
        )
        SELECT grid,
               (CASE grid WHEN 'fine' THEN 10 ELSE 4 END)::INT AS n_buckets,
               round(q, 6) AS p95
        FROM hit
    """,
    "metrics_counter_increase": f"""
        WITH per_min AS (
            SELECT event_type, date_trunc('minute', ts)::TIMESTAMP AS minute,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        sampled AS (
            SELECT event_type, minute,
                   sum(n) OVER (PARTITION BY event_type ORDER BY minute)
                       % {RESET_EVERY} AS sample
            FROM per_min
        ),
        deltas AS (
            SELECT event_type, sample,
                   lag(sample) OVER (PARTITION BY event_type ORDER BY minute)
                       AS prev
            FROM sampled
        )
        SELECT event_type,
               sum(CASE WHEN prev IS NULL THEN 0
                        WHEN sample >= prev THEN sample - prev
                        ELSE sample END)::BIGINT AS increase,
               sum(CASE WHEN sample < prev THEN 1 ELSE 0 END)::BIGINT AS n_resets,
               count(*) AS n_samples
        FROM deltas GROUP BY event_type
    """,
    "metrics_scrape_table": f"""
        SELECT 'events_processed_total' AS metric, event_type AS label,
               NULL::DOUBLE AS le, count(*)::DOUBLE AS value
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'last_value', event_type, NULL,
               max_by(value, ts)::DOUBLE
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'event_value_bucket', event_type, b.le, count(*)::DOUBLE
        FROM events e JOIN (SELECT CAST(x AS DOUBLE) AS le FROM {_BUCKETS_SQL} v(x)) b
          ON e.value <= b.le
        GROUP BY event_type, b.le
        UNION ALL
        SELECT 'event_value_sum', event_type, NULL, round(sum(value), 4)::DOUBLE
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'event_value_count', event_type, NULL, count(*)::DOUBLE
        FROM events GROUP BY event_type
    """,
}
