"""Dashboard panel guards: Spark jobs per panel query and output schemas.

The panels are the Grafana queries `perfbench/dashboard.py` runs closed-loop.
Each is one aggregation over cumulative bucket counts or counters, so a panel
whose job count grows has picked up a join, a second scan or a driver round
trip. The schema pins catch a SQL-text literal such as ``30.0`` (DECIMAL in
Spark SQL) leaking a decimal into a panel that must return doubles.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

_QUERIES = entry_mod.queries()

# panel query -> most Spark jobs one call (build plus full fetch) may run
_JOB_BOUNDS = {
    "analytics_p95_histogram": 2,
    "analytics_p95_windowed": 2,
    "analytics_payload_size_hist": 2,
    "analytics_consumer_lag": 3,
    "metrics_burn_rate": 3,
}

# the eight dashboard panels and the scrape table: column names and types
_SCHEMAS = {
    "analytics_throughput_30s":
        "struct<window_start:timestamp,event_type:string,events:bigint,rate_per_sec:double>",
    "analytics_sliding_rate": "struct<window_start:timestamp,events:bigint,rate_per_sec:double>",
    "analytics_consumer_lag": "struct<event_type:string,lag_seconds:double>",
    "analytics_p95_histogram": "struct<event_type:string,p95:double>",
    "analytics_p95_windowed": "struct<window_start:timestamp,event_type:string,p95:double>",
    "analytics_payload_size_hist": "struct<le:double,cum_count:bigint>",
    "metrics_histogram_rebucket": "struct<grid:string,n_buckets:int,p95:double>",
    "metrics_burn_rate": "struct<window_start:timestamp,n_5m:bigint,err_5m:bigint,"
        "burn_5m:double,burn_1h:double,page:boolean>",
    "metrics_scrape_table": "struct<metric:string,label:string,le:double,value:double>",
}


@pytest.mark.parametrize("name", sorted(_JOB_BOUNDS))
def test_panel_job_count(spark, sf_dir, name):
    fn = _QUERIES[name]
    fn(spark, sf_dir).toPandas()  # warm-up
    sc = spark.sparkContext
    group = f"panel-jobs-{name}"
    sc.setJobGroup(group, name)
    try:
        fn(spark, sf_dir).toPandas()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert jobs <= _JOB_BOUNDS[name], f"{name}: {jobs} jobs > {_JOB_BOUNDS[name]}"


@pytest.mark.parametrize("name", sorted(_SCHEMAS))
def test_panel_schema(spark, sf_dir, name):
    assert _QUERIES[name](spark, sf_dir).schema.simpleString() == _SCHEMAS[name]
