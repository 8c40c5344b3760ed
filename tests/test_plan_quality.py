"""Plan-quality regressions: predicate pushdown must reach the scans,
small sides must broadcast (no sort-merge joins of tiny aggregates), and
column pruning must drop unused columns from the parquet read."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

_QUERIES = entry_mod.queries()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    plan = _formatted(_QUERIES["tpch_pricing_summary"](spark, sf_dir))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and any("l_shipdate" in line for line in pushed), pushed


@pytest.mark.parametrize("name", ["analytics_p95_histogram", "analytics_p95_windowed"])
def test_histogram_quantile_one_aggregate(spark, sf_dir, name):
    """The p95 panels are one aggregation over conditional bucket counts:
    no join of any kind, one shuffle, no Python stage."""
    plan = _executed_plan(_QUERIES[name](spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert plan.count("Exchange ") == 1, plan
    assert not re.search(r"Python|InPandas|ArrowEval", plan), plan


def test_star_joins_broadcast_dims(spark, sf_dir):
    plan = _executed_plan(_QUERIES["tpch_revenue_by_nation"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_semi_and_anti_joins_used(spark, sf_dir):
    semi = _executed_plan(_QUERIES["tpch_order_priority_count"](spark, sf_dir))
    anti = _executed_plan(_QUERIES["tpch_idle_customers"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_forecast_revenue_pushes_all_predicates(spark, sf_dir):
    """Q6 shape: shipdate/discount/quantity predicates all reach the scan."""
    plan = _formatted(_QUERIES["tpch_forecast_revenue"](spark, sf_dir))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed, plan
    joined = " ".join(pushed)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, (col, pushed)


def test_volume_shipping_broadcasts_all_dims(spark, sf_dir):
    """Q7 shape: both nation aliases + supplier broadcast; the only
    sort-merge-eligible join is orders<->lineitem on orderkey."""
    plan = _executed_plan(_QUERIES["tpch_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_waiting_orders_self_semi_and_anti(spark, sf_dir):
    """Q21 shape: the exists/not-exists pair compiles to one LeftSemi and
    one LeftAnti self-join, not to cross products."""
    plan = _executed_plan(_QUERIES["tpch_waiting_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_aggregation_shuffle(spark, sf_dir):
    """The funnel is one user_id aggregation plus a scalar aggregate — no
    join, no window, exactly two exchanges (partial->final per agg)."""
    plan = _executed_plan(_QUERIES["analytics_event_funnel"](spark, sf_dir))
    assert "Join" not in plan
    assert "Python" not in plan


def test_column_pruning_two_column_projection(spark, sf_dir):
    """A 2-column projection over lineitem must not read all 11 columns."""
    from ssiintegrateddatapipeline_spark.sources.batch import load_table

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read_schema
    assert "l_extendedprice" not in read_schema[0]
    assert "l_orderkey" in read_schema[0]


def test_no_python_udfs_in_jvm_only_paths(spark, sf_dir):
    """Dedup/analytics/relational plans must stay JVM-side — no Arrow or
    row-at-a-time Python evaluation nodes."""
    for name in [
        "dedup_minhash_lsh_pairs",
        "dedup_simhash_pairs",
        "analytics_p95_histogram",
        "analytics_session_windows",
        "tpch_pricing_summary",
        "similarity_ivf_topk",
        "text_quality_score",
    ]:
        plan = _executed_plan(_QUERIES[name](spark, sf_dir))
        assert "Python" not in plan and "MapInPandas" not in plan, name


def test_zscore_is_jvm_window_no_python(spark, sf_dir):
    """Per-user z-score is avg/stddev_pop over a keyed window — a skewed
    user must be a large sorted run, never a whole-group Arrow batch on
    one Python worker. Any Python node here is a regression to the
    grouped-map form."""
    plan = _executed_plan(_QUERIES["analytics_zscore"](spark, sf_dir))
    assert "Python" not in plan and "FlatMapGroupsInPandas" not in plan
    assert "Window" in plan


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """Tables bucketed on the join key must join without any Exchange —
    the write-once-shuffle-never-again layout for the biggest fact joins."""
    from ssiintegrateddatapipeline_spark.sources import sinks
    from ssiintegrateddatapipeline_spark.sources.batch import load_table

    sinks.write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        ),
        "bq_lineitem",
        bucket_cols=("l_orderkey",),
        n_buckets=8,
        sort_cols=("l_orderkey",),
    )
    sinks.write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        "bq_orders",
        bucket_cols=("o_orderkey",),
        n_buckets=8,
        sort_cols=("o_orderkey",),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("bq_lineitem")
            .join(
                spark.table("bq_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderdate")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        plan = _executed_plan(joined)
        assert "Exchange" not in plan.split("HashAggregate")[-1], plan
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bq_lineitem")
        spark.sql("DROP TABLE IF EXISTS bq_orders")


def test_write_bucketed_survives_orphaned_warehouse_dir(spark, sf_dir):
    """A previous PROCESS's interrupted write leaves <warehouse>/<table>
    on disk with no catalog entry (the in-memory catalog dies with the
    session, the files don't). write_bucketed must clear both and
    succeed — twice in a row, including from a simulated mid-write
    kill (a partial file in the orphaned dir)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F  # noqa: F811

    from ssiintegrateddatapipeline_spark.sources import sinks
    from ssiintegrateddatapipeline_spark.sources.batch import load_table

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    table = "bq_orphan_probe"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    for _ in range(2):
        # simulate the interrupted writer: orphaned dir + partial file,
        # no catalog entry
        os.makedirs(f"{wh}/{table}", exist_ok=True)
        with open(f"{wh}/{table}/part-00000.parquet.inprogress", "wb") as fh:
            fh.write(b"\x00" * 128)
        spark.catalog.clearCache()
        sinks.write_bucketed(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            table,
            bucket_cols=("o_orderkey",),
            n_buckets=4,
        )
        assert spark.table(table).count() > 0
        assert not os.path.exists(
            f"{wh}/{table}/part-00000.parquet.inprogress"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_partition_filter_prunes_partitioned_sink(spark, sf_dir, tmp_path):
    from ssiintegrateddatapipeline_spark.sources import sinks
    from ssiintegrateddatapipeline_spark.sources.batch import load_table

    path = str(tmp_path / "events_part")
    sinks.write_partitioned(
        load_table(spark, sf_dir, "events"), path, partition_cols=("event_type",)
    )
    df = spark.read.parquet(path).where(F.col("event_type") == "view")
    plan = _executed_plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:200]


def test_hash_sample_filter_pushes_to_scan(spark, sf_dir):
    """The md5-gate sample is a narrow filter: no shuffle, no join, and the
    scan must not read columns the projection dropped."""
    plan = _executed_plan(_QUERIES["sampling_hash_sample"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    fmt = _formatted(_QUERIES["sampling_hash_sample"](spark, sf_dir))
    read_schema = [l for l in fmt.splitlines() if "ReadSchema" in l]
    assert read_schema and "props" not in read_schema[0]


def test_range_lookup_bucketed_is_hash_join(spark, sf_dir):
    """The bucketed range join must compile to a broadcast HASH join on the
    bucket key — never BroadcastNestedLoopJoin (the naive non-equi plan)."""
    plan = _executed_plan(_QUERIES["range_band_pricing"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_profile_columns_two_hash_branches(spark, sf_dir):
    """The profile is two columnar branches (counts/min-max wide agg +
    unpivoted distinct hash agg) — deliberately NOT one agg with N
    countDistincts, which would Expand the stream and fall back to a
    SortAggregate keyed on every profiled column (a global sort of wide
    rows). Pin: ≤2 scans, no Expand, and the distinct branch is a hash
    aggregate. (A zero-key SortAggregate remains for the wide min/max fold
    — string min/max buffers are var-length so hash agg is unavailable,
    but with no grouping keys it performs no sort.)"""
    plan = _executed_plan(_QUERIES["profile_columns"](spark, sf_dir))
    assert plan.count("Scan parquet") <= 2, plan
    assert "Expand" not in plan
    assert "HashAggregate" in plan


def test_scd2_single_shuffle_reused_sort(spark, sf_dir):
    """lag-detect + lead-close both partition on custkey: Catalyst must
    plan ONE exchange for the aggregation and reuse the sort for both
    windows (no second shuffle between the window operators)."""
    plan = _executed_plan(_QUERIES["scd2_customer_tiers"](spark, sf_dir))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, plan  # agg partial->final + window partitioning
    assert "Join" not in plan


def test_multigrain_rollup_is_one_pass(spark, sf_dir):
    """ROLLUP over the trunc hierarchy must be a single scan + Expand —
    not one aggregation per grain."""
    plan = _executed_plan(_QUERIES["analytics_multigrain_rollup"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_mad_outliers_broadcasts_stats(spark, sf_dir):
    """The per-type median/MAD stats are tiny and must broadcast back onto
    the fact scans — a sort-merge join here would shuffle the corpus twice."""
    plan = _executed_plan(_QUERIES["analytics_mad_outliers"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_fuzzy_pairs_not_cartesian(spark, sf_dir):
    """Blocking must turn the all-pairs comparison into an equi-join on the
    block key; a Cartesian/BNL product means blocking regressed."""
    plan = _executed_plan(_QUERIES["dedup_fuzzy_name_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_key_stays_in_codegen(spark, sf_dir):
    """The unrolled Morton interleave is pure JVM bit math — any Python
    eval node means the key computation fell off the codegen path."""
    plan = _executed_plan(_QUERIES["transform_zorder_layout"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "shiftleft" in plan  # the unrolled interleave reached the JVM plan


def test_boilerplate_scrub_broadcast_anti_join(spark, sf_dir):
    """The recurring-segment set is a sliver of the corpus: the cleanup pass
    must be a broadcast anti-join, never a shuffled one."""
    plan = _executed_plan(_QUERIES["text_boilerplate_scrub"](spark, sf_dir))
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "LeftAnti" in plan and "SortMergeJoin" not in plan
    ), plan


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """The eval-set shingles must broadcast; the training corpus streams
    through a map-side join."""
    plan = _executed_plan(_QUERIES["text_contamination_check"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_incremental_mv_two_scans_only(spark, sf_dir):
    """State + delta = exactly two scans of the orders table; the merge agg
    runs on pre-aggregated partials, not raw rows."""
    plan = _formatted(_QUERIES["analytics_incremental_mv"](spark, sf_dir))
    scans = [
        line
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and "Scan parquet" in line
    ]
    assert len(scans) == 2, scans


def test_market_basket_broadcasts_lookup_sides(spark, sf_dir):
    """Pair scoring must broadcast the per-part totals and the basket-count
    scalar — only the within-order self-join may shuffle."""
    plan = _executed_plan(_QUERIES["analytics_market_basket"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan  # the single-row total


def test_chunk_windows_stays_jvm_side(spark, sf_dir):
    """Chunking is sequence+explode — any Python eval node means the
    splitter fell off the codegen path."""
    plan = _executed_plan(_QUERIES["text_chunk_windows"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan


def test_sequence_pack_uses_grouped_arrow_batches(spark, sf_dir):
    """Greedy packing must run as grouped-map Arrow batches (one pandas
    call per group), not a row-at-a-time Python UDF."""
    plan = _executed_plan(_QUERIES["transform_sequence_pack"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_incremental_dedup_broadcasts_fate_lookups(spark, sf_dir):
    """Old-corpus hash set and near-dup id set are post-aggregation slivers:
    the fate assignment must broadcast both, never shuffle the new batch."""
    plan = _executed_plan(_QUERIES["dedup_incremental"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_containment_cuts_corpus_before_shingle_join(spark, sf_dir):
    """The exact-verify stage must semi-join the corpus down to candidate
    docs via broadcast before the shingle self-join."""
    plan = _executed_plan(_QUERIES["dedup_containment_pairs"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_credstore_claims_filter_pushes_to_scan(spark, sf_dir):
    """The ORM where-conditions are Catalyst predicates on underlying
    columns — they must reach the parquet scan, not sit above a project."""
    plan = _formatted(_QUERIES["credstore_vcs_by_claims"](spark, sf_dir))
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and any("value" in line for line in pushed), pushed


def test_ivf_trained_codebook_is_plan_time_literal(spark, sf_dir):
    """Training happens driver-side at build time; the per-row query
    plan must contain only literal centroid arrays (whole-stage codegen,
    no Python, no extra scan of embeddings for the codebook)."""
    plan = _formatted(_QUERIES["similarity_ivf_topk"](spark, sf_dir))
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    # exactly 2 embedding scans: corpus side + query side (formatted
    # output lists each node once in the tree and once in the detail
    # section — count the numbered detail entries)
    scans = [l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l]
    assert len(scans) == 2, scans


def test_identity_dim_broadcasts_in_pipeline(spark, sf_dir):
    from ssiintegrateddatapipeline_spark.operators.identity import (
        build_identity_dim,
    )
    from ssiintegrateddatapipeline_spark.sources.batch import load_table

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id")
    )
    dim = build_identity_dim(spark)
    joined = ev.join(
        F.broadcast(dim), ev.user_id % 5 == F.crc32(dim.symbol) % 5, "left"
    )
    assert "BroadcastHashJoin" in _formatted(joined) or "BroadcastNestedLoopJoin" in _formatted(joined)


def test_decontaminated_split_broadcasts_lookups(spark, sf_dir):
    """Cluster graph and eval-cluster set are tiny next to the corpus —
    both joins must broadcast, never shuffle the documents scan."""
    plan = _formatted(_QUERIES["dedup_decontaminated_split"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere in this plan
    assert "SortMergeJoin" not in plan


def test_semantic_contamination_blocked_by_cells(spark, sf_dir):
    """The eval side broadcasts into the per-cell join; the train side is
    never shuffled on the pair key (cell blocking keeps it an equi-join)."""
    plan = _formatted(_QUERIES["similarity_semantic_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_near_dup_scale_paths_not_cartesian(spark, sf_dir):
    """Every *near_dup* query except the documented bounded-subset
    baseline must avoid cartesian/nested-loop pair generation — the scale
    paths block candidates by LSH band or IVF cell before joining."""
    baseline = {"similarity_cosine_near_dup"}
    names = [n for n in _QUERIES if "near_dup" in n and n not in baseline]
    assert names  # the scale paths exist
    for n in names:
        plan = _executed_plan(_QUERIES[n](spark, sf_dir))
        assert "CartesianProduct" not in plan, n
        assert "BroadcastNestedLoopJoin" not in plan, n


def test_cosine_baseline_bounds_before_crossjoin(spark, sf_dir):
    """The brute-force baseline IS a crossJoin — but only after the
    deterministic 10% subset filter, which must reach both scan sides so
    the pair space is (n/10)^2, never n^2."""
    plan = _executed_plan(_QUERIES["similarity_cosine_near_dup"](spark, sf_dir))
    import re

    assert len(re.findall(r"% 10\)? = 0", plan)) >= 2, plan


def test_paginated_is_single_take_ordered_with_offset(spark, sf_dir):
    """skip+take pagination must plan as ONE distributed top-K with
    offset — no global sort, no single-partition row_number window."""
    plan = _executed_plan(_QUERIES["credstore_paginated"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "offset=40" in plan
    assert "Window" not in plan


def test_pq_codebooks_are_plan_time_literals(spark, sf_dir):
    """PQ sub-codebooks train driver-side at build time; the search
    plan must be literal lookup tables + a broadcast of the tiny query
    side over the code scan — no Python stage, no extra embedding scans
    for the codebooks (2 scans: corpus codes + query side)."""
    plan = _formatted(_QUERIES["similarity_pq_topk"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "pythonUDF" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 5-row query side broadcast
    # 4 scans: code side, query LUT side, rerank corpus side, rerank query
    # side — never an extra scan for the codebooks (plan-time literals)
    scans = [l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l]
    assert len(scans) == 4, scans


def test_length_batches_window_is_keyed_not_global(spark, sf_dir):
    """The length-sort window partitions by source (sharded sort), never
    a global single-partition sort, and stays JVM-side."""
    plan = _formatted(_QUERIES["transform_length_batches"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_perplexity_buckets_rank_input_is_reduced(spark, sf_dir):
    """The only global (single-partition) step in the perplexity split is
    the ntile over per-document aggregates — the raw bigram stream must
    reduce through hash aggregation first, and nothing runs in Python."""
    plan = _formatted(_QUERIES["text_perplexity_buckets"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    # the single-partition exchange exists (documented: ntile over ~|docs|
    # rows), and hash aggregation appears upstream of it
    assert "SinglePartition" in plan and "HashAggregate" in plan


def test_bm25_small_sides_broadcast_no_cartesian(spark, sf_dir):
    """BM25 must reduce the corpus to query-term rows before its tf
    shuffle: the query set / df / corpus-stats sides all broadcast, the
    only cross join is against the broadcast 1-row stats aggregate, and
    nothing runs in Python."""
    plan = _formatted(_QUERIES["text_bm25_search"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 3
    # the isin() pre-filter must reach the scan side feeding tf, keeping
    # the exploded token stream bounded by the query vocabulary
    assert "BroadcastNestedLoopJoin" in plan  # stats 1-row side only


def test_cms_grid_broadcasts_to_candidate_probe(spark, sf_dir):
    """The count-min grid (d*w cells) must come back as a broadcast to the
    candidate probe join — never a shuffle join against the tiny top-K
    side — and the whole sketch stays JVM-side."""
    plan = _formatted(_QUERIES["profile_cms_heavy_hitters"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivfpq_probe_join_not_cartesian(spark, sf_dir):
    """IVF-PQ must NOT scan corpus x queries like the flat-PQ baseline:
    candidates come from a broadcast equi-join on the probed cell id, and
    the whole ADC path stays JVM-side. (pq_topk's crossJoin against the
    broadcast query set is the deliberate flat-scan baseline; this is the
    scale path.)"""
    plan = _formatted(_QUERIES["similarity_ivfpq_topk"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_temperature_mix_broadcasts_scalar_totals(spark, sf_dir):
    """Both normalizing totals (token sum, weight sum) must come back as
    broadcast 1-row sides — never a shuffle join — and the whole mix stays
    JVM-side."""
    plan = _formatted(_QUERIES["sampling_temperature_mix"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_training_shuffle_single_shuffle_keyed_windows(spark, sf_dir):
    """Both ranks must ride ONE hash exchange on the range bucket: the
    global window partitions by __tpb and the within-shard window by
    (__tpb, __tpg) — hash(__tpb) already satisfies the finer clustering,
    so no second full shuffle (and no 8-key hash(shard) exchange, which
    would collapse parallelism to |shards| tasks at scale)."""
    plan = _executed_plan(_QUERIES["transform_training_shuffle"](spark, sf_dir))
    assert "Python" not in plan
    assert "AS shard_pos" in plan and "AS global_pos" in plan
    # the shard rank window is keyed by (bucket, group), not a bare shard
    assert "windowspecdefinition(__tpb" in plan
    assert "Exchange SinglePartition" not in plan
    # exactly one exchange shape: hash on the range bucket (AQE prints the
    # plan twice — final + spec — so count DISTINCT partitioning exprs)
    import re

    parts = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert parts == {"__tpb"}, parts


# ---------------------------------------------------------------------------
# Global-window ban (round-3 VERDICT task 1): no contract query may feed a
# Window from an unbounded Exchange SinglePartition. "Bounded" is decided
# structurally — a limit (TakeOrderedAndProject / GlobalLimit / CollectLimit)
# below the exchange caps its input regardless of data volume — plus a short
# documented allowlist where the window input is bounded by the query's
# domain, not by row count.
# ---------------------------------------------------------------------------

import pytest

# windows whose input is domain-bounded (documented in the operators):
_BOUNDED_GLOBAL_WINDOWS = {
    # cumulative CDF over DISTINCT values of a discretized metric
    # (operators/analytics.py ks_drift docstring; binned twin exists)
    "analytics_ks_drift",
    # month-grain lag: rows == months in the corpus timespan
    "analytics_revenue_growth",
    # centered 24-row MA over the hourly table: rows == hours in the
    # corpus timespan (operators/analytics.py seasonal_decompose)
    "analytics_seasonal_decompose",
    # global band cumulative over the value-band lattice: rows == number
    # of fixed-width bands (operators/profiling.py t_closeness_audit)
    "profile_t_closeness",
}

_LIMIT_NODES = {"TakeOrderedAndProject", "GlobalLimit", "CollectLimit", "LocalLimit"}


def _plan_children(node):
    cs = node.children()
    out = [cs.apply(i) for i in range(cs.size())]
    if node.nodeName() == "AdaptiveSparkPlan":
        out.append(node.executedPlan())
    return out


def _subtree_has_limit(node):
    if node.nodeName() in _LIMIT_NODES:
        return True
    return any(_subtree_has_limit(c) for c in _plan_children(node))


def _exchange_input_bounded(node):
    """A SinglePartition exchange is fine when its input is bounded:
    either a limit sits below it, or it is the merge step of a SCALAR
    aggregate (grouping keys=[]) — one partial row per partition."""
    if _subtree_has_limit(node):
        return True
    kids = _plan_children(node)
    if kids:
        head = kids[0].toString().splitlines()[0]
        if "Aggregate" in kids[0].nodeName() and "keys=[]" in head:
            return True
    return False


def _has_unbounded_single_partition(node):
    if "Exchange" in node.nodeName():
        try:
            single = "SinglePartition" in node.outputPartitioning().toString()
        except Exception:
            single = False
        if single:
            return not _exchange_input_bounded(node)
    return any(_has_unbounded_single_partition(c) for c in _plan_children(node))


def _offending_windows(df):
    root = df._jdf.queryExecution().executedPlan()
    bad = []

    def walk(node):
        if node.nodeName() == "Window" and _has_unbounded_single_partition(node):
            bad.append(node.toString().splitlines()[0])
        for c in _plan_children(node):
            walk(c)

    walk(root)
    return bad


@pytest.mark.parametrize("qname", sorted(_QUERIES), ids=sorted(_QUERIES))
def test_no_unbounded_single_partition_window(qname, spark, sf_dir):
    if qname in _BOUNDED_GLOBAL_WINDOWS:
        pytest.skip("documented domain-bounded global window")
    df = _QUERIES[qname](spark, sf_dir)
    bad = _offending_windows(df)
    assert not bad, f"{qname}: Window fed by unbounded SinglePartition: {bad}"


def test_contract_bucketed_join_plan_and_memo(spark, sf_dir, monkeypatch):
    """The tpch_bucketed_join CONTRACT query (not just the ad-hoc demo
    above) must execute its fact join as a sort-merge join with no
    Exchange on either input, and the second build must reuse the
    session's catalog tables instead of re-writing them."""
    from ssiintegrateddatapipeline_spark.plans import relational
    from ssiintegrateddatapipeline_spark.sources import sinks

    df = relational.bucketed_revenue_by_month(spark, sf_dir)
    plan = _executed_plan(df)
    assert "SortMergeJoin" in plan, plan
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_part, plan
    writes = []
    monkeypatch.setattr(
        sinks, "write_bucketed", lambda df, name, **kw: writes.append(name)
    )
    relational.bucketed_revenue_by_month(spark, sf_dir)
    assert writes == []
