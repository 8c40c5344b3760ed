"""Batch relational plans over the star schema (TPC-H-style).

The reference has no relational query layer (its "queries" are PromQL); this
module is the new batch-analytics capability over the driver's star schema.
All plans are declarative DataFrame programs: Catalyst gets full freedom for
join reordering, predicate pushdown into the parquet scans, and AQE runtime
re-planning.

Scale notes (100 TB):
- region/nation/supplier are broadcast explicitly (SMALL_DIMS) — no shuffle
  of the fact side for those joins;
- customer/orders joins shuffle on their keys; at production scale these
  tables would be bucketed by key so the shuffle disappears (see
  sinks.write_bucketed);
- aggregates are partial (map-side combine) since every plan is a plain
  groupBy over low-cardinality keys.

Money sums are rounded to 2 decimals, averages to 4, inside both the Spark
plan and the oracle SQL so float summation-order differences can't flip the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.sources.batch import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: pricing summary report over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top revenue among not-yet-shipped orders."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking via semi join (no shuffle of
    lineitem payload columns — only the key reaches the join)."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    # commit-date column doesn't exist in this schema; emulate "late line item"
    # as quantity > 45 (deterministic predicate on an existing column).
    late = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue joined through region->nation->(cust, supp).

    nation/region/supplier are broadcast; the orders<->lineitem join shuffles
    on orderkey.
    """
    region = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, (li.l_suppkey == supplier.s_suppkey) & (customer.c_nationkey == supplier.s_nationkey))
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: revenue per customer nation (broadcast dims)."""
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count("*").alias("order_count"),
        )
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function ranking: top 3 customers by revenue within nation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    per_cust = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return (
        per_cust.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("n_name", "c_custkey", "c_name", "revenue", "rnk")
    )


def part_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation with distinct counts + conditional aggregates on part."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_type").agg(
        F.count("*").alias("n_parts"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.round(F.sum(F.when(F.col("p_size") > 25, F.col("p_retailprice")).otherwise(F.lit(0.0))), 2).alias(
            "large_part_value"
        ),
    )


def idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (none since 2000) — a left ANTI join (only keys cross the
    shuffle, payload never moves); the date filter pushes into the scan."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items below 50% of their part's
    average quantity — the correlated scalar subquery decorrelated into an
    aggregate-then-join (the per-part aggregate is small -> broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(part_avg), "l_partkey")
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer over order dates (bounded subset) — the
    cumulative-window shape (partitioned running sum, no global sort)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
    )


def returnflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP (grouping sets): per (returnflag,
    linestatus), per returnflag, and grand total in one pass — map-side
    partial aggregation covers all grouping sets without re-scanning."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.grouping_id().alias("grp"),
        )
    )


def priority_year_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderpriority, order year): all four grouping-set
    combinations in one grouped pass, with explicit per-column grouping
    flags (engine-portable, unlike the composite grouping_id bitmask)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority", F.year("o_orderdate").alias("o_year"), "o_totalprice"
        )
        .cube("o_orderpriority", "o_year")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.grouping("o_year").alias("g_year"),
        )
    )


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filtered aggregation — no join, no shuffle beyond
    the final single-row combine; all three predicates push into the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per ship
    year. The nation dim joins twice (supplier side and customer side) under
    different aliases — both broadcast; only the orders<->lineitem join
    shuffles."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")))
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n1, supplier.s_nationkey == n1.s_nkey)
        .join(n2, customer.c_nationkey == n2.c_nkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of PROMO-part order volume inside
    the ASIA region, per order year — conditional-sum ratio over a 6-way
    star join."""
    part = F.broadcast(_t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    n_supp = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")))
    n_cust = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")))
    region = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    customer = _t(spark, sf_dir, "customer")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, supplier.s_nationkey == F.col("s_nkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(n_cust, customer.c_nationkey == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0)))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per ship year for parts
    matching a name pattern. No partsupp table in this schema, so unit cost
    is emulated as 10% of the part's retail price — keeps the
    expression-over-join shape identical."""
    part = F.broadcast(
        _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    li = _t(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer — LEFT OUTER join
    with a join-time predicate (non-urgent orders only), two-level aggregate."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue from PROMO parts —
    conditional-sum ratio after a broadcast part join."""
    part = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_type"))
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", volume).otherwise(F.lit(0.0)))
            / F.sum(volume),
            4,
        ).alias("promo_revenue")
    )


def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue — the
    revenue aggregate is computed once and compared against its own max via a
    broadcast single-row cross join (the classic view + max decorrelation)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size) for
    selected sizes, excluding one brand and suppliers in deficit — the
    NOT-IN subquery becomes a broadcast LEFT ANTI join."""
    bad_supp = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    part = F.broadcast(
        _t(spark, sf_dir, "part").where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
        )
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total quantity exceeds a
    threshold — HAVING on a fact aggregate, then join back to the dims. The
    qualifying-order set is tiny, so both dimension joins broadcast it."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 350)
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a 3-arm OR of conjunctive predicates
    spanning both join sides — Catalyst extracts the common join key and
    pushes each side's local conjuncts into its scan."""
    part = F.broadcast(_t(spark, sf_dir, "part"))
    li = _t(spark, sf_dir, "lineitem")
    arm1 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(1, 20)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 30)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(arm1 | arm2 | arm3)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that moved a large quantity of a 'small %'
    part in 1996 — nested semi-join chain (agg -> filter -> semi join), only
    supplier keys cross the final shuffle."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = F.broadcast(
        _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select("p_partkey")
    )
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supplier = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        supplier.join(F.broadcast(heavy), supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


def waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY returned-flag supplier in
    a multi-supplier finished order — a self-semi-join (another supplier
    exists) plus a self-anti-join (no other supplier returned). Both
    self-joins are equi on l_orderkey with a residual suppkey inequality, so
    they co-partition with the base scan (one shuffle key reused 3x)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    other_returned = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5"))
    return (
        l1.join(orders, l1.l_orderkey == orders.o_orderkey, "left_semi")
        .join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            other_returned,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier offering the
    minimum unit price — correlated-min subquery decorrelated into a per-part
    min aggregate joined back on (part, unit_cost). No partsupp table; the
    (part, supplier) offer list is derived from lineitem unit prices."""
    li = _t(spark, sf_dir, "lineitem")
    # unit_cost stays unrounded: the division and min are order-independent,
    # so Spark and the oracle produce bitwise-identical doubles, while
    # rounding would diverge on half-way ties (HALF_UP vs HALF_EVEN).
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    part = F.broadcast(
        _t(spark, sf_dir, "part").where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    )
    qual = offers.join(part, offers.l_partkey == part.p_partkey)
    best = qual.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        qual.join(
            F.broadcast(best),
            (qual.l_partkey == F.col("b_partkey")) & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(supplier, qual.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .select("s_name", "n_name", "p_partkey", "p_name", "s_acctbal", "unit_cost")
    )


def sql_surface_market_pulse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's raw Spark SQL surface: temp views + one ANSI query
    (CTE, window function, join) — proving SQL text is a first-class entry
    point next to the DataFrame API; Catalyst plans both identically."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlv_{t}")
    return spark.sql(
        """
        WITH monthly AS (
            SELECT n_name,
                   date_trunc('month', o_orderdate) AS month,
                   round(sum(o_totalprice), 2) AS revenue
            FROM sqlv_orders
            JOIN sqlv_customer ON o_custkey = c_custkey
            JOIN sqlv_nation ON c_nationkey = n_nationkey
            GROUP BY n_name, date_trunc('month', o_orderdate)
        )
        SELECT n_name, month, revenue,
               round(sum(revenue) OVER (
                   PARTITION BY n_name ORDER BY month
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                   AS revenue_3mo_sum
        FROM monthly
        """
    )


def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join reduction: revenue by order priority for
    high-balance BUILDING-segment customers, with the orders fact side
    pre-filtered by a Bloom filter built from the qualifying customer keys
    BEFORE any join shuffle (functions/bloom.py — the explicit form of
    Spark's ``runtime.bloomFilter`` rewrite, which needs a cluster-side
    jar switch this build lacks). ~5% of customers qualify, so ~95% of the
    fact table drops at the scan's filter instead of crossing the shuffle;
    Bloom false positives are removed by the exact broadcast join that
    follows, so the result — and the oracle, a plain join — are exact.

    Scale: the shipped filter is a fixed 8 KB word-array literal however
    large the fact side grows; the build pass aggregates bit words from
    the DIM side only. tests/test_bloom_join.py pins exactness against
    the unfiltered plan, the false-positive bound, and the plan shape
    (probe predicate below the join, dim side broadcast)."""
    from ssiintegrateddatapipeline_spark.functions.bloom import (
        bloom_might_contain,
        build_bloom_words,
    )

    cust = _t(spark, sf_dir, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7500.0)
    )
    words = build_bloom_words(cust, "c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        bloom_might_contain(words, F.col("o_custkey"))
    )
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_BUCKETS = 16


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The bucketed catalog tables for ``sf_dir``, written on first use.
    The bucketed layout is immutable for an immutable sf_dir, so tables
    already in this session's catalog are adopted, never rewritten."""
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_name, o_name = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    if spark.catalog.tableExists(li_name) and spark.catalog.tableExists(o_name):
        return li_name, o_name
    from ssiintegrateddatapipeline_spark.sources.sinks import write_bucketed

    # stale-location handling (orphaned warehouse dirs from interrupted
    # processes) lives inside write_bucketed itself
    write_bucketed(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        li_name,
        bucket_cols=("l_orderkey",),
        n_buckets=_BUCKETS,
        sort_cols=("l_orderkey",),
    )
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
        o_name,
        bucket_cols=("o_orderkey",),
        n_buckets=_BUCKETS,
        sort_cols=("o_orderkey",),
    )
    return li_name, o_name


def bucketed_revenue_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-once-shuffle-never-again layout as a first-class query:
    orders and lineitem are stored BUCKETED on the join key (16 buckets,
    sorted within), so the orders<->lineitem join — the biggest shuffle in
    the whole star schema at 100 TB — runs as a sort-merge join with NO
    Exchange on either side: each task zips bucket i of both tables. The
    ``merge`` hint keeps Catalyst from broadcasting the small-at-test-SF
    orders side, which is exactly the regime where bucketing matters.

    tests/test_plan_quality.py::test_bucketed_join_is_shuffle_free pins
    the plan shape; this contract query pins the RESULT against a plain
    join oracle (bucketing is a physical layout, never a semantics
    change). Revenue is summed as integer cents so bucket-order summation
    can't drift from the oracle's.

    Scale: the one-time bucketed write is itself a single shuffle of each
    table — amortized across every subsequent join/aggregation on the key
    (later calls find the tables in the session catalog and reuse them)."""
    li_name, o_name = _bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    orders = spark.table(o_name)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
        )
        .agg(
            F.count("*").alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
    )


def asymmetric_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with ASYMMETRIC sets — ((priority, year), (status),
    ()) — the grouping surface cube/rollup cannot express without waste:
    one grouped pass produces the priority-by-year detail, the per-status
    totals, and the grand total, nothing else. One shuffle (Spark expands
    rows per set map-side, then a single hash aggregation); a cube here
    would compute and throw away five unwanted set combinations."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderpriority",
            "o_orderstatus",
            F.year("o_orderdate").alias("o_year"),
            "o_totalprice",
        )
        .groupingSets(
            [["o_orderpriority", "o_year"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
            "o_year",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_year").alias("g_year"),
        )
    )


def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value within a supplier-nation
    group exceeds a global threshold — the HAVING-against-global-scalar
    pattern, decorrelated into a 1-row aggregate broadcast cross join.

    No partsupp table in this schema, so "stock value" is emulated as the
    shipped value sum(l_extendedprice * (1 - l_discount)) of line items from
    NATION-GROUP suppliers (s_nationkey < 5, a broadcast dim filter). The
    threshold is scale-invariant (value > 2x the mean per-part value), and
    the comparison is exact-integer cross-multiplied
    (value_m * n_parts > 2 * total_m over decimal(38,0) micro-units) so
    float summation order can never flip a borderline part across engines.

    100 TB: one lineitem scan builds the per-part partial aggregate
    (map-side combine, shuffle only (partkey, value_m)); the global
    total/count reduce over that bounded aggregate; decimal(38,0) sums keep
    the arithmetic exact far past int64 (~1e19 micro-unit) volumes.
    """
    nat_supp = F.broadcast(
        _t(spark, sf_dir, "supplier").where(F.col("s_nationkey") < 5).select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    micros = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    ).cast("decimal(38,0)")
    per_part = (
        li.join(nat_supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(micros).alias("value_m"))
    )
    totals = per_part.agg(
        F.sum("value_m").alias("total_m"), F.count("*").alias("n_parts")
    )
    # Display value via exact integer half-up division to cents: a double
    # round() would sit on ties like x.xx5 that the two engines break
    # differently; ((value_m + 50) div 100) / 100.0 is tie-free and
    # bit-identical in both engines (exact-int floor div, then one IEEE
    # division).
    return (
        per_part.crossJoin(F.broadcast(totals))
        .where(F.col("value_m") * F.col("n_parts") > F.lit(2) * F.col("total_m"))
        .select(
            "partkey",
            (F.expr("(value_m + 50) div 100").cast("double") / 100.0).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "partkey")
    )


def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority line counts per shipping mode.

    No l_shipmode / commit / receipt columns in this schema, so the mode is
    derived as a ship-latency class — datediff(l_shipdate, o_orderdate)
    bucketed <30 FAST, <90 REGULAR, else SLOW — which preserves Q12's exact
    shape (orders-lineitem join, CASE on o_orderpriority, group by a
    line-level shipping attribute). Counts are pure integers: hash-safe.

    100 TB: the date filter pushes into the lineitem scan; the join shuffles
    only (orderkey, shipdate vs orderdate, priority); the output is 3 rows.
    """
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    ship_class = (
        F.when(lag_days < 30, "FAST").when(lag_days < 90, "REGULAR").otherwise("SLOW")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(ship_class.alias("ship_class"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per nation: how
    concentrated each nation's supply revenue is across its suppliers —
    the market-concentration companion to the per-segment Gini. Exact
    rational form: HHI = Σ rev_i² / (Σ rev_i)² over integer cents, both
    sums in decimal(38,0) (cents² overflows int64 at warehouse volumes);
    one IEEE division at the end. Supplier and nation dims broadcast; the
    lineitem scan reduces through a (suppkey) partial aggregate first so
    the squared term sees one row per supplier.
    """
    li = _t(spark, sf_dir, "lineitem")
    supplier = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_supp = (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(rev_cents).alias("rev"))
    )
    d38 = "decimal(38,0)"
    agg = per_supp.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("rev").cast(d38)).alias("s"),
        F.sum((F.col("rev").cast(d38) * F.col("rev").cast(d38))).alias("ss"),
    )
    hhi = F.col("ss").cast("double") / (F.col("s") * F.col("s")).cast("double")
    return agg.select(
        "n_name",
        "n_suppliers",
        F.round(F.col("s").cast("double") / 100.0, 2).alias("total_revenue"),
        F.round(hhi, 6).alias("hhi"),
    )


QUERIES = {
    "tpch_sql_market_pulse": sql_surface_market_pulse,
    "tpch_supplier_hhi": supplier_hhi,
    "tpch_important_parts": important_parts,
    "tpch_shipmode_priority": shipmode_priority,
    "tpch_bucketed_join": bucketed_revenue_by_month,
    "tpch_grouping_sets": asymmetric_grouping_sets,
    "tpch_bloom_filter_join": bloom_filter_join,
    "tpch_pricing_summary": pricing_summary,
    "tpch_top_unshipped_orders": top_unshipped_orders,
    "tpch_order_priority_count": order_priority_count,
    "tpch_local_supplier_volume": local_supplier_volume,
    "tpch_revenue_by_nation": revenue_by_nation,
    "tpch_top_customers": top_customers,
    "tpch_part_type_stats": part_type_stats,
    "tpch_idle_customers": idle_customers,
    "tpch_small_qty_revenue": small_quantity_revenue,
    "tpch_running_totals": customer_running_totals,
    "tpch_returnflag_rollup": returnflag_rollup,
    "tpch_priority_year_cube": priority_year_cube,
    "tpch_forecast_revenue": forecast_revenue,
    "tpch_volume_shipping": volume_shipping,
    "tpch_market_share": market_share,
    "tpch_product_profit": product_profit,
    "tpch_customer_distribution": customer_distribution,
    "tpch_promo_revenue": promo_revenue,
    "tpch_top_supplier": top_supplier,
    "tpch_supplier_part_counts": supplier_part_counts,
    "tpch_large_volume_customers": large_volume_customers,
    "tpch_disjunctive_revenue": disjunctive_revenue,
    "tpch_heavy_part_suppliers": heavy_part_suppliers,
    "tpch_waiting_orders": waiting_orders,
    "tpch_min_cost_supplier": min_cost_supplier,
}

ORACLES = {
    "tpch_supplier_hhi": """
        WITH per_supp AS (
            SELECT n_name, s_suppkey,
                   sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS rev
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        ),
        agg AS (
            SELECT n_name, count(*) AS n_suppliers,
                   sum(rev) AS s, sum(rev * rev) AS ss
            FROM per_supp GROUP BY 1
        )
        SELECT n_name, n_suppliers,
               round(s::DOUBLE / 100.0, 2) AS total_revenue,
               round(ss::DOUBLE / (s * s)::DOUBLE, 6) AS hhi
        FROM agg
    """,
    "tpch_important_parts": """
        WITH per_part AS (
            SELECT l_partkey AS partkey,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS value_m
            FROM lineitem
            JOIN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5) ns
              ON l_suppkey = ns.s_suppkey
            GROUP BY l_partkey
        ),
        totals AS (
            SELECT sum(value_m) AS total_m, count(*) AS n_parts FROM per_part
        )
        SELECT partkey,
               CAST((value_m + 50) // 100 AS DOUBLE) / 100.0 AS part_value
        FROM per_part, totals
        WHERE value_m * n_parts > 2 * total_m
        ORDER BY part_value DESC, partkey
    """,
    "tpch_shipmode_priority": """
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'FAST'
                    WHEN date_diff('day', o_orderdate, l_shipdate) < 90 THEN 'REGULAR'
                    ELSE 'SLOW' END AS ship_class,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "tpch_bucketed_join": """
        SELECT year(o_orderdate) AS o_year,
               month(o_orderdate) AS o_month,
               count(*) AS n_items,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT))::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    """,
    "tpch_bloom_filter_join": """
        SELECT o_orderpriority, count(*) AS orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500.0
        GROUP BY o_orderpriority
    """,
    "tpch_sql_market_pulse": """
        WITH monthly AS (
            SELECT n_name,
                   date_trunc('month', o_orderdate)::TIMESTAMP AS month,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, date_trunc('month', o_orderdate)
        )
        SELECT n_name, month, revenue,
               round(sum(revenue) OVER (
                   PARTITION BY n_name ORDER BY month
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                   AS revenue_3mo_sum
        FROM monthly
    """,
    "tpch_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY supp_nation, cust_nation, l_year
    """,
    "tpch_market_share": """
        SELECT year(o_orderdate) AS o_year,
               round(sum(CASE WHEN n1.n_name = 'NATION_3'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'PROMO'
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_year
    """,
    "tpch_product_profit": """
        SELECT n_name AS supp_nation, year(l_shipdate) AS o_year,
               round(sum(l_extendedprice * (1 - l_discount)
                         - 0.1 * p_retailprice * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY supp_nation, o_year
    """,
    "tpch_customer_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) GROUP BY c_count
    """,
    "tpch_promo_revenue": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "tpch_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM revenue JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "tpch_supplier_part_counts": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
    "tpch_large_volume_customers": """
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 350
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        FROM orders
        JOIN big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "tpch_disjunctive_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 20
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 30
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_heavy_part_suppliers": """
        WITH heavy AS (
            SELECT DISTINCT l_suppkey
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
            HAVING sum(l_quantity) > 50
        )
        SELECT s_suppkey, s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
    "tpch_waiting_orders": """
        SELECT s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l1.l_returnflag = 'R'
          AND n_name = 'NATION_5'
          AND EXISTS (SELECT 1 FROM orders
                      WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
    """,
    "tpch_min_cost_supplier": """
        WITH offers AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), qual AS (
            SELECT o.*, p_partkey, p_name
            FROM offers o
            JOIN part ON l_partkey = p_partkey
            WHERE p_size = 15 AND p_type = 'STANDARD'
        )
        SELECT s_name, n_name, p_partkey, p_name, s_acctbal, unit_cost
        FROM qual q
        JOIN supplier ON q.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE unit_cost = (SELECT min(unit_cost) FROM qual q2
                           WHERE q2.l_partkey = q.l_partkey)
    """,
    "tpch_idle_customers": """
        WITH rich AS (
            SELECT * FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        )
        SELECT c_mktsegment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM rich r
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = r.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
    """,
    "tpch_small_qty_revenue": """
        WITH part_avg AS (
            SELECT l_partkey, avg(l_quantity) * 0.5 AS half_avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#1'
        JOIN part_avg a ON l.l_partkey = a.l_partkey
        WHERE l.l_quantity < a.half_avg_qty
    """,
    "tpch_running_totals": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                   AS running_revenue,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS order_seq
        FROM orders
        WHERE o_custkey < 50
    """,
    "tpch_grouping_sets": """
        SELECT o_orderpriority, o_orderstatus, o_year,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS volume,
               grouping(o_orderpriority) AS g_priority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_year) AS g_year
        FROM (SELECT o_orderpriority, o_orderstatus,
                     year(o_orderdate) AS o_year, o_totalprice
              FROM orders)
        GROUP BY GROUPING SETS ((o_orderpriority, o_year),
                                (o_orderstatus), ())
    """,
    "tpch_priority_year_cube": """
        SELECT o_orderpriority, o_year,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS volume,
               grouping(o_orderpriority) AS g_priority,
               grouping(o_year) AS g_year
        FROM (SELECT o_orderpriority, year(o_orderdate) AS o_year, o_totalprice
              FROM orders)
        GROUP BY CUBE (o_orderpriority, o_year)
    """,
    "tpch_returnflag_rollup": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS total_price,
               CASE WHEN grouping(l_returnflag) = 1 AND grouping(l_linestatus) = 1 THEN 3
                    WHEN grouping(l_linestatus) = 1 THEN 1
                    ELSE 0 END AS grp
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "tpch_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_top_unshipped_orders": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "tpch_order_priority_count": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority
    """,
    "tpch_local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "tpch_revenue_by_nation": """
        SELECT r_name, n_name,
               round(sum(o_totalprice), 2) AS total_revenue,
               count(*) AS order_count
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "tpch_top_customers": """
        WITH per_cust AS (
            SELECT n_name, c_custkey, c_name,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, c_custkey, c_name
        )
        SELECT n_name, c_custkey, c_name, revenue, rnk FROM (
            SELECT *, row_number() OVER (PARTITION BY n_name
                       ORDER BY revenue DESC, c_custkey) AS rnk
            FROM per_cust
        ) WHERE rnk <= 3
    """,
    "tpch_part_type_stats": """
        SELECT p_type,
               count(*) AS n_parts,
               count(DISTINCT p_brand) AS n_brands,
               round(avg(p_retailprice), 4) AS avg_price,
               round(sum(CASE WHEN p_size > 25 THEN p_retailprice ELSE 0.0 END), 2)
                   AS large_part_value
        FROM part
        GROUP BY p_type
    """,
}
