"""Two-phase global ranking — distributed replacement for single-partition
``Window.orderBy(...)`` row numbering (and the exact-``ntile`` built on it).

A global ``row_number() OVER (ORDER BY ...)`` compiles to
``Exchange SinglePartition`` → Sort → Window: every row funnels through one
task, the classic scale-killer flagged in round-3 VERDICT §"What's wrong".
The standard fix is two-phase (a.k.a. range-partitioned) ranking:

1. assign each row to a *range bucket* — any integer expression that is
   monotone non-decreasing along the target total order (a hex prefix of an
   md5 sort key, ``width_bucket`` over quantile boundaries, ...);
2. rank *within* each bucket with an ordinary partitioned window (parallel,
   one hash shuffle);
3. add a per-bucket cumulative offset. The offset table has one row per
   bucket — bounded by construction, independent of data volume — so it is
   collected once and folded back in as a plan-time literal lookup (the same
   "trained artifact as literal" pattern the IVF codebooks use).

The result is bit-identical to the global window for any total order whose
bucket expression is consistent with it, with no single-partition exchange
anywhere in the plan (pinned by tests/test_plan_quality.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Default number of range buckets for quantile-derived bucketing. Buckets
# only shape parallelism, never results; raise for bigger clusters.
N_RANK_BUCKETS = 64


def _offset_pass(b, group_cols, aggs, fn_name, fold):
    """Run an offset pass: ``b.groupBy(*group_cols).agg(*aggs)``
    collected to the driver — one row per bucket (or bucket x group),
    bounded by construction — folded to the helper-specific offset value.
    Raises on null bucket/group values: a null has no place in the total
    order, so failing beats mis-ranking."""
    rows = b.groupBy(*group_cols).agg(*aggs).collect()
    if any(any(r[c] is None for c in group_cols) for r in rows):
        raise ValueError(
            f"{fn_name}: bucket/group expression evaluated to NULL for some "
            "rows — coalesce nulls into a sentinel bucket that respects the "
            "order, or filter them out"
        )
    return fold(rows)


def _collect_bucket_offsets(b: DataFrame, agg: Column, fn_name: str):
    """Per-bucket offset pass shared by the rank and prefix-sum helpers:
    cumulative offsets of ``agg`` in bucket order. Returns
    ``(offsets, total)``."""

    def fold(rows):
        offsets: dict[int, int] = {}
        total = 0
        for r in sorted(rows, key=lambda r: r["__tpb"]):
            offsets[r["__tpb"]] = total
            total += r["__n"] or 0
        return offsets, total

    return _offset_pass(
        b, ["__tpb"], [agg.alias("__n")], fn_name, fold
    )


def two_phase_row_number(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[Column],
    out: str = "global_pos",
) -> tuple[DataFrame, int]:
    """Append a 1-based global row number ``out`` (``long`` — ranks are
    exactly what outgrow int32 at warehouse scale) ordered by ``order_by``.

    ``bucket`` must be a NON-NULL integer expression monotone non-decreasing
    along the ``order_by`` total order (caller's contract; a null bucket has
    no place in the total order, so it raises rather than mis-ranking).
    Returns the ranked frame and the total row count (a free by-product of
    the offset pass, handy for exact ntile arithmetic).
    """
    b = df.withColumn("__tpb", bucket)
    offsets, total = _collect_bucket_offsets(
        b, F.count(F.lit(1)), "two_phase_row_number"
    )
    w = Window.partitionBy("__tpb").orderBy(*order_by)
    if offsets:
        pos = F.row_number().over(w) + _offset_lookup(offsets)
    else:  # empty input: keep the schema without a degenerate map literal
        pos = F.row_number().over(w)
    return b.withColumn(out, pos.cast("long")).drop("__tpb"), total


# Dense bucket domains up to this span encode their offset table as ONE
# folded array literal instead of a 2x|buckets| create_map expression tree:
# the analyzer re-walks every expression node of a plan on each downstream
# Dataset transformation, so a 256-bucket map (512 Literal nodes) costs
# ~0.2 s of driver time PER CALL. ``split`` of one CSV string literal is a
# single expression to build (one py4j hop — ``F.lit([...])`` would issue
# one hop per element) and is foldable, so the optimizer collapses it to a
# single ArrayData literal once per execution; per-row lookup is then an
# O(1) ``element_at``.
_DENSE_SPAN_MAX = 4096


def _blob_lookup(idx: Column, values: list[int]) -> Column:
    """``values[idx]`` (0-based) as a single folded-array-literal lookup."""
    csv = ",".join(str(int(v)) for v in values)
    arr = F.split(F.lit(csv), ",")
    return F.element_at(arr, (idx + 1).cast("int")).cast("long")


def _offset_lookup(offsets: dict[int, int]):
    """Plan-time column mapping ``__tpb`` -> its cumulative offset."""
    lo, hi = min(offsets), max(offsets)
    if hi - lo < _DENSE_SPAN_MAX:
        dense = []
        prev = 0
        for k in range(lo, hi + 1):
            # gap buckets hold no rows; carry the previous offset (unused)
            prev = offsets.get(k, prev)
            dense.append(prev)
        return _blob_lookup(F.col("__tpb") - F.lit(lo), dense)
    # sparse/huge bucket domain: fall back to the map literal
    lookup = F.create_map(*[F.lit(x) for k, v in offsets.items() for x in (k, v)])
    return lookup[F.col("__tpb")]


def two_phase_prefix_sum(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[Column],
    val: Column,
    out: str = "running_sum",
) -> DataFrame:
    """Append the global running sum of ``val`` ordered by ``order_by`` —
    the prefix-sum twin of :func:`two_phase_row_number` (sweep-line
    algorithms are cumulative SUMS over a total order, not ranks).

    Same contract and same shape: ``bucket`` non-null, integer, monotone
    non-decreasing along ``order_by``. The offset pass aggregates
    ``sum(val)`` per bucket (one row per bucket, bounded by construction),
    cumulative offsets fold back as a plan-time literal, and the running
    sum within each bucket is an ordinary partitioned window — no
    ``Exchange SinglePartition`` anywhere. ``val`` is summed as ``long``
    (offsets are exact integers on both the driver and the literal path);
    null summands count as 0 — SQL ``sum`` skips nulls, so the running
    value at a null row carries the previous value, which is exactly what
    adding 0 produces (without the coalesce, a null LEADING a bucket would
    null out that bucket's window sum and the folded offset with it).
    """
    b = df.withColumn("__tpb", bucket).withColumn(
        "__tpv", F.coalesce(val.cast("long"), F.lit(0))
    )
    offsets, _ = _collect_bucket_offsets(
        b, F.sum("__tpv"), "two_phase_prefix_sum"
    )
    w = (
        Window.partitionBy("__tpb")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum("__tpv").over(w)
    if offsets:
        run = run + _offset_lookup(offsets)
    return b.withColumn(out, run.cast("long")).drop("__tpb", "__tpv")


# Sentinel for "no preceding value" in the folded prefix-max literal: the
# lookup array is a CSV of longs, so None must round-trip as a number. Any
# value below every real data value works; LONG_MIN/4 keeps greatest()
# arithmetic far from overflow while being unmistakable in a plan dump.
_PREFIX_MAX_NONE = -(2**62)


def two_phase_prefix_max(
    df: DataFrame,
    bucket: Column,
    order_by: Sequence[Column],
    val: Column,
    out: str = "prev_max",
) -> DataFrame:
    """Append the running max of ``val`` over the STRICTLY-PRECEDING rows of
    the global ``order_by`` total order (frame ``unboundedPreceding .. -1``;
    null where no row precedes) — the sweep-line primitive behind sort-based
    skyline/Pareto-frontier computation and high-watermark scans.

    Same contract and shape as :func:`two_phase_prefix_sum`: ``bucket``
    non-null, integer, monotone non-decreasing along ``order_by``; ``val``
    integer (cast to long). The offset pass collects ``max(val)`` per bucket
    (one row per bucket, bounded by construction), the fold turns it into an
    EXCLUSIVE per-bucket prefix max (max over all earlier buckets, None for
    the first), and the global value is ``greatest(within-bucket exclusive
    running max, bucket prefix)`` — ``greatest`` skips nulls, so empty
    frames and first-bucket rows compose correctly. No
    ``Exchange SinglePartition`` anywhere.
    """
    b = df.withColumn("__tpb", bucket).withColumn("__tpv", val.cast("long"))

    def fold(rows):
        pre: dict[int, int | None] = {}
        run: int | None = None
        for r in sorted(rows, key=lambda r: r["__tpb"]):
            pre[r["__tpb"]] = run
            m = r["__n"]
            if m is not None and (run is None or m > run):
                run = m
        return pre

    pre = _offset_pass(
        b, ["__tpb"], [F.max("__tpv").alias("__n")], "two_phase_prefix_max", fold
    )
    w = (
        Window.partitionBy("__tpb")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.max("__tpv").over(w)
    if pre:
        look = _offset_lookup(
            {k: (_PREFIX_MAX_NONE if v is None else v) for k, v in pre.items()}
        )
        prefix = F.when(look != F.lit(_PREFIX_MAX_NONE), look)
        run_col = F.greatest(within, prefix)
    else:  # empty input: keep the schema
        run_col = within
    return b.withColumn(out, run_col.cast("long")).drop("__tpb", "__tpv")


def two_phase_grouped_row_number(
    df: DataFrame,
    bucket: Column,
    group: Column,
    order_by: Sequence[Column],
    out: str = "global_pos",
    group_out: str = "group_pos",
) -> tuple[DataFrame, int]:
    """One-shuffle twin of :func:`two_phase_row_number` that also appends the
    within-``group`` rank (both ``long``, both ordered by ``order_by``).

    A naive plan computes the global rank with one window and the per-group
    rank with a second ``Window.partitionBy(group)`` — a SECOND full shuffle
    of the data. Here both ranks ride ONE hash exchange on the range bucket:
    ``hash(__tpb)`` co-locates every ``(__tpb, group)`` pair, so the
    per-(bucket, group) window's clustering requirement is already satisfied
    and Catalyst plans exchange → sort → Window → sort → Window with no
    second exchange. The offset pass aggregates per (bucket, group) — at
    most ``|buckets| x |groups|`` rows, bounded by construction — and yields
    BOTH offset tables: per-bucket (global rank) and per-(group, bucket)
    (rows of the same group in lower buckets).

    Requirements: ``bucket`` as in :func:`two_phase_row_number`; ``group``
    a non-null integer expression over a SMALL dense domain (shards,
    partitions — parallelism-shaped, not data-shaped).
    """
    b = df.withColumn("__tpb", bucket).withColumn("__tpg", group)

    def fold(rows):
        bucket_tot: dict[int, int] = {}
        for r in rows:
            bucket_tot[r["__tpb"]] = bucket_tot.get(r["__tpb"], 0) + r["__n"]
        bucket_offsets: dict[int, int] = {}
        run = 0
        for k in sorted(bucket_tot):
            bucket_offsets[k] = run
            run += bucket_tot[k]
        group_offsets: dict[tuple[int, int], int] = {}
        per_group_run: dict[int, int] = {}
        for r in sorted(rows, key=lambda r: (r["__tpg"], r["__tpb"])):
            g = r["__tpg"]
            group_offsets[(g, r["__tpb"])] = per_group_run.get(g, 0)
            per_group_run[g] = per_group_run.get(g, 0) + r["__n"]
        return (bucket_offsets, group_offsets), run

    (bucket_offsets, group_offsets), total = _offset_pass(
        b,
        ["__tpb", "__tpg"],
        [F.count(F.lit(1)).alias("__n")],
        "two_phase_grouped_row_number",
        fold,
    )
    w1 = Window.partitionBy("__tpb").orderBy(*order_by)
    w2 = Window.partitionBy("__tpb", "__tpg").orderBy(*order_by)
    if not bucket_offsets:  # empty input
        return (
            b.withColumn(out, F.row_number().over(w1).cast("long"))
            .withColumn(group_out, F.row_number().over(w2).cast("long"))
            .drop("__tpb", "__tpg"),
            0,
        )
    pos = F.row_number().over(w1) + _offset_lookup(bucket_offsets)
    g_lo = min(g for g, _ in group_offsets)
    g_hi = max(g for g, _ in group_offsets)
    b_lo = min(bucket_offsets)
    b_hi = max(bucket_offsets)
    span_b = b_hi - b_lo + 1
    if (g_hi - g_lo + 1) * span_b < _DENSE_SPAN_MAX * 8:
        dense = [
            group_offsets.get((g, k), 0)
            for g in range(g_lo, g_hi + 1)
            for k in range(b_lo, b_hi + 1)
        ]
        gidx = (F.col("__tpg") - F.lit(g_lo)) * span_b + (
            F.col("__tpb") - F.lit(b_lo)
        )
        goff = _blob_lookup(gidx, dense)
    else:
        # injective (group, bucket) -> int encoding: shift both to zero
        # base, stride by the bucket span (b_hi+1 alone would collide for
        # negative buckets). Probe arithmetic is forced to LONG: Python
        # computes the map keys exactly, but a column-side int32 product
        # over a wide bucket span would wrap and silently miss the map.
        lookup = F.create_map(
            *[
                F.lit(x).cast("long")
                for (g, k), v in group_offsets.items()
                for x in ((g - g_lo) * span_b + (k - b_lo), v)
            ]
        )
        goff = lookup[
            (F.col("__tpg").cast("long") - F.lit(g_lo)) * F.lit(span_b)
            + (F.col("__tpb").cast("long") - F.lit(b_lo))
        ]
    gpos = F.row_number().over(w2) + goff
    return (
        b.withColumn(out, pos.cast("long"))
        .withColumn(group_out, gpos.cast("long"))
        .drop("__tpb", "__tpg"),
        total,
    )


def quantile_buckets(
    df: DataFrame,
    col: Column,
    n_buckets: int = N_RANK_BUCKETS,
    descending: bool = False,
) -> Column:
    """Build a monotone bucket expression for ``col`` from approximate
    quantile boundaries (one tiny aggregation, collected once).

    The boundaries only steer data placement — ties sit wholly inside one
    bucket and results never depend on boundary accuracy — so the sketch's
    approximation error is harmless. ``descending=True`` yields buckets
    monotone along a DESC order on ``col``.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(
        F.percentile_approx(
            col, F.array(*[F.lit(q) for q in qs]), 10_000
        ).alias("b")
    ).collect()[0]["b"]
    bounds = sorted(set(row or []))
    expr = F.lit(0)
    for v in bounds:
        # ascending: count of boundaries <= value; descending: count > value
        hit = (F.lit(v) > col) if descending else (F.lit(v) <= col)
        expr = expr + hit.cast("int")
    return expr


def ntile_from_rank(rank: Column, n_rows: int, n_tiles: int) -> Column:
    """Exact ANSI ``ntile(n_tiles)`` bucket for a precomputed 1-based global
    rank over ``n_rows`` rows: the first ``n_rows % n_tiles`` tiles get
    ``n_rows // n_tiles + 1`` rows, the rest one fewer — as plan-time CASE
    thresholds, no window."""
    size, extra = divmod(n_rows, n_tiles)
    thresholds = []
    cum = 0
    for t in range(1, n_tiles):
        cum += size + (1 if t <= extra else 0)
        thresholds.append((t, cum))
    out = F.lit(n_tiles)
    for t, cut in reversed(thresholds):
        out = F.when(rank <= cut, F.lit(t)).otherwise(out)
    return out
