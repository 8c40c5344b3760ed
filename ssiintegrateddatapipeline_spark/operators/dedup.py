"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB training-data-pipeline path:

- exact dedup: hash-groupBy on a content hash / business key — one shuffle
  on the hash, map-side partial aggregation, no data skew (md5 keys are
  uniform);
- MinHash+LSH near-dup: per-row signature (pure expressions, no shuffle) →
  explode only the B band keys (B=4 here) → self-join on the band key. The
  join key space is uniform hashes, so the shuffle partitions evenly; the
  candidate set is tiny relative to n^2 — this is the scale path, never
  all-pairs;
- SimHash: per-row 32-bit signature, no shuffle at all; near-dup grouping is
  an exact groupBy on the signature (or prefix buckets for hamming<k);
- n-gram Jaccard: exact verification on a bounded candidate subset only.

All ops are Catalyst expressions (md5-based hashing shared with the DuckDB
oracle — see functions/text_funcs.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.functions.text_funcs import (
    QUALITY_FORMULA_SQL as _QUALITY_FORMULA_SQL,
    TOKS_SQL,
    quality_terms_sql as _quality_terms_sql,
    tokens,
    with_minhash_signature,
    with_simhash32,
    word_shingles,
)
from ssiintegrateddatapipeline_spark.sources.batch import load_table, spread

N_MINHASH = 8
N_BANDS = 4  # 2 rows per band
NEAR_DUP_MIN_MATCHES = 4  # >= 4/8 matching minhashes to report a pair


def exact_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a business key: keep the earliest event per
    (user_id, event_type). The canonical 'keep first occurrence' pattern —
    one shuffle on the key, resolved by row_number."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by md5(text), keep min doc_id + group size."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition first: the raw scan is a handful of parquet splits, but the
    # signature computation is expression-heavy — spread it across all cores
    # (at production scale the scan itself would already be wide).
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    return with_minhash_signature(
        d.select("doc_id", word_shingles(toks).alias("_shingles")),
        F.col("_shingles"),
        N_MINHASH,
    ).select("doc_id", "sig")


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature, one column per permutation."""
    sigs = _signatures(spark, sf_dir)
    return sigs.select(
        "doc_id", *[F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(N_MINHASH)]
    )


from ssiintegrateddatapipeline_spark.caches import track
from ssiintegrateddatapipeline_spark.sources.batch import local_frame


def explode_band_keys(df: DataFrame) -> DataFrame:
    """(..., sig) -> one row per LSH band: every non-``sig`` column passes
    through, plus (band, key) where key concatenates the band's two
    minhashes. SINGLE SOURCE of the banding scheme — the batch pair join
    and the streaming ingest gates (streaming/pipeline._gate_*) both call
    this; the DuckDB twin is the arrb/refb CTE fragments."""
    extra = [c for c in df.columns if c != "sig"]
    return df.select(
        *extra,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            F.element_at("sig", 2 * b + 1),
                            F.element_at("sig", 2 * b + 2),
                        ).alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select(*extra, "sig", "bk.band", "bk.key")


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs. shingle -> minhash -> band ->
    bucket-join: explode the 4 band keys, self-join on (band, key), dedup
    candidate pairs, then estimate Jaccard as the fraction of matching
    minhashes and keep pairs >= 4/8. Callers that read the pairs more than
    once persist them themselves.

    Signatures are persisted before the self-join: otherwise Catalyst inlines
    the (expensive) signature expression into both join branches and the band
    keys, recomputing the md5 work up to 10x.
    """
    persisted_sigs = track(_signatures(spark, sf_dir).persist())
    a = explode_band_keys(persisted_sigs)
    b = a.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"), "band", "key"
    )
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select("doc_id", "doc_id_b", "sig", "sig_b")
        .dropDuplicates(["doc_id", "doc_id_b"])
    )
    n_match = F.size(
        F.filter(F.zip_with("sig", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    return (
        cand.withColumn("n_matching_minhashes", n_match)
        .where(F.col("n_matching_minhashes") >= NEAR_DUP_MIN_MATCHES)
        .select(
            F.col("doc_id").alias("doc_id_a"),
            "doc_id_b",
            "n_matching_minhashes",
            F.round(F.col("n_matching_minhashes") / F.lit(float(N_MINHASH)), 6).alias(
                "est_jaccard"
            ),
        )
    )


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, max_local_pairs: int = 1_000_000
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash-LSH
    pair graph — the step a dedup pipeline actually needs after pair
    generation (keep one doc per cluster).

    Two-tier execution, chosen by the measured pair count:

    - the LSH contract makes the pair graph orders of magnitude smaller
      than the corpus; when it fits the driver (<= max_local_pairs) the
      components are solved with a union-find in microseconds — one
      collect of 2 longs per pair, no iteration jobs at all;
    - a genuinely huge graph falls back to distributed min-label
      propagation to fixpoint (the bounded-iteration skeleton of
      large-star/small-star): each round is one equi-join + min-aggregate,
      convergence checked with an anti-join count.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    # one job decides the tier: at most max_local_pairs + 1 rows come back
    local = pairs.limit(max_local_pairs + 1).collect()
    if len(local) <= max_local_pairs:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in local:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(doc, find(doc)) for doc in parent]
        return local_frame(spark, rows, "doc_id long, cluster_id long")

    edges = track(
        pairs.union(pairs.select(F.col("doc_id_b"), F.col("doc_id_a")))
        .toDF("src", "dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )
    for _ in range(20):
        prop = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "cluster_id"
        )
        new_labels = (
            labels.select("doc_id", "cluster_id")
            .union(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .persist()
        )
        changed = new_labels.join(
            labels, ["doc_id", "cluster_id"], "left_anti"
        ).count()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    track(labels)  # the final frame backs the returned plan
    edges.unpersist()
    return labels.select("doc_id", "cluster_id")


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash (token-hash bit-vote), plus a 8-bit
    prefix bucket usable for hamming-distance blocking."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return (
        with_simhash32(d.select("doc_id", "text"), tokens(F.col("text")))
        .select("doc_id", "simhash")
        .withColumn("simhash_prefix", F.shiftright(F.col("simhash"), 24))
    )


SIMHASH_MAX_HAMMING = 8  # well below the ~16 mean of unrelated 32-bit hashes


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on the 8-bit prefix (the scale trick —
    candidate pairs only form inside a bucket, turning n^2 into sum of
    bucket^2), then keep pairs with Hamming distance <= k via bit_count of
    the XOR. Both stages are pure JVM expressions.

    Signatures are persisted before the self-join — otherwise Catalyst
    inlines the (expensive: per-token hash + 32 bit-sums) signature
    expression into both join branches and computes it twice (the same
    trap minhash_lsh_pairs documents)."""
    sigs = track(simhash_signatures(spark, sf_dir).persist())
    a = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("simhash").alias("sh_a"),
        "simhash_prefix",
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("simhash").alias("sh_b"),
        "simhash_prefix",
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, "simhash_prefix")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity on a bounded subset (doc_id < 500)
    via shingle explode + equi-join on shingle — the verification stage that
    follows LSH candidate generation at scale."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens(F.col("text"))))).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= 0.1)
        .select("doc_id_a", "doc_id_b", "n_common", "jaccard")
    )


# Jaccard threshold for the prefix-filter join, as an exact rational so the
# prefix length ceil(t*n) is integer arithmetic in both engines (no float
# ceil straddling a representation boundary). 0.7 is the regime the
# algorithm is built for: prefix length (1-t)n+1 shrinks to ~0.3n, so the
# candidate join prunes hard (at t=0.5 half of every doc is "prefix" and
# the join degenerates toward the full shingle join — measured 300k
# candidates for 256 true pairs at sf0.1; t=0.7 emits the same 256 pairs,
# every near-dup in this corpus sits above 0.8).
PREFIX_T_NUM = 7
PREFIX_T_DEN = 10
PREFIX_TOPK_K = 5  # neighbors kept per doc by the bounded-output twin


def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-corpus exact Jaccard similarity join via prefix filtering
    (SSJoin / All-Pairs / PPJoin family — Chaudhuri et al. ICDE'06, Bayardo
    et al. WWW'07, Xiao et al. WWW'08): a lossless candidate generator for
    ``J >= t`` that never forms all pairs.

    Order every doc's shingles by ascending global document frequency
    (rarest first); a doc of n shingles keeps only its first
    ``n - ceil(t*n) + 1`` as its *prefix*. Two docs with Jaccard >= t must
    share a prefix shingle (if all common shingles sat in both suffixes,
    overlap <= ceil(t*min)-1 < t*min <= t*(na+nb)/(1+t), contradicting
    J >= t), so an equi-join on prefix shingles finds every qualifying
    pair; rare-first ordering makes those join keys the LOW-frequency ones,
    which is what keeps the candidate count near-linear. A length filter
    (min/max >= t) prunes impossible pairs before verification, and the
    exact intersection count is computed only for candidates.

    Contrast with dedup_ngram_jaccard_pairs: that is the bounded-subset
    verify stage (doc_id < 500, join on EVERY shingle); this is the scale
    form — same exact result, candidate generation restricted to prefixes.

    Scale notes (100 TB): one shuffle on doc_id for the ranking windows
    (row_number + size share the exchange), one equi-join on prefix
    shingles whose keys are by construction the rarest in the corpus (skew
    bounded by the prefix-filter principle; a df cap would bound it
    outright at the cost of recall on stop-shingle-only pairs), then a
    candidate-bounded verify join. The persisted shingle table is reused
    by all three stages."""
    from ssiintegrateddatapipeline_spark.caches import track

    # spread() first: the corpus is a handful of parquet splits but the
    # shingle materialization is the CPU wall — fan it across all cores
    # before the explode (the dup_ngrams/_signatures lesson)
    d = spread(load_table(spark, sf_dir, "documents"))
    sh = track(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(tokens(F.col("text"))))
            ).alias("shingle"),
        ).persist()
    )
    return prefix_filtered_jaccard(sh, PREFIX_T_NUM, PREFIX_T_DEN)


def prefix_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-k nearest neighbors by EXACT Jaccard — the bounded
    scale twin of ``dedup_prefix_jaccard_pairs`` (the ks_drift /
    ks_drift_binned precedent), via CLASS DECOMPOSITION.

    The lossless pair join is inherently quadratic under twin density —
    in RESULT (m-twin families emit m(m-1)/2 rows) and, worse, in the
    verify INTERMEDIATE (measured: heap OOM at 10x replica density). The
    fix is the move a production dedup pipeline makes anyway: collapse
    EXACT duplicates first. Jaccard depends only on the shingle SET, so
    docs with identical sets form an identity class; the prefix-filtered
    exact join then runs over one REPRESENTATIVE per class (the class
    structure — distinct texts — does not grow under twin replication),
    and per-doc top-k expands back from class-level results:

    - own-class twins have jaccard exactly 1.0; only a class's k+1
      smallest member ids can appear in anyone's top-k (ties break by
      neighbor id ascending), so each class contributes a bounded slate;
    - cross-class jaccard is the representatives' jaccard verbatim, and
      again only the neighbor class's k smallest ids can place.

    The result is EXACT — the oracle is the same full O(n^2) rebuild the
    pair query uses, so the hash match proves the decomposition — while
    work scales with (distinct-text corpus + docs x k), not with twin
    density, and the output is O(docs x k). The final per-doc ranking
    rides the two-level top-k device (functions/topk.py)."""
    from ssiintegrateddatapipeline_spark.functions.topk import two_level_topk

    k = PREFIX_TOPK_K
    d = spread(load_table(spark, sf_dir, "documents"))
    # the shingle-set lineage (tokenize → shingle → distinct → sort) is
    # the dominant per-row cost and feeds THREE consumers (classes,
    # members, representative shingles) — pin it once; with the pair-table
    # pin below, 8.3 s → 3.3 s warm at sf0.1 (lineage otherwise runs per
    # consumer)
    keyed = track(
        d.select(
            "doc_id",
            F.array_sort(
                F.array_distinct(word_shingles(tokens(F.col("text"))))
            ).alias("shset"),
        )
        .withColumn("ck", F.xxhash64("shset"))  # 64-bit set-identity key:
        # a collision would merge two distinct classes — probability
        # ~n²/2⁶⁵, and the exact full-rebuild oracle would hash-mismatch
        # if it ever hit
        .persist()
    )
    classes = keyed.groupBy("ck").agg(F.min("doc_id").alias("class_id"))
    members = track(
        keyed.join(classes, "ck").select("doc_id", "class_id").persist()
    )
    # per-class bounded member slate: the k+1 smallest ids (k for a
    # neighbor class, k+1 to exclude self within the own class)
    w_cls = Window.partitionBy("class_id").orderBy("doc_id")
    slate = (
        members.withColumn("_mr", F.row_number().over(w_cls))
        .where(F.col("_mr") <= k + 1)
        .drop("_mr")
    )
    # exact prefix-filtered Jaccard over REPRESENTATIVE shingle rows only
    rep_sh = (
        keyed.join(classes, "ck")
        .where(F.col("doc_id") == F.col("class_id"))
        .select("class_id", F.explode("shset").alias("shingle"))
        .withColumnRenamed("class_id", "doc_id")
    )
    # the class-level pair table feeds BOTH legs of the symmetric union —
    # unpinned, the whole prefix-filtered join would run twice
    cp = track(
        prefix_filtered_jaccard(rep_sh, PREFIX_T_NUM, PREFIX_T_DEN).persist()
    )
    sym = cp.select(
        F.col("doc_id_a").alias("cls"),
        F.col("doc_id_b").alias("ncls"),
        "jaccard",
    ).unionByName(
        cp.select(
            F.col("doc_id_b").alias("cls"),
            F.col("doc_id_a").alias("ncls"),
            "jaccard",
        )
    )
    own = (
        members.join(
            slate.select("class_id", F.col("doc_id").alias("neighbor")),
            "class_id",
        )
        .where(F.col("neighbor") != F.col("doc_id"))
        .select("doc_id", "neighbor", F.lit(1.0).alias("jaccard"))
    )
    cross = (
        members.select("doc_id", F.col("class_id").alias("cls"))
        .join(sym, "cls")
        .join(
            slate.select(
                F.col("class_id").alias("ncls"),
                F.col("doc_id").alias("neighbor"),
            ),
            "ncls",
        )
        .select("doc_id", "neighbor", "jaccard")
    )
    return two_level_topk(
        own.unionByName(cross),
        ["doc_id"],
        [F.desc("jaccard"), F.asc("neighbor")],
        k,
        salt=F.col("neighbor"),
    ).select("doc_id", "neighbor", "jaccard", "rank")


def prefix_filtered_jaccard(
    sh: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Core prefix-filtered exact Jaccard join over an exploded
    (doc_id, shingle) set frame, threshold t = t_num/t_den (0 < t <= 1).
    Kept separate from the corpus binding so the losslessness claim is
    property-testable on arbitrary random set collections
    (tests/test_prefix_jaccard.py)."""
    # document frequency as a count window over the shingle partition —
    # ONE exchange on shingle, no aggregate+join round trip; n_sh and the
    # rank then stack on ONE doc_id exchange (coarser window deeper)
    w_sh = Window.partitionBy("shingle")
    w_rank = Window.partitionBy("doc_id").orderBy("df", "shingle")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.withColumn("df", F.count("*").over(w_sh))
        .withColumn("n_sh", F.count("*").over(w_size))
        .withColumn("pos", F.row_number().over(w_rank))
    )
    # prefix length = n - ceil(t*n) + 1, all-integer: ceil(t*n) =
    # (n*NUM + DEN - 1) div DEN
    min_keep = F.expr(
        f"(n_sh * {t_num} + {t_den - 1}) div {t_den}"
    )
    prefix = ranked.where(F.col("pos") <= F.col("n_sh") - min_keep + 1)
    pa = prefix.select(
        F.col("doc_id").alias("doc_id_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_id_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    cand = (
        pa.join(pb, "shingle")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        # length filter: J <= min/max, so J >= t needs min*DEN >= max*NUM
        .where(
            F.least("n_a", "n_b") * t_den
            >= F.greatest("n_a", "n_b") * t_num
        )
        .select("doc_id_a", "doc_id_b", "n_a", "n_b")
        .distinct()
    )
    # verify stage: attach each candidate doc's SHINGLE SET (an in-row
    # array) to the pair and compute the exact intersection size with one
    # array_intersect expression per pair — cost is |cand| * |doc|, never
    # corpus x corpus. The former formulation expanded every pair by its
    # left doc's shingles and hash-probed (shingle, right doc) membership:
    # correct, but it materialized a |cand| x |shingles(a)| row stream
    # (7.5M rows / 33 CPU-s at sf0.1) through two joins and a re-aggregate.
    # The set table is first semi-joined down to docs that appear in some
    # candidate (the containment_pairs device), so only the candidate
    # sliver's arrays move. Shingles per doc are distinct by the function's
    # input contract ("exploded set frame"), so |array_intersect| is the
    # exact overlap. The attach joins carry NO broadcast hint: the
    # candidate doc set is data-dependent and unbounded — on a
    # near-dup-rich corpus a forced broadcast would blow the driver;
    # Catalyst/AQE picks broadcast itself whenever the set is small.
    from ssiintegrateddatapipeline_spark.caches import track as _track

    cand = _track(cand.persist())
    cand_docs = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .union(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    # persisted: sets feeds the pair join through TWO differently-aliased
    # branches (sa / sb), which canonicalize differently and so defeat
    # ReuseExchange — unpinned, the semi-join + collect_list subtree (and
    # everything beneath it) is computed once per branch (r11, measured)
    sets = _track(
        sh.join(cand_docs, "doc_id", "leftsemi")
        .groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("ss"))
        .persist()
    )
    inter = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_id_a"), F.col("ss").alias("sa")),
            "doc_id_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_id_b"), F.col("ss").alias("sb")),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_a",
            "n_b",
            # cast: the former count(*) formulation emitted int64 — keep
            # the declared output schema bit-identical for the oracle
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("n_common"),
        )
    )
    jaccard = F.round(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
    )
    # threshold on the TRUE Jaccard in exact integer arithmetic — the
    # prefix filter's losslessness guarantee covers J >= t, not
    # round(J, 6) >= t, and the rounded form would re-admit pairs in
    # [t - 5e-7, t) that candidate generation correctly skips
    true_ge_t = F.col("n_common") * t_den >= (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ) * t_num
    return (
        inter.where(true_ge_t)
        .withColumn("jaccard", jaccard)
        .select("doc_id_a", "doc_id_b", "n_common", "jaccard")
    )


CONTAINMENT_MIN = 0.5  # report pairs where >= half of the smaller doc recurs


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplication: shingle CONTAINMENT
    |A ∩ B| / min(|A|, |B|) — catches a document embedded inside a larger
    one, which symmetric Jaccard dilutes below threshold (the RefinedWeb /
    quote-inclusion case). Candidates come from the same LSH pair graph as
    the Jaccard verifier; this is the exact-verification stage over the
    bounded candidate set, one shingle equi-join + two broadcast size
    lookups.
    """
    cand = track(
        minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b").persist()
    )
    # the exact-verify stage only ever touches docs that appear in some
    # candidate pair — semi-join the CORPUS down to those BEFORE sharding
    # shingles, so the expensive shingle self-join runs over the candidate
    # sliver, not the whole corpus (at 100 TB this is the difference
    # between a bounded verify and re-joining the dataset)
    cand_docs = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .union(cand.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    d = load_table(spark, sf_dir, "documents").join(
        F.broadcast(cand_docs), "doc_id", "leftsemi"
    )
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text"))))
        ).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_id_a"), F.col("y.doc_id").alias("doc_id_b")
        )
        .agg(F.count("*").alias("n_common"))
        .join(F.broadcast(cand), ["doc_id_a", "doc_id_b"], "leftsemi")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_id_a")
        .join(F.broadcast(sb), "doc_id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.least("n_a", "n_b"), 6),
        )
        .where(F.col("containment") >= CONTAINMENT_MIN)
        .select("doc_id_a", "doc_id_b", "n_common", "containment")
    )


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: a NEW batch of documents is checked
    against the EXISTING corpus — the shape every refreshed training set
    needs (CommonCrawl snapshot N+1 vs the already-kept corpus). Never
    re-deduplicates the old corpus: exact hits are a semi-join of the new
    batch against the old content-hash set, near-dup hits reuse the same
    LSH band join (band keys partition uniformly, so old-corpus size scales
    the join, not the candidate explosion). Here old/new is simulated by
    doc_id parity; in production the two sides are separate snapshots.

    Output: every new doc with its fate — 'exact_dup' (byte-identical to an
    old doc), 'near_dup' (LSH-verified against an old doc), or 'kept'.
    Exact wins over near when both hold.
    """
    d = load_table(spark, sf_dir, "documents")
    old_hashes = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    pairs = minhash_lsh_pairs(spark, sf_dir)
    near_new = (
        pairs.where((F.col("doc_id_a") % 2) != (F.col("doc_id_b") % 2))
        .select(
            F.when(F.col("doc_id_a") % 2 == 1, F.col("doc_id_a"))
            .otherwise(F.col("doc_id_b"))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    new_docs = d.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    # both lookup sides are post-aggregation and tiny relative to the new
    # batch — broadcast them so the fate assignment never shuffles new_docs
    return (
        new_docs.join(F.broadcast(old_hashes), "content_hash", "left")
        .join(F.broadcast(near_new), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def pagerank_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed power iterations, damping 0.85) over the undirected
    MinHash-LSH near-duplicate graph — ranks the "hub" documents whose text
    is echoed most widely, the signal corpus-level dedup policies weight by.

    The iterative join-agg shape: each iteration is one equi-join of the rank
    vector against the (cached) edge list plus a sum-aggregate — both shuffle
    on uniformly-hashed ids and scale linearly with |E|; nothing is collected
    but the scalar node count. Every node of the undirected graph has
    degree >= 1, so no dangling-mass correction is needed.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).union(pairs.select(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = track(edges.join(deg, "src").persist())
    n = deg.count()
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n).alias("rank"))
    jump = 0.15 / n
    for _ in range(PAGERANK_ITERS):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            "node", (F.lit(jump) + F.lit(PAGERANK_DAMPING) * F.col("s")).alias("rank")
        )
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (the web-corpus crawl-frontier shape):
    scheme/`www.` stripped, `utm_*` tracking parameters removed (other query
    params kept), trailing slash normalized, then a groupBy on the canonical
    form counting events and distinct raw variants.

    Deterministic URL variants are planted from event/user ids (the events
    table has no URL column); every step is a JVM-side regexp/replace chain —
    per-row, shuffle only on the final canonical-key groupBy, which is
    uniform (URL-shaped keys hash evenly).
    """
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "event_id",
        F.concat(
            F.when(F.col("event_id") % 2 == 0, F.lit("https://")).otherwise(
                F.lit("http://")
            ),
            F.when(F.col("event_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("shop"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/item/"),
            (F.col("user_id") % 50).cast("string"),
            F.when(F.col("event_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("event_id") % 4 == 0,
                F.concat(
                    F.lit("?utm_source=feed&ref="), (F.col("event_id") % 3).cast("string")
                ),
            )
            .when(
                F.col("event_id") % 7 == 0,
                F.concat(F.lit("?ref="), (F.col("event_id") % 3).cast("string")),
            )
            .otherwise(F.lit("")),
        ).alias("url"),
    )
    u = F.regexp_replace(F.col("url"), r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"utm_[a-z]+=[^&]*&", "")  # utm followed by more params
    u = F.regexp_replace(u, r"[?&]utm_[a-z]+=[^&]*$", "")  # trailing utm + separator
    u = F.replace(u, F.lit("/?"), F.lit("?"))  # slash before query string
    u = F.regexp_replace(u, r"/$", "")
    return (
        raw.select(u.alias("canonical_url"), "url")
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("url").alias("n_raw_variants"),
        )
    )


FUZZY_MAX_DIST = 3


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage on part names: Levenshtein edit-distance pairs
    under a blocking key (the head noun — last token), the classic
    entity-resolution shape (block → compare-within-block → threshold).

    Scale shape: all-pairs Levenshtein is O(n²) and never viable; blocking
    bounds the comparison set to within-block pairs (uniform hash-partitioned
    by block key), and the comparator itself is the JVM-side `levenshtein`
    expression — no Python, no shuffle beyond the one block-key join.
    """
    p = load_table(spark, sf_dir, "part")
    names = (
        p.select(F.col("p_name").alias("name"))
        .distinct()
        .withColumn("blk", F.element_at(F.split("name", " "), -1))
    )
    a = names.select(F.col("name").alias("name_a"), "blk")
    b = names.select(F.col("name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_distance", F.levenshtein("name_a", "name_b"))
        .where(F.col("edit_distance") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "edit_distance")
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH near-duplicate graph —
    the coherence signal of a dup cluster (a~b, b~c and a~c closing the
    wedge means the cluster is mutually-similar, not a chain of borderline
    pairs).

    The standard distributed formulation: edges kept in one orientation
    (src < dst), one self-join builds wedges, one more semi-join closes
    them — two shuffles on uniformly-hashed doc ids, never a full
    materialization of neighborhoods.
    """
    pairs = track(
        minhash_lsh_pairs(spark, sf_dir).select(
            F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
        ).persist()
    )
    # materialize now, so the wedge and closing joins plan against the
    # graph's measured size rather than the band join's estimate
    pairs.count()
    wedges = pairs.alias("p1").join(
        pairs.alias("p2"), F.col("p1.b") == F.col("p2.a")
    ).select(F.col("p1.a").alias("a"), F.col("p1.b").alias("b"), F.col("p2.b").alias("c"))
    tri = wedges.alias("w").join(
        pairs.alias("p3"),
        (F.col("w.a") == F.col("p3.a")) & (F.col("w.c") == F.col("p3.b")),
        "leftsemi",
    )
    nodes = (
        tri.select(F.col("a").alias("doc_id"))
        .union(tri.select("b"))
        .union(tri.select("c"))
    )
    return nodes.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))


BFS_SEED_SOURCE = "src0"  # seed set: one crawl source's documents
BFS_MAX_HOPS = 3  # contamination horizon: transitive near-dup reach


HITS_ITERS = 3
HITS_TOP_K = 20


def hits_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg, JACM 1999) over the DIRECTED customer->supplier
    purchase graph (distinct (o_custkey, l_suppkey) edges): hub scores
    rank customers who buy broadly from strong suppliers, authority
    scores rank suppliers bought by strong hubs — the mutual-
    reinforcement ranking the undirected near-dup graph can't express
    (on a symmetric adjacency hubs == authorities, so PageRank owns that
    graph and HITS gets the bipartite one).

    Exactness device: for a FIXED iteration count, per-step L1
    normalization only divides by scalars, so the final normalized
    scores equal the UN-normalized iteration divided once by its own L1
    norm — and on an unweighted graph the un-normalized scores are exact
    INTEGER alternating-path counts (a0 = 1, h_k/a_k = sums of
    counterpart sums). The whole power iteration therefore runs in
    decimal(38,0)/HUGEINT integers (order-independent, no float folds,
    no per-step snap grids), with ONE double division rounded at 6 at
    the end. This also keeps the plan LINEAR — a per-step normalizer
    branches the lineage into (scores, total) and was measured replaying
    the upstream 2^steps times; the integer form needs no mid-plan
    materialization at all. Each iteration is one equi-join of the score
    vector against the persisted edge list plus a sum-aggregate, both
    shuffling on uniform keys. Top-K per role via the two-level device."""
    from ssiintegrateddatapipeline_spark.functions.topk import (
        two_level_topk,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = track(
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist()
    )
    dec = "decimal(38,0)"
    # a0 = 1 per supplier => h1 = out-degree; alternate sum-joins from there
    hub = edges.groupBy("c").agg(F.count(F.lit(1)).cast(dec).alias("h"))
    auth = (
        edges.join(hub, "c")
        .groupBy("s")
        .agg(F.sum("h").cast(dec).alias("a"))
    )
    for _ in range(HITS_ITERS - 1):
        hub = (
            edges.join(auth, "s")
            .groupBy("c")
            .agg(F.sum("a").cast(dec).alias("h"))
        )
        auth = (
            edges.join(hub, "c")
            .groupBy("s")
            .agg(F.sum("h").cast(dec).alias("a"))
        )
    # the final vectors feed BOTH the scores and their own L1 totals —
    # persist each once so the linear chain isn't replayed per branch
    hub = track(hub.persist())
    hub.count()
    auth = track(auth.persist())
    auth.count()
    h_tot = hub.agg(F.sum("h").cast(dec).alias("_tot"))
    a_tot = auth.agg(F.sum("a").cast(dec).alias("_tot"))
    tagged = (
        hub.crossJoin(F.broadcast(h_tot))
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.round(
                F.col("h").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("score"),
        )
        .unionByName(
            auth.crossJoin(F.broadcast(a_tot)).select(
                F.lit("authority").alias("role"),
                F.col("s").alias("node_id"),
                F.round(
                    F.col("a").cast("double") / F.col("_tot").cast("double"),
                    6,
                ).alias("score"),
            )
        )
    )
    return two_level_topk(
        tagged,
        keys=["role"],
        order=[F.col("score").desc(), F.col("node_id")],
        k=HITS_TOP_K,
        salt=F.col("node_id"),
        n_salts=16,
    ).select("role", "rank", "node_id", "score")


def bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the undirected near-duplicate graph: minimum
    hop distance (capped at ``BFS_MAX_HOPS``) from one source's documents
    to everything their text transitively echoes — the "contamination
    horizon" walk run when one corpus slice is found tainted and the
    question is how far the taint propagates through near-dup chains.

    The frontier-expansion (Pregel-style) iterative pattern, complementing
    the hierarchy module's pointer doubling: per hop, one equi-join of the
    current frontier against the cached edge list, a distinct, and an
    anti-join against the visited set — all keyed shuffles on uniformly
    hashed doc ids, ``BFS_MAX_HOPS`` bounded iterations, nothing collected.
    First-visit hop = minimum distance, so the anti-join IS the min().

    Scale notes (100 TB): per-hop cost is |frontier ⋈ E| — bounded by the
    LSH graph's degree (band-blocked, never all-pairs); the visited set
    carries (node, dist) only. At extreme fan-out the frontier join is a
    broadcast candidate; here it stays a hash join. DuckDB oracle: the
    literal recursive walk with a depth cap, min(dist) per node.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    edges = track(
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")
            )
        )
        .persist()
    )
    docs = load_table(spark, sf_dir, "documents")
    seeds = docs.where(F.col("source") == BFS_SEED_SOURCE).select(
        F.col("doc_id").alias("node"), F.lit(0).cast("long").alias("dist")
    )
    visited = track(seeds.persist())
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long"))
        )
        nxt = track(nxt.persist())
        visited = track(visited.union(nxt).persist())
        frontier = nxt
    return visited


def quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: after near-dup clustering, keep
    the BEST document per cluster (highest quality score, doc_id
    tie-break) instead of the arbitrary min-id — the selection policy a
    training-data pipeline actually wants (drop the low-quality variants,
    not a random one). Composes the cluster graph with the text quality
    scorer; the cluster side is tiny relative to the corpus, so the join
    broadcasts it."""
    from ssiintegrateddatapipeline_spark.operators.text import quality_score

    clusters = near_dup_clusters(spark, sf_dir)
    quality = quality_score(spark, sf_dir).select("doc_id", "quality_score")
    joined = F.broadcast(clusters).join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    ranked = joined.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "canonical_doc_id"
            ),
            F.min(F.when(F.col("rn") == 1, F.col("quality_score"))).alias(
                "canonical_quality"
            ),
        )
        .select(
            "cluster_id",
            "canonical_doc_id",
            "canonical_quality",
            "n_members",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
    )


def decontaminated_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/eval split: docs hash-split ~12.5% eval, then
    every TRAIN doc sharing a near-dup cluster with ANY eval doc is
    removed — the leakage-safe split an LLM training pipeline needs (an
    exact-hash split still leaks near-duplicate eval variants into train).

    Scale shape: the cluster graph and the eval-cluster set are tiny next
    to the corpus, so both anti-join lookups broadcast; per-source tallies
    are one hash agg over a narrow projection."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (
            F.substring(
                F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("split"))),
                1,
                1,
            )
            < F.lit("2")
        ).alias("is_eval"),
    )
    clusters = near_dup_clusters(spark, sf_dir)
    labeled = docs.join(F.broadcast(clusters), "doc_id", "left")
    eval_clusters = (
        labeled.where(F.col("is_eval") & F.col("cluster_id").isNotNull())
        .select("cluster_id")
        .distinct()
    )
    leaked = (
        F.col("cluster_id").isNotNull()
        & ~F.col("is_eval")
        & F.col("in_eval_cluster")
    )
    tagged = labeled.join(
        F.broadcast(eval_clusters.withColumn("in_eval_cluster", F.lit(True))),
        "cluster_id",
        "left",
    ).withColumn("in_eval_cluster", F.coalesce("in_eval_cluster", F.lit(False)))
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_eval"), 1).otherwise(0))
        .cast("long")
        .alias("n_eval"),
        F.sum(F.when(~F.col("is_eval"), 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(leaked, 1).otherwise(0)).cast("long").alias("n_leaked"),
        F.sum(F.when(~F.col("is_eval") & ~leaked, 1).otherwise(0))
        .cast("long")
        .alias("n_train_clean"),
    )


def cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit: near-dup pair counts bucketed by the
    (unordered) source pair — the matrix that tells a corpus curator WHERE
    the duplication lives (scraped mirror vs original, two crawls of the
    same site) before deciding which side to drop.

    Scale shape: the LSH pair graph is tiny relative to the corpus, so it
    broadcasts into two joins against the (doc_id, source) projection of
    the documents scan; the matrix agg is a hash agg on a handful of
    source pairs."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = (
        F.broadcast(pairs.select("doc_id_a", "doc_id_b", "est_jaccard"))
        .join(docs.withColumnRenamed("source", "source_of_a"), F.col("doc_id_a") == F.col("doc_id"))
        .drop("doc_id")
        .join(docs.withColumnRenamed("source", "source_of_b"), F.col("doc_id_b") == F.col("doc_id"))
        .drop("doc_id")
    )
    return (
        joined.select(
            F.least("source_of_a", "source_of_b").alias("source_a"),
            F.greatest("source_of_a", "source_of_b").alias("source_b"),
            "est_jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("est_jaccard"), 6).alias("sum_est_jaccard"),
        )
    )


def dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level savings report per dedup tier: how many documents and
    whitespace tokens each method would drop — 'exact_dup' (non-minimal
    members of identical-text groups) and 'near_dup' (non-canonical
    members of the MinHash-LSH clusters) against the corpus total. The
    budget slide of the curation pipeline: dedup is justified in tokens,
    not documents. Tiers are measured independently (potential savings
    per method, not a sequenced pipeline). Pure integer counts; the pct
    is one double division, half-up-free.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_toks"),
        F.md5("text").alias("h"),
    )
    total = toks.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_toks").alias("tok")
    )
    exact_dropped = (
        toks.withColumn(
            "keep",
            F.row_number().over(
                Window.partitionBy("h").orderBy("doc_id")
            )
            == 1,
        )
        .where(~F.col("keep"))
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_toks").alias("tok"))
    )
    clusters = near_dup_clusters(spark, sf_dir)
    canon = clusters.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canon_id")
    )
    near_dropped = (
        clusters.join(canon, "cluster_id")
        .where(F.col("doc_id") != F.col("canon_id"))
        .join(toks, "doc_id")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_toks").alias("tok"))
    )
    rows = (
        total.select(F.lit("corpus").alias("tier"), "docs", "tok")
        .unionByName(
            exact_dropped.select(F.lit("exact_dup").alias("tier"), "docs", "tok")
        )
        .unionByName(
            near_dropped.select(F.lit("near_dup").alias("tier"), "docs", "tok")
        )
    )
    return rows.crossJoin(
        F.broadcast(total.select(F.col("tok").alias("corpus_tok")))
    ).select(
        "tier",
        F.coalesce("docs", F.lit(0)).alias("n_docs"),
        F.coalesce("tok", F.lit(0)).alias("n_tokens"),
        F.round(
            F.coalesce("tok", F.lit(0)).cast("double")
            / F.col("corpus_tok").cast("double"),
            6,
        ).alias("pct_of_corpus_tokens"),
    )


def lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding S-curve table: for each (bands x rows) configuration of
    the 8 minhashes — 8x1, 4x2 (the production gate), 2x4 — the candidate
    count it generates and its capture rate of high-similarity pairs
    (>= NEAR_DUP_MIN_MATCHES matching hashes). This is the table that
    tunes b/r before a corpus-scale run: r=1 floods (any single matching
    hash makes a candidate — quadratic in random collisions, measured
    90x pairs on 10x docs), r=4 starves recall, r=2 sits on the knee.

    Evaluated over a bounded doc_id subset (same device as the exact
    Jaccard verifier): the widest net (8x1) is inherently quadratic —
    the flooding is the finding, so the probe input is capped, not the
    plan. Ground truth = every wide-net pair; capture flags are pure
    signature-array expressions.
    """
    sigs = _signatures(spark, sf_dir).where(F.col("doc_id") < 500)
    ex = sigs.select(
        "doc_id", "sig", F.posexplode(F.col("sig")).alias("pos", "mh")
    )
    b = ex.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"),
        "pos", "mh",
    )
    pairs = (
        ex.join(b, ["pos", "mh"])
        .where(F.col("doc_id") < F.col("doc_id_b"))
        .select("doc_id", "doc_id_b", "sig", "sig_b")
        .dropDuplicates(["doc_id", "doc_id_b"])
    )
    m = F.zip_with("sig", "sig_b", lambda x, y: (x == y).cast("int"))
    scored = pairs.select(
        F.aggregate(m, F.lit(0), lambda s, x: s + x).alias("n_match"),
        F.exists(
            F.sequence(F.lit(0), F.lit(3)),
            lambda i: (F.element_at(m, (2 * i + 1).cast("int")) == 1)
            & (F.element_at(m, (2 * i + 2).cast("int")) == 1),
        ).alias("cap_b4r2"),
        F.exists(
            F.sequence(F.lit(0), F.lit(1)),
            lambda i: F.aggregate(
                F.slice(m, (4 * i + 1).cast("int"), 4),
                F.lit(0),
                lambda s, x: s + x,
            )
            == 4,
        ).alias("cap_b2r4"),
    )
    high = F.col("n_match") >= NEAR_DUP_MIN_MATCHES
    cfg = scored.select(
        F.explode(
            F.array(
                F.struct(F.lit("b8_r1").alias("config"), F.lit(True).alias("cap")),
                F.struct(F.lit("b4_r2").alias("config"), F.col("cap_b4r2").alias("cap")),
                F.struct(F.lit("b2_r4").alias("config"), F.col("cap_b2r4").alias("cap")),
            )
        ).alias("c"),
        high.alias("high"),
    ).select("c.config", "c.cap", "high")
    totals = scored.agg(
        F.sum(high.cast("long")).alias("n_high_total")
    )
    return (
        cfg.groupBy("config")
        .agg(
            F.sum(F.col("cap").cast("long")).alias("n_candidates"),
            F.sum((F.col("cap") & F.col("high")).cast("long")).alias(
                "n_high_captured"
            ),
        )
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "capture_rate",
            F.round(
                F.col("n_high_captured") / F.col("n_high_total"), 6
            ),
        )
    )


def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph: how many documents
    have 1, 2, 3… near-duplicates — the shape check run before trusting
    cluster-based dedup (a heavy-tailed degree histogram means a few
    templates dominate; cluster sizes and dedup savings follow from it).
    Two hash aggregations over the LSH pair graph;
    pure integer counts.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    ends = pairs.select(F.col("doc_id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_id_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit of the MinHash layer: for every LSH candidate
    pair, the 8-permutation signature estimate vs the EXACT 3-shingle
    Jaccard, with the absolute error — the number that justifies (or
    indicts) the signature width before the dedup gate is trusted at
    corpus scale. Companion to the recall/nDCG audits of the vector
    indexes and the KMV-vs-exact distinct check.

    Scale shape: exact Jaccard is computed ONLY for the LSH candidates
    (the pair graph is orders of magnitude smaller than the corpus): the
    shingle explode is semi-joined down to the candidate documents first,
    and the shingle self-join's output inner-joins back to the candidate
    pairs. All counts integer; both jaccards are the same round-6 values
    in both engines, so the error column is a difference of identical
    doubles.
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_id_a", "doc_id_b", "est_jaccard"
    )
    d = load_table(spark, sf_dir, "documents")
    docs_in = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    sh = d.join(docs_in, "doc_id", "left_semi").select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(tokens(F.col("text"))))).alias(
            "shingle"
        ),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # intersect THROUGH the pair list, not via a shingle self-join: the
    # self-join counts every co-shingled doc pair among the candidate
    # docs (quadratic in a near-dup-dense corpus — the replica-twin probe
    # measured 23x work on 3x data); fanning each pair out to its left
    # doc's shingles and hash-probing (shingle, right doc) is linear in
    # Σ_pairs |shingles(a)|. An attach-the-arrays variant (one
    # array_intersect per pair) was measured 3x SLOWER here (r11): its two
    # differently-aliased broadcast subtrees defeat ReuseExchange, so the
    # uncached pair graph + shingle pipeline computed twice, while this
    # form's identical shuffle exchanges are planned once.
    inter = (
        pairs.select("doc_id_a", "doc_id_b")
        .join(
            sh.select(F.col("doc_id").alias("doc_id_a"), "shingle"),
            "doc_id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_id_b"), "shingle"),
            ["doc_id_b", "shingle"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_sh").alias("n_b"))
    exact_j = F.round(
        F.col("n_common")
        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        6,
    )
    return (
        pairs.join(inter, ["doc_id_a", "doc_id_b"], "left")
        .join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "est_jaccard",
            F.coalesce(exact_j, F.lit(0.0)).alias("exact_jaccard"),
            F.round(
                F.abs(
                    F.col("est_jaccard")
                    - F.coalesce(exact_j, F.lit(0.0))
                ),
                6,
            ).alias("abs_err"),
        )
    )


def soft_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the soft-dedup weight distribution per
    source — ESS = (Σw)²/Σw², the standard diagnostic for any weighted
    sample: how many equally-weighted documents the down-weighted corpus
    is statistically worth (ESS == n means no duplication; heavy clusters
    pull it down). Weight sums accumulate in exact integer micro-units;
    the two final divisions run on exact-int-derived doubles.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = near_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    member = clusters.join(sizes, "cluster_id").select("doc_id", "csize")
    w_micro = F.when(F.col("csize").isNull(), F.lit(1_000_000)).otherwise(
        F.expr("(2000000 + csize) div (2 * csize)")
    )
    agg = (
        docs.join(member, "doc_id", "left")
        .select("source", w_micro.alias("w"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("sw"),
            F.sum(F.col("w") * F.col("w")).alias("sww"),
        )
    )
    ess = (
        F.col("sw").cast("double") * F.col("sw").cast("double")
        / F.col("sww").cast("double")
    )
    return agg.select(
        "source",
        "n_docs",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n_docs"), 6).alias("ess_ratio"),
    )


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, every document gets
    sampling weight 1/|its cluster| (1.0 outside any cluster), so each
    near-dup cluster contributes ~one document's worth of probability mass
    to the training mix — the suppression alternative to hard removal
    (keeps coverage, kills over-representation). Reported per source:
    raw vs effective document counts.

    Exactness: the weight is integer micro-units via the repo's half-up
    integer division ((2e6 + size) div (2*size)), so the per-source sums
    are exact int64 — no float summation order to diverge. Scale shape:
    cluster sizes are one count over the (bounded) cluster map; the map
    joins back to the corpus on doc_id (uniform key) and the report is a
    20-key hash aggregate with map-side partials.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = near_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    member = clusters.join(sizes, "cluster_id").select("doc_id", "csize")
    joined = docs.join(member, "doc_id", "left").withColumn(
        "w_micro",
        F.when(F.col("csize").isNull(), F.lit(1_000_000)).otherwise(
            F.expr("(2000000 + csize) div (2 * csize)")
        ),
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("csize").isNotNull(), 1).otherwise(0)).alias("n_duped"),
        (F.sum("w_micro").cast("double") / F.lit(1e6)).alias("effective_docs"),
    )


SNM_WINDOW = 4  # max rank distance of a candidate pair
_SNM_BLOCK = 2 * SNM_WINDOW  # two offset block grids of this size cover it


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo) — the classic
    entity-resolution blocking family the LSH/simhash/prefix devices
    don't cover: sort the corpus by a lexical key, and candidate pairs
    are documents within SNM_WINDOW positions of each other; candidates
    then verify with exact token-set Jaccard (match at >= 0.5, checked
    as the integer cross-multiplication 2·|∩| >= |∪|).

    Distributed shape — NO global window: the global sort position comes
    from the two-phase row-number device (per-bucket ranks + a collected
    per-bucket offset table, one bounded 26-row collect), and the
    neighborhood self-join runs inside two OFFSET block grids of size
    2·W (floor(rank/2W) and floor((rank+W)/2W)): any pair at distance
    <= W shares at least one block, every block holds <= 2W rows, so the
    pair space is strictly linear in the corpus. The rank-distance
    filter then makes the candidate set EXACT (the oracle replays it
    with a plain row_number self-join)."""
    from ssiintegrateddatapipeline_spark.functions.twophase import (
        two_phase_row_number,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 24).alias("snm_key"),
        F.array_distinct(tokens(F.col("text"))).alias("toks"),
    )
    ranked, _total = two_phase_row_number(
        d,
        # monotone along (snm_key asc): the key's first byte
        F.coalesce(F.ascii(F.substring("snm_key", 1, 1)), F.lit(0)),
        [F.col("snm_key").asc(), F.col("doc_id").asc()],
        out="rank",
    )
    blocked = ranked.select(
        "doc_id", "rank", "toks",
        F.explode(
            F.array(
                (F.col("rank") / _SNM_BLOCK).cast("long"),
                # offset grid, tagged into a disjoint id space
                ((F.col("rank") + SNM_WINDOW) / _SNM_BLOCK).cast("long")
                + F.lit(1 << 40),
            )
        ).alias("block"),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, "block")
        .where(
            (F.col("b.rank") > F.col("a.rank"))
            & (F.col("b.rank") - F.col("a.rank") <= SNM_WINDOW)
        )
        # the two grids both catch short-distance pairs: dedup by identity
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("b.rank") - F.col("a.rank")).cast("int").alias("distance"),
            F.col("a.toks").alias("toks_a"),
            F.col("b.toks").alias("toks_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return pairs.groupBy("distance").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((2 * inter >= union).cast("long")).alias("n_dup_pairs"),
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (JASA 1969) — the decision-
# theoretic layer ABOVE blocking/string-similarity: each candidate pair gets
# an agreement vector γ over compared fields, and a log-likelihood match
# weight  w(γ) = Σ_f [ γ_f·log2(m_f/u_f) + (1-γ_f)·log2((1-m_f)/(1-u_f)) ],
# thresholded into match / possible / non-match. m_f (P(agree|match)) are
# model literals, as in classic deployments; u_f (P(agree|non-match)) are
# ESTIMATED FROM THE DATA as the random-pair agreement probability
# u_f = (Σ_v n_v² − N) / (N² − N) — an exact rational from integer
# sufficient statistics, so Spark and the oracle derive the identical model.
#
# Scale shape: pairs exist only inside (p_brand, p_size) blocks — bounded-
# cardinality categorical keys, so the pair space is Σ_b |b|² with |b| ≈
# N/1250, linear in N for fixed category sizes; the u-statistics are four
# tiny two-level aggregates joined in as one broadcast row (no collect); and
# the output is the γ-pattern grid (≤ 2⁴ rows), so weights are computed once
# per pattern, not once per pair.
# ---------------------------------------------------------------------------

FS_M = {"type": 0.9, "name_head": 0.85, "name_tail": 0.8, "price": 0.75}
FS_UPPER = 4.0  # w ≥ upper  -> match
FS_LOWER = -8.0  # w ≤ lower -> non_match


def _fs_features(p: DataFrame) -> DataFrame:
    return p.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.col("p_type").alias("f_type"),
        F.element_at(F.split("p_name", " "), 1).alias("f_name_head"),
        F.element_at(F.split("p_name", " "), -1).alias("f_name_tail"),
        F.floor(F.col("p_retailprice").cast("double") / 100).alias("f_price"),
    )


def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter match weights per agreement pattern over blocked
    part pairs: n_pairs, u-derived log2 weight, and the three-way decision."""
    feats = _fs_features(load_table(spark, sf_dir, "part"))
    fields = ["f_type", "f_name_head", "f_name_tail", "f_price"]

    # exact u-statistics: one row — N plus Σ_v n_v² per field
    stats = None
    n_row = feats.agg(F.count("*").alias("n_recs"))
    for f in fields:
        ssq = (
            feats.groupBy(f)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).alias(f"ssq_{f}"))
        )
        stats = ssq if stats is None else stats.crossJoin(ssq)
    stats = stats.crossJoin(n_row)

    a, b = feats.alias("a"), feats.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_size") == F.col("b.p_size"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    )
    pattern = pairs.select(
        *[
            (F.col(f"a.{f}") == F.col(f"b.{f}")).alias(f"g_{f[2:]}")
            for f in fields
        ]
    )
    grid = pattern.groupBy(*[f"g_{f[2:]}" for f in fields]).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )

    out = grid.crossJoin(F.broadcast(stats))
    weight = F.lit(0.0)
    for f in fields:
        m = F.lit(FS_M[f[2:]])
        u = (F.col(f"ssq_{f}") - F.col("n_recs")) / (
            F.col("n_recs") * F.col("n_recs") - F.col("n_recs")
        )
        weight = weight + F.when(
            F.col(f"g_{f[2:]}"), F.log2(m / u)
        ).otherwise(F.log2((1 - m) / (1 - u)))
    weight = F.round(weight, 6)
    return out.select(
        *[f"g_{f[2:]}" for f in fields],
        "n_pairs",
        weight.alias("match_weight"),
        F.when(weight >= FS_UPPER, F.lit("match"))
        .when(weight <= FS_LOWER, F.lit("non_match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    )


_FS_ORACLE = f"""
WITH feats AS (
    SELECT p_partkey, p_brand, p_size,
           p_type AS f_type,
           string_split(p_name, ' ')[1] AS f_name_head,
           string_split(p_name, ' ')[-1] AS f_name_tail,
           floor(CAST(p_retailprice AS DOUBLE) / 100) AS f_price
    FROM part
), stats AS (
    SELECT
        (SELECT count(*) FROM feats)::BIGINT AS n_recs,
        (SELECT sum(c * c) FROM (SELECT count(*) c FROM feats GROUP BY f_type))::BIGINT AS ssq_f_type,
        (SELECT sum(c * c) FROM (SELECT count(*) c FROM feats GROUP BY f_name_head))::BIGINT AS ssq_f_name_head,
        (SELECT sum(c * c) FROM (SELECT count(*) c FROM feats GROUP BY f_name_tail))::BIGINT AS ssq_f_name_tail,
        (SELECT sum(c * c) FROM (SELECT count(*) c FROM feats GROUP BY f_price))::BIGINT AS ssq_f_price
), grid AS (
    SELECT a.f_type = b.f_type AS g_type,
           a.f_name_head = b.f_name_head AS g_name_head,
           a.f_name_tail = b.f_name_tail AS g_name_tail,
           a.f_price = b.f_price AS g_price,
           count(*)::BIGINT AS n_pairs
    FROM feats a JOIN feats b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    GROUP BY ALL
), weighted AS (
    SELECT g_type, g_name_head, g_name_tail, g_price, n_pairs,
        round(
          (CASE WHEN g_type THEN log2({FS_M['type']} / ((ssq_f_type - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE)))
                ELSE log2({1 - FS_M['type']} / (1 - (ssq_f_type - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE))) END)
        + (CASE WHEN g_name_head THEN log2({FS_M['name_head']} / ((ssq_f_name_head - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE)))
                ELSE log2({1 - FS_M['name_head']} / (1 - (ssq_f_name_head - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE))) END)
        + (CASE WHEN g_name_tail THEN log2({FS_M['name_tail']} / ((ssq_f_name_tail - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE)))
                ELSE log2({1 - FS_M['name_tail']} / (1 - (ssq_f_name_tail - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE))) END)
        + (CASE WHEN g_price THEN log2({FS_M['price']} / ((ssq_f_price - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE)))
                ELSE log2({1 - FS_M['price']} / (1 - (ssq_f_price - n_recs) / CAST(n_recs * n_recs - n_recs AS DOUBLE))) END)
        , 6) AS match_weight
    FROM grid CROSS JOIN stats
)
SELECT g_type, g_name_head, g_name_tail, g_price, n_pairs, match_weight,
       CASE WHEN match_weight >= {FS_UPPER} THEN 'match'
            WHEN match_weight <= {FS_LOWER} THEN 'non_match'
            ELSE 'possible' END AS decision
FROM weighted
"""


# ---------------------------------------------------------------------------
# Graph modularity (Newman & Girvan, PRE 2004) of the SimHash-prefix
# partition evaluated on the MinHash-LSH near-dup graph — the cross-method
# agreement metric: if SimHash bucketing captured the same similarity
# structure MinHash finds, near-dup edges stay intra-bucket and Q is
# high; Q ≈ 0 means the buckets are no better than random at containing
# the dup graph. Q = Σ_c [L_c/m − (d_c/2m)²] is carried as the exact
# integer Q·4m² = Σ_c (4·m·L_c − d_c²) — the modularity decision never
# touches floating point; only the reported Q divides (round 6).
#
# Scale shape: the two endpoint joins are uniform-key hash joins against
# the signature table; degree and intra-edge tables are per-community
# aggregates (≤ 2^8 prefix communities); the final fold is one tiny
# aggregate. Nothing quadratic anywhere — the edge list is the LSH
# candidate set, never all-pairs.
# ---------------------------------------------------------------------------


def partition_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both inputs persist before reuse: the signature table feeds TWO
    # endpoint joins and the edge list feeds degree/intra/m — without the
    # persist each consumer re-runs the full shingle->signature pipeline
    # (measured 8.4 s -> the cost of three extra LSH passes)
    pairs = track(
        minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .persist()
    )
    comm = track(
        simhash_signatures(spark, sf_dir)
        .select("doc_id", F.col("simhash_prefix").alias("comm"))
        .persist()
    )
    # endpoint joins stay plain equi-joins: the signature table is one row
    # per document (data-sized at 100 TB), so AQE picks broadcast at test
    # scale and a keyed shuffle at corpus scale
    e = track(
        pairs.join(comm.withColumnRenamed("doc_id", "a"), "a")
        .withColumnRenamed("comm", "comm_a")
        .join(comm.withColumnRenamed("doc_id", "b"), "b")
        .withColumnRenamed("comm", "comm_b")
        .persist()
    )
    deg = (
        e.select(F.col("comm_a").alias("comm"))
        .unionAll(e.select(F.col("comm_b").alias("comm")))
        .groupBy("comm")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    intra = (
        e.where(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("comm"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    m_row = e.agg(F.count(F.lit(1)).alias("m"))
    per_comm = deg.join(intra, "comm", "left").withColumn(
        "l_c", F.coalesce("l_c", F.lit(0))
    )
    folded = per_comm.crossJoin(F.broadcast(m_row)).agg(
        F.max("m").alias("n_edges"),
        F.count(F.lit(1)).alias("n_communities"),
        F.sum("l_c").alias("intra_edges"),
        F.sum(
            4 * F.col("m") * F.col("l_c") - F.col("d_c") * F.col("d_c")
        ).alias("q_x4m2"),
    )
    return folded.select(
        "n_edges",
        "n_communities",
        "intra_edges",
        "q_x4m2",
        F.round(
            F.col("q_x4m2") / (4.0 * F.col("n_edges") * F.col("n_edges")), 6
        ).alias("modularity"),
    )


QUERIES = {
    "graph_partition_modularity": partition_modularity,
    "dedup_fellegi_sunter": fellegi_sunter_weights,
    "dedup_sorted_neighborhood": sorted_neighborhood_pairs,
    "dedup_cross_source_matrix": cross_source_matrix,
    "graph_pagerank_neardup": pagerank_near_dup,
    "graph_triangle_count": triangle_count,
    "graph_bfs_reach": bfs_reach,
    "graph_hits_purchase": hits_customer_supplier,
    "dedup_fuzzy_name_pairs": fuzzy_name_pairs,
    "dedup_containment_pairs": containment_pairs,
    "dedup_incremental": incremental_dedup,
    "dedup_url_canonical": url_canonical_dedup,
    "dedup_exact_events": exact_dedup_events,
    "dedup_exact_documents": exact_dedup_documents,
    "dedup_minhash_signatures": minhash_signatures,
    "dedup_minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_near_dup_clusters": near_dup_clusters,
    "dedup_simhash_signatures": simhash_signatures,
    "dedup_simhash_pairs": simhash_near_dup_pairs,
    "dedup_ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_prefix_jaccard_pairs": prefix_jaccard_pairs,
    "dedup_prefix_jaccard_topk": prefix_jaccard_topk,
    "dedup_quality_canonical": quality_canonical,
    "dedup_decontaminated_split": decontaminated_split,
    "dedup_soft_weights": soft_dedup_weights,
    "dedup_soft_weight_ess": soft_weight_ess,
    "dedup_minhash_accuracy": minhash_accuracy,
    "graph_neardup_degree_hist": neardup_degree_hist,
    "dedup_lsh_tuning": lsh_tuning,
    "dedup_savings_report": dedup_savings,
}

_TOKS = TOKS_SQL
_SHINGLES = (
    "list_transform(generate_series(1, len(toks) - 2), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


def _sig_sql() -> str:
    # mirror minhash_signature: hash s = 32-bit slice (s mod 4) of
    # md5((s div 4)|shingle)
    per_seed = ", ".join(
        "list_min(list_transform(shingles, "
        f"sh -> ('0x' || substr(md5('{s // 4}|' || sh), {8 * (s % 4) + 1}, 8))"
        "::UBIGINT::BIGINT))"
        for s in range(N_MINHASH)
    )
    return f"[{per_seed}]"


_SIG_CTE = f"""
    toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    shing AS (SELECT doc_id, {_SHINGLES} AS shingles FROM toks),
    sigs AS (SELECT doc_id, {_sig_sql()} AS sig FROM shing)
"""

# LSH band join + Jaccard filter — shared by the pair and cluster oracles.
_PAIRS_CTE = f"""
        bands AS (
            SELECT doc_id, sig, b,
                   sig[2*b + 1]::VARCHAR || '_' || sig[2*b + 2]::VARCHAR AS key
            FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {N_BANDS - 1})) AS b)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
                            x.sig AS sig_a, y.sig AS sig_b
            FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key
                                      AND x.doc_id < y.doc_id
        ),
        scored AS (
            SELECT doc_id_a, doc_id_b,
                   len(list_filter(list_zip(sig_a, sig_b),
                                   p -> p[1] = p[2])) AS n_matching_minhashes
            FROM cand
        ),
        pairs AS (
            SELECT * FROM scored
            WHERE n_matching_minhashes >= {NEAR_DUP_MIN_MATCHES}
        )
"""

# prefix-filtered exact-Jaccard pairs over distinct shingles — shared by
# the lossless pair oracle and its bounded-output top-k twin
_PREFIX_PAIRS_CTE = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        shing AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shingles FROM toks),
        sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM shing),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ),
        prefix_pairs AS (
            SELECT doc_id_a, doc_id_b, n_common,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_id_a
            JOIN sizes sb ON sb.doc_id = doc_id_b
            WHERE n_common * {PREFIX_T_DEN}
                  >= (sa.n_sh + sb.n_sh - n_common) * {PREFIX_T_NUM}
        )
"""

ORACLES = {
    "dedup_fellegi_sunter": _FS_ORACLE,
    # the oracle replays the EXACT candidate definition (rank distance
    # <= W over the lexical sort) with a plain row_number self-join —
    # the engine's offset-block grids must reproduce it pair-for-pair
    "dedup_sorted_neighborhood": f"""
        WITH d AS (
            SELECT doc_id, substr(text, 1, 24) AS snm_key,
                   list_distinct(string_split(text, ' ')) AS toks
            FROM documents
        ),
        ranked AS (
            SELECT *, row_number() OVER (ORDER BY snm_key, doc_id) AS rnk
            FROM d
        ),
        pairs AS (
            SELECT (b.rnk - a.rnk)::INT AS distance,
                   a.toks AS ta, b.toks AS tb
            FROM ranked a JOIN ranked b
              ON b.rnk > a.rnk AND b.rnk - a.rnk <= {SNM_WINDOW}
        )
        SELECT distance, count(*) AS n_pairs,
               count(*) FILTER (
                   2 * len(list_intersect(ta, tb))
                   >= len(ta) + len(tb) - len(list_intersect(ta, tb))
               ) AS n_dup_pairs
        FROM pairs GROUP BY 1
    """,
    "dedup_soft_weights": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        sizes AS (
            SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY 1
        ),
        member AS (
            SELECT c.doc_id, s.csize
            FROM clusters c JOIN sizes s USING (cluster_id)
        ),
        weighted AS (
            SELECT d.source, m.csize,
                   CASE WHEN m.csize IS NULL THEN 1000000
                        ELSE (2000000 + m.csize) // (2 * m.csize)
                   END AS w_micro
            FROM documents d LEFT JOIN member m USING (doc_id)
        )
        SELECT source,
               count(*) AS n_docs,
               sum(CASE WHEN csize IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_duped,
               sum(w_micro)::DOUBLE / 1000000.0 AS effective_docs
        FROM weighted
        GROUP BY source
    """,
    "dedup_savings_report": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        tk AS (
            SELECT doc_id, len({TOKS_SQL}) AS n_toks, md5(text) AS h
            FROM documents
        ),
        total AS (
            SELECT count(*) AS docs, sum(n_toks) AS tok FROM tk
        ),
        exact_dropped AS (
            SELECT count(*) AS docs, sum(n_toks) AS tok FROM (
                SELECT n_toks,
                       row_number() OVER (PARTITION BY h ORDER BY doc_id)
                           AS rn
                FROM tk
            ) WHERE rn > 1
        ),
        canon AS (
            SELECT cluster_id, min(doc_id) AS canon_id
            FROM clusters GROUP BY 1
        ),
        near_dropped AS (
            SELECT count(*) AS docs, sum(t.n_toks) AS tok
            FROM clusters c
            JOIN canon n USING (cluster_id)
            JOIN tk t USING (doc_id)
            WHERE c.doc_id != n.canon_id
        ),
        rows_ AS (
            SELECT 'corpus' AS tier, docs, tok FROM total
            UNION ALL SELECT 'exact_dup', docs, tok FROM exact_dropped
            UNION ALL SELECT 'near_dup', docs, tok FROM near_dropped
        )
        SELECT r.tier,
               coalesce(r.docs, 0)::BIGINT AS n_docs,
               coalesce(r.tok, 0)::BIGINT AS n_tokens,
               round(coalesce(r.tok, 0)::DOUBLE / t.tok::DOUBLE, 6)
                   AS pct_of_corpus_tokens
        FROM rows_ r, total t
    """,
    "dedup_lsh_tuning": f"""
        WITH {_SIG_CTE},
        small AS (SELECT doc_id, sig FROM sigs WHERE doc_id < 500),
        ex AS (
            SELECT doc_id, sig, sig[p.pos] AS mh, p.pos
            FROM small,
                 (SELECT unnest(generate_series(1, {N_MINHASH})) AS pos) p
        ),
        wide AS (
            SELECT DISTINCT x.doc_id, x.sig AS sig_a,
                            y.doc_id AS doc_id_b, y.sig AS sig_b
            FROM ex x JOIN ex y ON x.pos = y.pos AND x.mh = y.mh
                               AND x.doc_id < y.doc_id
        ),
        scored AS (
            SELECT
                len(list_filter(list_zip(sig_a, sig_b),
                                p -> p[1] = p[2])) AS n_match,
                len(list_filter(generate_series(0, 3),
                    i -> sig_a[2*i + 1] = sig_b[2*i + 1]
                     AND sig_a[2*i + 2] = sig_b[2*i + 2])) > 0 AS cap_b4r2,
                len(list_filter(generate_series(0, 1),
                    i -> sig_a[4*i + 1] = sig_b[4*i + 1]
                     AND sig_a[4*i + 2] = sig_b[4*i + 2]
                     AND sig_a[4*i + 3] = sig_b[4*i + 3]
                     AND sig_a[4*i + 4] = sig_b[4*i + 4])) > 0 AS cap_b2r4
            FROM wide
        ),
        cfg AS (
            SELECT 'b8_r1' AS config, TRUE AS cap,
                   n_match >= {NEAR_DUP_MIN_MATCHES} AS high FROM scored
            UNION ALL
            SELECT 'b4_r2', cap_b4r2,
                   n_match >= {NEAR_DUP_MIN_MATCHES} FROM scored
            UNION ALL
            SELECT 'b2_r4', cap_b2r4,
                   n_match >= {NEAR_DUP_MIN_MATCHES} FROM scored
        ),
        tot AS (
            SELECT sum(CASE WHEN n_match >= {NEAR_DUP_MIN_MATCHES}
                            THEN 1 ELSE 0 END)::BIGINT AS n_high_total
            FROM scored
        )
        SELECT config,
               sum(CASE WHEN cap THEN 1 ELSE 0 END)::BIGINT AS n_candidates,
               sum(CASE WHEN cap AND high THEN 1 ELSE 0 END)::BIGINT
                   AS n_high_captured,
               t.n_high_total,
               round(sum(CASE WHEN cap AND high THEN 1 ELSE 0 END)
                     / t.n_high_total, 6) AS capture_rate
        FROM cfg, tot t
        GROUP BY config, t.n_high_total
    """,
    "graph_neardup_degree_hist": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        ends AS (
            SELECT doc_id_a AS doc_id FROM pairs
            UNION ALL
            SELECT doc_id_b FROM pairs
        ),
        deg AS (SELECT doc_id, count(*) AS degree FROM ends GROUP BY 1)
        SELECT degree, count(*) AS n_docs FROM deg GROUP BY degree
    """,
    "dedup_minhash_accuracy": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        est AS (
            SELECT doc_id_a, doc_id_b,
                   round(n_matching_minhashes / {N_MINHASH}.0, 6)
                       AS est_jaccard
            FROM pairs
        ),
        docs_in AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_id_a AS doc_id FROM est
                UNION ALL SELECT doc_id_b FROM est
            )
        ),
        ctoks AS (
            SELECT d.doc_id, {_TOKS} AS toks
            FROM documents d JOIN docs_in USING (doc_id)
        ),
        cshing AS (
            SELECT doc_id, list_distinct({_SHINGLES}) AS shingles FROM ctoks
        ),
        csh AS (SELECT doc_id, unnest(shingles) AS shingle FROM cshing),
        csizes AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY doc_id),
        cinter AS (
            SELECT e.doc_id_a, e.doc_id_b, count(*) AS n_common
            FROM est e
            JOIN csh x ON x.doc_id = e.doc_id_a
            JOIN csh y ON y.doc_id = e.doc_id_b AND y.shingle = x.shingle
            GROUP BY 1, 2
        )
        SELECT e.doc_id_a, e.doc_id_b, e.est_jaccard,
               coalesce(round(i.n_common
                              / (a.n_sh + b.n_sh - i.n_common), 6), 0.0)
                   AS exact_jaccard,
               round(abs(e.est_jaccard
                         - coalesce(round(i.n_common
                             / (a.n_sh + b.n_sh - i.n_common), 6), 0.0)), 6)
                   AS abs_err
        FROM est e
        LEFT JOIN cinter i USING (doc_id_a, doc_id_b)
        JOIN csizes a ON e.doc_id_a = a.doc_id
        JOIN csizes b ON e.doc_id_b = b.doc_id
    """,
    "dedup_soft_weight_ess": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        sizes AS (
            SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY 1
        ),
        member AS (
            SELECT c.doc_id, s.csize
            FROM clusters c JOIN sizes s USING (cluster_id)
        ),
        weighted AS (
            SELECT d.source,
                   CASE WHEN m.csize IS NULL THEN 1000000
                        ELSE (2000000 + m.csize) // (2 * m.csize)
                   END AS w
            FROM documents d LEFT JOIN member m USING (doc_id)
        ),
        agg AS (
            SELECT source, count(*) AS n_docs,
                   sum(w) AS sw, sum(w * w) AS sww
            FROM weighted GROUP BY source
        )
        SELECT source, n_docs,
               round(sw::DOUBLE * sw::DOUBLE / sww::DOUBLE, 6) AS ess,
               round(sw::DOUBLE * sw::DOUBLE / sww::DOUBLE / n_docs, 6)
                   AS ess_ratio
        FROM agg
    """,
    "dedup_fuzzy_name_pairs": f"""
        WITH names AS (
            SELECT DISTINCT p_name AS name,
                   string_split(p_name, ' ')[-1] AS blk
            FROM part
        )
        SELECT a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name) AS edit_distance
        FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= {FUZZY_MAX_DIST}
    """,
    "dedup_incremental": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        old_h AS (
            SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
        ),
        near_new AS (
            SELECT DISTINCT CASE WHEN doc_id_a % 2 = 1 THEN doc_id_a
                                 ELSE doc_id_b END AS doc_id
            FROM pairs WHERE (doc_id_a % 2) != (doc_id_b % 2)
        )
        SELECT n.doc_id,
               CASE WHEN md5(n.text) IN (SELECT h FROM old_h) THEN 'exact_dup'
                    WHEN n.doc_id IN (SELECT doc_id FROM near_new) THEN 'near_dup'
                    ELSE 'kept' END AS status
        FROM documents n WHERE n.doc_id % 2 = 1
    """,
    "dedup_containment_pairs": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        sh AS (
            SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM shing
        ),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
                   count(*) AS n_common
            FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT i.doc_id_a, i.doc_id_b, i.n_common,
               round(i.n_common / least(a.n_sh, b.n_sh), 6) AS containment
        FROM inter i
        JOIN sizes a ON a.doc_id = i.doc_id_a
        JOIN sizes b ON b.doc_id = i.doc_id_b
        WHERE round(i.n_common / least(a.n_sh, b.n_sh), 6) >= {CONTAINMENT_MIN}
          AND EXISTS (SELECT 1 FROM pairs p
                      WHERE p.doc_id_a = i.doc_id_a AND p.doc_id_b = i.doc_id_b)
    """,
    "graph_triangle_count": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        p AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
        tri AS (
            SELECT p1.a, p1.b, p2.b AS c
            FROM p p1
            JOIN p p2 ON p1.b = p2.a
            JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b
        ),
        nodes AS (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT doc_id, count(*) AS n_triangles FROM nodes GROUP BY doc_id
    """,
    "dedup_url_canonical": r"""
        WITH raw AS (
            SELECT event_id,
                   (CASE WHEN event_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
                   || (CASE WHEN event_id % 3 = 0 THEN 'www.' ELSE '' END)
                   || 'shop' || cast(user_id % 20 AS VARCHAR)
                   || '.example.com/item/' || cast(user_id % 50 AS VARCHAR)
                   || (CASE WHEN event_id % 5 = 0 THEN '/' ELSE '' END)
                   || (CASE WHEN event_id % 4 = 0
                            THEN '?utm_source=feed&ref=' || cast(event_id % 3 AS VARCHAR)
                            WHEN event_id % 7 = 0
                            THEN '?ref=' || cast(event_id % 3 AS VARCHAR)
                            ELSE '' END) AS url
            FROM events
        ),
        canon AS (
            SELECT url,
                   regexp_replace(
                       replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(
                                       regexp_replace(url, '^https?://', ''),
                                       '^www\.', ''),
                                   'utm_[a-z]+=[^&]*&', '', 'g'),
                               '[?&]utm_[a-z]+=[^&]*$', ''),
                           '/?', '?'),
                       '/$', '') AS canonical_url
            FROM raw
        )
        SELECT canonical_url, count(*) AS n_events,
               count(DISTINCT url) AS n_raw_variants
        FROM canon GROUP BY canonical_url
    """,
    "dedup_exact_events": """
        SELECT user_id, event_type, event_id, ts FROM (
            SELECT user_id, event_type, event_id, ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "dedup_exact_documents": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    "dedup_minhash_signatures": f"""
        WITH {_SIG_CTE}
        SELECT doc_id, {", ".join(f"sig[{i + 1}] AS mh{i}" for i in range(N_MINHASH))}
        FROM sigs
    """,
    "dedup_cross_source_matrix": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        scored_pairs AS (
            SELECT doc_id_a, doc_id_b,
                   round(n_matching_minhashes / {float(N_MINHASH)}, 6)
                       AS est_jaccard
            FROM pairs
        )
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs,
               round(sum(est_jaccard), 6) AS sum_est_jaccard
        FROM scored_pairs p
        JOIN documents da ON da.doc_id = p.doc_id_a
        JOIN documents db ON db.doc_id = p.doc_id_b
        GROUP BY 1, 2
    """,
    "dedup_minhash_lsh_pairs": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE}
        SELECT doc_id_a, doc_id_b, n_matching_minhashes,
               round(n_matching_minhashes / {float(N_MINHASH)}, 6) AS est_jaccard
        FROM pairs
    """,
    "graph_pagerank_neardup": f"""
        WITH {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM deg),
        r0 AS (SELECT src AS node, 1.0::DOUBLE / nn.n AS rank
               FROM deg CROSS JOIN nn),
        """
    + ",\n".join(
        f"""r{i + 1} AS (
            SELECT s.node, 0.15::DOUBLE / nn.n + {PAGERANK_DAMPING} * s.s AS rank
            FROM (
                SELECT e.dst AS node, sum(r.rank / d.deg) AS s
                FROM edges e
                JOIN r{i} r ON e.src = r.node
                JOIN deg d ON e.src = d.src
                GROUP BY e.dst
            ) s CROSS JOIN nn
        )"""
        for i in range(PAGERANK_ITERS)
    )
    + f"""
        SELECT node, round(rank, 6) AS pagerank FROM r{PAGERANK_ITERS}
    """,
    "graph_bfs_reach": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        walk AS (
            SELECT doc_id AS node, 0 AS dist
            FROM documents WHERE source = '{BFS_SEED_SOURCE}'
            UNION ALL
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN edges e ON w.node = e.src
            WHERE w.dist < {BFS_MAX_HOPS}
        )
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """,
    "dedup_near_dup_clusters": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        )
        SELECT doc_id, min(root) AS cluster_id
        FROM reach
        GROUP BY doc_id
    """,
    "dedup_quality_canonical": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        quality AS (
            SELECT doc_id, {_QUALITY_FORMULA_SQL} AS quality_score
            FROM (SELECT doc_id, {_quality_terms_sql()} FROM documents)
        ),
        ranked AS (
            SELECT c.cluster_id, c.doc_id, q.quality_score,
                   row_number() OVER (PARTITION BY c.cluster_id
                       ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn
            FROM clusters c JOIN quality q USING (doc_id)
        )
        SELECT cluster_id,
               min(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc_id,
               min(CASE WHEN rn = 1 THEN quality_score END)
                   AS canonical_quality,
               count(*) AS n_members,
               count(*) - 1 AS n_dropped
        FROM ranked
        GROUP BY cluster_id
    """,
    "dedup_decontaminated_split": f"""
        WITH RECURSIVE {_SIG_CTE}, {_PAIRS_CTE},
        edges AS (
            SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(doc_id, root) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.root
            FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        clusters AS (
            SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
        ),
        labeled AS (
            SELECT d.doc_id, d.source,
                   substr(md5(d.doc_id::VARCHAR || '|split'), 1, 1) < '2'
                       AS is_eval,
                   c.cluster_id
            FROM documents d LEFT JOIN clusters c USING (doc_id)
        ),
        eval_clusters AS (
            SELECT DISTINCT cluster_id FROM labeled
            WHERE is_eval AND cluster_id IS NOT NULL
        ),
        tagged AS (
            SELECT l.*,
                   l.cluster_id IS NOT NULL
                       AND l.cluster_id IN (SELECT cluster_id FROM eval_clusters)
                       AS in_eval_cluster
            FROM labeled l
        )
        SELECT source,
               count(*) AS n_docs,
               sum(CASE WHEN is_eval THEN 1 ELSE 0 END)::BIGINT AS n_eval,
               sum(CASE WHEN NOT is_eval THEN 1 ELSE 0 END)::BIGINT AS n_train,
               sum(CASE WHEN NOT is_eval AND in_eval_cluster
                        THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
               sum(CASE WHEN NOT is_eval AND NOT in_eval_cluster
                        THEN 1 ELSE 0 END)::BIGINT AS n_train_clean
        FROM tagged
        GROUP BY source
    """,
    "dedup_simhash_signatures": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        hashes AS (
            SELECT doc_id,
                   list_transform(toks,
                       t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT::BIGINT) AS hs
            FROM toks
        ),
        sh AS (
            SELECT doc_id,
                   list_sum(list_transform(generate_series(0, 31), j ->
                       CASE WHEN list_sum(list_transform(hs, h ->
                                CASE WHEN (h & CAST(pow(2, j) AS BIGINT)) > 0
                                     THEN 1 ELSE -1 END)) > 0
                            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
            FROM hashes
        )
        SELECT doc_id, simhash, simhash >> 24 AS simhash_prefix FROM sh
    """,
    "dedup_simhash_pairs": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        hashes AS (
            SELECT doc_id,
                   list_transform(toks,
                       t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT::BIGINT) AS hs
            FROM toks
        ),
        sh AS (
            SELECT doc_id,
                   list_sum(list_transform(generate_series(0, 31), j ->
                       CASE WHEN list_sum(list_transform(hs, h ->
                                CASE WHEN (h & CAST(pow(2, j) AS BIGINT)) > 0
                                     THEN 1 ELSE -1 END)) > 0
                            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
            FROM hashes
        ),
        pref AS (SELECT doc_id, simhash, simhash >> 24 AS p FROM sh)
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    "dedup_ngram_jaccard_pairs": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 500),
        shing AS (SELECT doc_id, list_distinct({_SHINGLES}) AS shingles FROM toks),
        sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM shing),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b, count(*) AS n_common
            FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b, n_common,
               round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_id_a
        JOIN sizes sb ON sb.doc_id = doc_id_b
        WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.1
    """,
    # exact all-pairs form: the prefix filter is lossless for J >= t, so
    # the scale plan must reproduce the naive join-on-every-shingle result
    "dedup_prefix_jaccard_pairs": f"""
        {_PREFIX_PAIRS_CTE}
        SELECT * FROM prefix_pairs
    """,
    "dedup_prefix_jaccard_topk": f"""
        {_PREFIX_PAIRS_CTE},
        sym AS (
            SELECT doc_id_a AS doc_id, doc_id_b AS neighbor, jaccard
            FROM prefix_pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a, jaccard FROM prefix_pairs
        )
        SELECT doc_id, neighbor, jaccard, rank::INT AS rank FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY jaccard DESC, neighbor) AS rank
            FROM sym
        ) WHERE rank <= {PREFIX_TOPK_K}
    """,
}


ORACLES["graph_hits_purchase"] = """
    WITH e AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h1 AS MATERIALIZED (SELECT c, count(*) AS h FROM e GROUP BY c),
    a1 AS MATERIALIZED (
        SELECT s, sum(h) AS a FROM e JOIN h1 USING (c) GROUP BY s),
    h2 AS MATERIALIZED (
        SELECT c, sum(a) AS h FROM e JOIN a1 USING (s) GROUP BY c),
    a2 AS MATERIALIZED (
        SELECT s, sum(h) AS a FROM e JOIN h2 USING (c) GROUP BY s),
    h3 AS MATERIALIZED (
        SELECT c, sum(a) AS h FROM e JOIN a2 USING (s) GROUP BY c),
    a3 AS MATERIALIZED (
        SELECT s, sum(h) AS a FROM e JOIN h3 USING (c) GROUP BY s),
    tagged AS (
        SELECT 'hub' AS role, c AS node_id,
               round(h::DOUBLE / (SELECT sum(h) FROM h3)::DOUBLE, 6) AS score
        FROM h3
        UNION ALL
        SELECT 'authority', s,
               round(a::DOUBLE / (SELECT sum(a) FROM a3)::DOUBLE, 6)
        FROM a3
    )
    SELECT role, rank, node_id, score FROM (
        SELECT *, row_number() OVER (PARTITION BY role
                   ORDER BY score DESC, node_id) AS rank
        FROM tagged
    ) WHERE rank <= 20
"""


# composed AFTER the dict exists: the modularity oracle reuses the pair
# and signature oracles verbatim as subqueries, so the three can never
# drift apart
ORACLES["graph_partition_modularity"] = f"""
    WITH e AS (
        SELECT sa.comm AS comm_a, sb.comm AS comm_b
        FROM ({ORACLES["dedup_minhash_lsh_pairs"]}) p
        JOIN (SELECT doc_id, simhash_prefix AS comm
              FROM ({ORACLES["dedup_simhash_signatures"]})) sa
          ON sa.doc_id = p.doc_id_a
        JOIN (SELECT doc_id, simhash_prefix AS comm
              FROM ({ORACLES["dedup_simhash_signatures"]})) sb
          ON sb.doc_id = p.doc_id_b
    ),
    deg AS (
        SELECT comm, count(*)::BIGINT AS d_c FROM (
            SELECT comm_a AS comm FROM e
            UNION ALL SELECT comm_b FROM e
        ) GROUP BY comm
    ),
    intra AS (
        SELECT comm_a AS comm, count(*)::BIGINT AS l_c
        FROM e WHERE comm_a = comm_b GROUP BY comm_a
    ),
    m_row AS (SELECT count(*)::BIGINT AS m FROM e),
    per_comm AS (
        SELECT deg.comm, deg.d_c, coalesce(intra.l_c, 0) AS l_c
        FROM deg LEFT JOIN intra USING (comm)
    ),
    folded AS (
        SELECT max(m)::BIGINT AS n_edges,
               count(*)::BIGINT AS n_communities,
               sum(l_c)::BIGINT AS intra_edges,
               sum(4 * m * l_c - d_c * d_c)::BIGINT AS q_x4m2
        FROM per_comm CROSS JOIN m_row
    )
    SELECT n_edges, n_communities, intra_edges, q_x4m2,
           round(q_x4m2 / (4.0 * n_edges * n_edges), 6) AS modularity
    FROM folded
"""
