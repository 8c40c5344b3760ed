"""Text-analysis operators over the documents table.

LLM-training-data-pipeline text ops (BASELINE.json north star): token
statistics, quality scoring, n-gram-heuristic language ID, and document
fingerprinting. All pure Catalyst expressions over the text column — no
UDFs, no shuffle beyond an optional final aggregate; at 100 TB this runs
embarrassingly parallel per partition with the text column pruned straight
out of the parquet scan when unused.

Every query has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.functions.text_funcs import (
    md5_int32,
    minhash_signature,
    tokens,
    word_shingles,
)
from ssiintegrateddatapipeline_spark.functions.twophase import (
    ntile_from_rank,
    two_phase_row_number,
)
from ssiintegrateddatapipeline_spark.sources.batch import load_table, spread
from ssiintegrateddatapipeline_spark.caches import track

# tiny stopword marker lists for the n-gram language heuristic
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "les", "des", "et"),
}
# single source of truth shared with the oracle SQL fragments
from ssiintegrateddatapipeline_spark.functions.text_funcs import (  # noqa: E402
    EN_STOPWORDS,
    QUALITY_FORMULA_SQL,
    STOPWORDS_SQL as _STOPWORDS_SQL_SHARED,
    TOKS_SQL,
    quality_terms_sql,
)


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: counts, distinct counts, lengths."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks), 6
        ).alias("avg_token_len"),
    )


# BPE-ish pre-tokenizer regex (GPT-2-style simplified to the RE2-compatible
# subset both engines share: letter runs, digit runs, single punctuation)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, BPE-pre-tokenizer flavor: regexp_extract_all with the
    letter/digit/punct split LLM tokenizers apply before merges — the count
    that tracks real token budgets far better than whitespace splitting."""
    d = load_table(spark, sf_dir, "documents")
    # NB: F.lit, not F.expr — a SQL string literal would eat the backslash
    # in \s and the negated class would start matching whitespace
    pieces = F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), 0)
    words = F.filter(pieces, lambda p: p.rlike("^[A-Za-z]+$"))
    nums = F.filter(pieces, lambda p: p.rlike("^[0-9]+$"))
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_tokens"),
        F.size(words).alias("n_word_pieces"),
        F.size(nums).alias("n_number_pieces"),
        (F.size(pieces) - F.size(words) - F.size(nums)).alias("n_punct_pieces"),
        F.round(F.size(pieces) / F.size(tokens(F.col("text"))), 6).alias(
            "bpe_to_whitespace_ratio"
        ),
    )


def quality_terms(text_col) -> tuple:
    """(type_token_ratio, stopword_ratio, score) column triple — the SINGLE
    source of the quality formula, shared by the batch profile query and
    the streaming curation gate (the SQL twin is QUALITY_FORMULA_SQL)."""
    toks = tokens(text_col)
    n = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    ttr = F.size(F.array_distinct(toks)) / n
    stop_ratio = n_stop / n
    length_term = F.least(F.lit(1.0), n / F.lit(50.0))
    score = (
        F.lit(0.4) * ttr
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.3) * length_term
    )
    return F.round(ttr, 6), F.round(stop_ratio, 6), F.round(score, 6)


def lang_marker_counts(text_col) -> dict:
    """Per-language marker-word counts (the n-gram language heuristic)."""
    toks = tokens(text_col)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang_col(cnt: dict):
    """argmax language with the fixed priority tiebreak en > de > es > fr."""
    return (
        F.when(
            (cnt["en"] >= cnt["de"])
            & (cnt["en"] >= cnt["es"])
            & (cnt["en"] >= cnt["fr"]),
            "en",
        )
        .when((cnt["de"] >= cnt["es"]) & (cnt["de"] >= cnt["fr"]), "de")
        .when(cnt["es"] >= cnt["fr"], "es")
        .otherwise("fr")
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: type-token ratio, stopword ratio, length.

    score = 0.4*type_token_ratio + 0.3*(1 - stopword_ratio)
          + 0.3*min(1, n_tokens/50)
    """
    d = load_table(spark, sf_dir, "documents")
    ttr, stop_ratio, score = quality_terms(F.col("text"))
    return d.select(
        "doc_id",
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: count per-language marker words, pick
    the best with fixed priority tiebreak en > de > es > fr."""
    d = load_table(spark, sf_dir, "documents")
    cnt = lang_marker_counts(F.col("text"))
    predicted = predicted_lang_col(cnt)
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted.alias("predicted_lang"),
        cnt["en"].alias("en_markers"),
        cnt["de"].alias("de_markers"),
        cnt["es"].alias("es_markers"),
        cnt["fr"].alias("fr_markers"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: an order-insensitive content fingerprint
    (md5 over the sorted distinct token set) plus a shingle fingerprint
    (min 32-bit hash over 3-word shingles — 1-permutation MinHash)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    content_fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    shingle_fp = F.element_at(minhash_signature(word_shingles(toks), n_hashes=1), 1)
    return d.select(
        "doc_id",
        content_fp.alias("content_fingerprint"),
        shingle_fp.alias("shingle_fingerprint"),
    )


# --- Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS document-fingerprint scheme). Character k-grams are hashed with an
# ENGINE-PORTABLE polynomial (base-257 over ascii codes mod 2^20 — plain
# integer arithmetic both Spark and the DuckDB oracle compute bit-for-bit;
# xxhash64/md5 would differ across engines), then each sliding window of
# WINNOW_W consecutive k-gram hashes selects its minimum (rightmost on
# ties — the robust-winnowing rule), and the distinct selections are the
# document's fingerprint set. Guarantee: any shared substring of length
# >= WINNOW_W + WINNOW_K - 1 yields a shared fingerprint, and the selected
# density is ~2/(W+1) of all k-grams.
#
# Plan shape: explode positions -> per-doc window min -> per-doc aggregate.
# The window and the aggregate both key on doc_id, so the window's hash
# exchange satisfies the groupBy and Catalyst plans ONE shuffle; partition
# sizes are bounded by document length (no skew, no global window). The
# rightmost-tie argmin rides the same min() by packing (hash, position)
# into one long: hash * 2^21 + (2^21 - 1 - pos) orders by hash first, then
# by LARGER position. ascii() is only portable over single-byte text; the
# corpus is ASCII (checked), non-ASCII would need a codepoint hash.

WINNOW_K = 5  # chars per k-gram
WINNOW_W = 4  # k-gram hashes per winnowing window
_WIN_B = 257
_WIN_M = 1 << 20
_POS_BITS = 21  # packing: supports documents up to 2^21 k-grams


def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # the per-char rolling hash is the query's compute: spread it across
    # cores before the narrow single-split scan pins it on one task
    d = spread(load_table(spark, sf_dir, "documents"))
    # one ascii pass per doc, O(1) element_at per k-gram char afterwards
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c))
    # two-step projection: materialize the ascii array BELOW the explode
    # (once per document) — fused into one select, Catalyst computes
    # `codes` per exploded ROW, an O(len^2)-per-doc trap; deriving the
    # explode bound from size(codes) pins the evaluation order
    # hash-repartition on doc_id BEFORE the explode: the window below needs
    # hashpartitioning(doc_id) anyway, so placing the one shuffle here means
    # the explode+hash fan-out runs on every core (the local single-split
    # scan would otherwise feed one task) and the window adds no exchange.
    # The partition count is EXPLICIT: a bare repartition(col) is eligible
    # for AQE partition coalescing, and the per-row rolling-hash work is
    # tiny in BYTES — AQE's size heuristic collapsed the exchange to ONE
    # partition (measured: the whole 1.8 s explode+window stage ran as a
    # single task). Pinning to defaultParallelism keeps the CPU-dense
    # stage wide on any cluster while the column keeps co-partitioning
    # with the window.
    per_doc = (
        d.where(F.length("text") >= WINNOW_K + WINNOW_W - 1)
        .select("doc_id", "text")
        .transform(spread, "doc_id")
        .select("doc_id", codes.alias("codes"))
    )
    grams = per_doc.select(
        "doc_id",
        "codes",
        F.explode(
            F.sequence(F.lit(1), F.size("codes") - (WINNOW_K - 1))
        ).alias("p"),
    )
    h = sum(
        F.element_at("codes", F.col("p") + F.lit(j)).cast("long")
        * F.lit(_WIN_B ** (WINNOW_K - 1 - j))
        for j in range(WINNOW_K)
    ) % F.lit(_WIN_M)
    packed = h * F.lit(1 << _POS_BITS) + (
        F.lit((1 << _POS_BITS) - 1) - F.col("p")
    )
    # project the hash BEFORE the window so the per-doc char array never
    # crosses the shuffle — only (doc_id, p, packed) does
    hashed = grams.select("doc_id", "p", packed.alias("packed"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    wins = hashed.select(
        "doc_id", "p", F.min("packed").over(w).alias("wmin")
    ).where(F.col("p") >= WINNOW_W)
    sel = F.array_distinct(F.collect_list("wmin"))
    hashes = F.transform(sel, lambda x: F.shiftright(x, _POS_BITS))
    return wins.groupBy("doc_id").agg(
        F.max("p").alias("n_kgrams"),
        F.size(sel).cast("long").alias("n_fingerprints"),
        F.aggregate(
            hashes, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("fp_sum"),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
    )


CLEAN_MIN_QUALITY = 0.55


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline, end to end:

    1. language filter     — keep predicted-English documents,
    2. quality filter      — heuristic score >= CLEAN_MIN_QUALITY,
    3. exact dedup         — keep the lowest doc_id per md5(text),
    4. near-dup dedup      — drop every near-dup cluster member except the
                             cluster representative (min doc_id = cluster id).

    Each stage is the already-oracle-checked operator; this query checks
    their composition. All joins against the survivor sets are
    key-only semi/left joins — document text never crosses a shuffle
    after the first scan."""
    from ssiintegrateddatapipeline_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    lang = language_id(spark, sf_dir).where(F.col("predicted_lang") == "en").select("doc_id")
    qual = (
        quality_score(spark, sf_dir)
        .where(F.col("quality_score") >= CLEAN_MIN_QUALITY)
        .select("doc_id", "quality_score")
    )
    exact_keep = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    clusters = dedup.near_dup_clusters(spark, sf_dir)
    return (
        d.join(lang, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
        .join(qual, "doc_id")
        .join(clusters, "doc_id", "left")
        .where(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .select("doc_id", "source", "n_chars", "quality_score")
    )


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level term statistics: explode tokens, count document
    frequency and total occurrences per term (stopwords excluded), keep
    the 20 most document-frequent. The explode fans out inside the scan
    stage; the aggregate shuffles only (term, partial-count) pairs —
    the wordcount shape at its scalable best."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    toks = toks.where(~F.col("term").isin(*EN_STOPWORDS) & (F.col("term") != ""))
    return (
        toks.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count("*").alias("total_occurrences"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("total_occurrences").desc(), F.col("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# PII scrub: redact e-mail / phone patterns, count what was removed.
# Patterns restricted to the regex subset Java and RE2 interpret
# identically (no backrefs, no lookaround). The scrub is a pure narrow
# projection — JVM-side regexp_replace, whole-stage-codegen'd, no UDF —
# so at 100 TB it rides the scan. The testdata corpus is synthetic word
# soup, so the query plants deterministic PII derived from user_id and
# then scrubs it — exercising the real operator on every row.
# ---------------------------------------------------------------------------

EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+"
PHONE_RE = "\\+1-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def pii_scrub(df: DataFrame, col: str) -> DataFrame:
    """Redact e-mails then phones in ``col``, appending redaction counts."""
    emails_gone = F.regexp_replace(F.col(col), EMAIL_RE, "[EMAIL]")
    return df.withColumn(
        "n_emails", F.size(F.regexp_extract_all(F.col(col), F.lit(EMAIL_RE), 0))
    ).withColumn(
        "n_phones", F.size(F.regexp_extract_all(F.col(col), F.lit(PHONE_RE), 0))
    ).withColumn(col, F.regexp_replace(emails_gone, PHONE_RE, "[PHONE]"))


def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # plant: every 3rd user signs with an e-mail, every 5th leaves a phone
    contact = F.concat(
        F.lit("reach me"),
        F.when(
            F.col("user_id") % 3 == 0,
            F.concat(F.lit(" at user"), F.col("user_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("user_id") % 5 == 0,
            F.concat(F.lit(" or +1-555-"), F.lpad((F.col("user_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    planted = ev.select("event_id", "user_id", contact.alias("note"))
    scrubbed = pii_scrub(planted, "note")
    return scrubbed.groupBy("user_id").agg(
        F.count("*").alias("n_notes"),
        F.sum("n_emails").alias("emails_redacted"),
        F.sum("n_phones").alias("phones_redacted"),
        F.max("note").alias("sample_scrubbed"),
    )


# ---------------------------------------------------------------------------
# TF-IDF and the inverted index — the retrieval-side pair. Both are
# explode → aggregate shapes: tokens fan out inside the scan stage and
# only (term, partial) pairs cross the shuffle. The posting lists are
# capped (sorted prefix) so output stays bounded however large the corpus.
# ---------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (audited on the doc_id % 25 == 0
    subset). idf = ln((N+1)/(df+1)), computed identically on both engines;
    the corpus size N joins in as a broadcast scalar, not a collect."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    toks = toks.where(~F.col("term").isin(*EN_STOPWORDS) & (F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("doc_id") % 25 == 0)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists: term → document frequency + the first 50 doc_ids in
    sorted order (the bounded index-shard shape; full lists would be the
    same plan minus the slice)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    toks = toks.where(~F.col("term").isin(*EN_STOPWORDS) & (F.col("term") != ""))
    return toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.slice(F.array_sort(F.collect_set("doc_id")), 1, 50).alias("postings_head"),
    )


# eval split + shingle width for the benchmark-contamination check
CONTAM_EVAL_MOD = 17
CONTAM_SHINGLE_K = 5


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark/test-set contamination: which training documents share
    k-word shingles with the held-out eval split (doc_id % 17 == 0 stands in
    for the eval set).

    The scale shape: the eval side is always small (an eval set is thousands
    of docs, not billions), so its distinct shingle set is broadcast and the
    100 TB training side streams through a map-side semi-join — the only
    shuffle is the final per-doc aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col("text")), CONTAM_SHINGLE_K))
        ).alias("gram"),
    )
    eval_grams = (
        sh.where(F.col("doc_id") % CONTAM_EVAL_MOD == 0).select("gram").distinct()
    )
    train = sh.where(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    overlap = train.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "gram", "left"
    )
    per_doc = overlap.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlapping"),
    )
    return per_doc.where(F.col("n_overlapping") > 0).select(
        "doc_id",
        "n_shingles",
        "n_overlapping",
        F.round(F.col("n_overlapping") / F.col("n_shingles"), 6).alias(
            "contamination_ratio"
        ),
    )


def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-bigram
    fraction, top-bigram share, top-word share, and the largest fraction of
    non-space characters attributable to one repeated word.

    Two explode→agg pipelines (unigram, bigram) with map-side partial
    aggregation, joined on doc_id; ties in "most common word" never matter
    because only max counts / max char products are reported, not the word.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    uni = (
        d.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.max("c").alias("top_word_count"),
            F.max(F.col("c") * F.length("w")).alias("top_word_chars"),
            F.sum(F.col("c") * F.length("w")).alias("total_word_chars"),
        )
    )
    big = (
        d.select("doc_id", F.explode(word_shingles(toks, 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
    )
    return uni.join(big, "doc_id").select(
        "doc_id",
        F.round(F.col("top_word_count") / F.col("n_words"), 6).alias("top_word_share"),
        F.round(F.col("top_word_chars") / F.col("total_word_chars"), 6).alias(
            "top_word_char_frac"
        ),
        F.round(1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"), 6).alias(
            "dup_bigram_frac"
        ),
        F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6).alias(
            "top_bigram_share"
        ),
    )


SEG_WORDS = 10  # fixed-width segment for boilerplate detection
BOILER_MIN_DOCS = 2  # a segment seen in >= this many distinct docs is boilerplate


def boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/C4 line-dedup shape,
    with fixed 10-word segments standing in for lines): segment every
    document, count each segment's document frequency across the corpus,
    drop segments that recur in >= 2 distinct documents (headers, footers,
    templates), and reassemble the surviving text in order.

    Scale shape: segmentation is a per-row higher-order expression; the df
    count is one explode→groupBy with map-side partial aggregation; the
    boilerplate set (recurring segments only — a sliver of the corpus) is
    broadcast back as an anti-join, so the cleanup pass never shuffles the
    corpus itself; reassembly sorts each doc's surviving segments in-row.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_segs = F.ceil(F.size(toks) / F.lit(SEG_WORDS)).cast("int")
    segs_col = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * SEG_WORDS + 1, SEG_WORDS), " "
        ),
    )
    seg_rows = d.select(
        "doc_id", F.posexplode(segs_col).alias("pos", "seg")
    )
    boiler = (
        seg_rows.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= BOILER_MIN_DOCS)
        .select("seg")
    )
    kept = seg_rows.join(F.broadcast(boiler), "seg", "left_anti")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept_segments"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


CHUNK_SIZE = 128  # tokens per retrieval/training chunk
CHUNK_STRIDE = 96  # 25% overlap between consecutive chunks


def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping chunking: every document becomes a set of fixed-size
    token windows with stride < size (the RAG-indexing / long-doc-training
    split). Pure expression work — token count per row, `sequence` for the
    window starts, one explode — no UDF, no shuffle; at 100 TB this stays
    entirely inside whole-stage codegen and scales row-local.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.size(tokens(F.col("text"))).alias("n_tokens"))
    return (
        base.select(
            "doc_id",
            "n_tokens",
            F.explode(
                F.sequence(F.lit(0), F.col("n_tokens") - 1, F.lit(CHUNK_STRIDE))
            ).alias("start_token"),
        )
        .select(
            "doc_id",
            F.expr(f"start_token div {CHUNK_STRIDE}").alias("chunk_idx"),
            "start_token",
            (
                F.least(F.col("start_token") + CHUNK_SIZE, F.col("n_tokens"))
                - F.col("start_token")
            ).alias("n_chunk_tokens"),
        )
    )


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal: Shannon entropy (bits/char) of each
    document's character distribution — near-zero entropy flags degenerate
    repeated-character spam, unusually high entropy flags binary/garbled
    payloads masquerading as text; both are standard pre-training filters.
    Two hash aggregations ((doc, char) then doc), map-side combined; the
    entropy is assembled as log2(n) - Σ c·log2(c)/n so both engines compute
    the identical expression tree.
    """
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log2("c")).alias("slc"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            F.round(F.log2("n") - F.col("slc") / F.col("n"), 6).alias("entropy_bits"),
        )
    )


def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, w2) corpus bigram stream — shared by the add-one and
    Kneser-Ney LM scorers. The per-doc bigram explode is the compute:
    spread it across cores before the narrow single-split scan pins it on
    one task (no-op on production multi-split scans)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n = F.size(toks)
    return d.select(
        "doc_id",
        F.explode(
            F.zip_with(
                # greatest(n-1, 0): slice raises on negative length, so a
                # zero-token document would crash instead of yielding no
                # bigrams (the oracle's generate_series(1, -1) is empty)
                F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


KN_DISCOUNT = 0.75  # the standard absolute-discount mass


def kn_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney, ICASSP 1995;
    the Chen & Goodman 1998 interpolated form) — the smoothing real LM
    filters (KenLM) use, completing the LM family next to the add-one
    scorer: P(w2|w1) = (c(w1w2) − D)/c(w1) + D·N1+(w1·)/c(w1) · P_cont(w2)
    with the CONTINUATION probability P_cont(w2) = N1+(·w2)/|bigram types|
    — "how many contexts does w2 complete", the insight that makes KN
    model novel continuations better than frequency smoothing. Scoring is
    in-vocabulary by construction (the model trains on the same corpus),
    so c(w1w2) ≥ 1 > D and the discount never clips.

    Plan shape mirrors the add-one scorer: model "training" is three hash
    aggregations over the bigram stream; scoring joins on the bigram key
    (uniform hash keys) with the context/continuation tables broadcast.
    Every model statistic is an exact integer; the probability expression
    has the identical operation order in both engines."""
    from ssiintegrateddatapipeline_spark.caches import track

    # the tokenize+explode stream feeds model training AND scoring, and
    # the bigram-count table feeds FOUR consumers (ctx, cont, types, the
    # scoring join) — unpinned, the explode lineage re-runs per consumer
    # (measured 5 near-identical ~10 CPU-s stages at sf0.1); pinned, the
    # corpus is tokenized once and counted once
    bi = track(_bigram_stream(spark, sf_dir).persist())
    bc = track(
        bi.groupBy("w1", "w2").agg(F.count("*").alias("c12")).persist()
    )
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1b"))
    types = bc.agg(F.count("*").alias("ntypes"))
    p = (
        F.col("c12")
        - F.lit(KN_DISCOUNT)
        + F.lit(KN_DISCOUNT) * F.col("n1f") * (F.col("n1b") / F.col("ntypes"))
    ) / F.col("c1")
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(types))
        .select("doc_id", F.log2(p).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.sum("lp") / F.count("*"), 6).alias("kn_bits_per_bigram"),
    )


def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring (the KenLM-filter shape): train an add-one
    bigram model on the corpus itself, then score every document's mean
    -log2 P(w_i | w_{i-1}) — wildly improbable token sequences (gibberish,
    boilerplate soup) score high and get filtered. One explode builds the
    bigram stream; model "training" is two hash aggregations; scoring joins
    each doc's bigrams against the model on the bigram key (uniform hash
    keys, even shuffle) with the unigram table and vocab size broadcast.
    """
    from ssiintegrateddatapipeline_spark.caches import track

    # same pin rationale as the Kneser-Ney scorer: the explode stream has
    # four consumers (bigram counts, unigram counts, vocab, scoring join)
    bi = track(_bigram_stream(spark, sf_dir).persist())
    bigram_c = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    unigram_c = bi.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = bi.select(F.countDistinct("w2").alias("v"))
    scored = (
        bi.join(bigram_c, ["w1", "w2"])
        .join(F.broadcast(unigram_c), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log2((F.col("c12") + 1) / (F.col("c1") + F.col("v"))).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(-F.sum("lp") / F.count("*"), 6).alias("bits_per_bigram"),
    )


PPL_BUCKETS = 3  # CCNet-style head / middle / tail split


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus bigram LM (see :func:`bigram_lm_score`) and split the corpus
    into PPL_BUCKETS quantile buckets (1 = most fluent "head", 3 = noisy
    "tail"), reporting per-bucket volumes. The reference pipeline has no
    LM layer; this is the training-data-curation operator the engine adds
    (CCNet, Wenzek et al. 2020) on the same corpus tables.

    Scale shape: scoring is the bigram join (uniform hash keys); the
    ntile is two-phase ranked (functions/twophase.py) — documents
    range-bucket on quarter-bit score intervals (monotone along the
    (score, doc_id) order), rank in parallel inside buckets, and the
    exact ANSI ntile falls out of the rank plus plan-time literals. No
    ``Exchange SinglePartition``; assignment stays exact, so the oracle
    replays it bit-for-bit. The scored table is persisted across the
    offset and rank passes (at warehouse scale this is the checkpoint
    you'd write between curation stages anyway).
    """
    scored = track(bigram_lm_score(spark, sf_dir).persist())
    # quarter-bit fixed intervals: cheap, deterministic, monotone in the
    # sort key's leading column; balance only affects parallelism.
    bucket = F.floor(F.col("bits_per_bigram") * 4).cast("int")
    ranked, n = two_phase_row_number(
        scored, bucket, [F.col("bits_per_bigram").asc(), F.col("doc_id").asc()],
        out="rank",
    )
    bucketed = ranked.select(
        "doc_id",
        "n_bigrams",
        "bits_per_bigram",
        ntile_from_rank(F.col("rank"), n, PPL_BUCKETS).alias("ppl_bucket"),
    )
    return bucketed.groupBy("ppl_bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bigrams").alias("total_bigrams"),
        F.min("bits_per_bigram").alias("min_bits"),
        F.max("bits_per_bigram").alias("max_bits"),
    )


def language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language classifier against the
    corpus labels — the eval every heuristic filter needs before its
    verdicts drive curation: per (labeled, predicted) cell count plus
    the label's recall. Exact-integer half-up recall (no float ratio to
    tie-break); one classifier scan, two nested hash aggregates.

    On THIS corpus the matrix collapses to one predicted column: the
    synthetic documents draw words from an English pool regardless of
    their ``lang`` label, so the classifier (correctly) reads them all as
    'en' — which is precisely the label-vs-content disagreement a
    confusion matrix exists to surface before anyone filters on either.
    """
    d = load_table(spark, sf_dir, "documents")
    cnt = lang_marker_counts(F.col("text"))
    cells = (
        d.select(
            F.col("lang").alias("labeled_lang"),
            predicted_lang_col(cnt).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("n_labeled"),
        F.sum(
            F.when(
                F.col("predicted_lang") == F.col("labeled_lang"),
                F.col("n_docs"),
            ).otherwise(0)
        ).alias("n_correct"),
    )
    recall = _round_half_up_ratio_text(
        F.col("n_correct"), F.col("n_labeled"), 6
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        recall.alias("label_recall"),
    )


def _round_half_up_ratio_text(numer, denom, scale: int):
    """Exact half-up round(numer/denom, scale) in int64 (the analytics
    module's device, re-stated here to keep the text module import-light):
    floor((numer*2*10^s + denom) / (2*denom)) / 10^s."""
    p = 10**scale
    big = numer * F.lit(2 * p) + denom
    d2 = denom * F.lit(2)
    q = F.round((big - big % d2) / d2).cast("long")
    return q / F.lit(float(p))


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule filters (Rae et al. 2021 §A1.1 adapted to
    this corpus's signals): the per-rule rejection-rate report a curation
    pipeline monitors before applying the gate. Rules: token count in
    [50, 100k]; mean token length in [3, 10]; >= 2 stopwords; >= 80%
    alphabetic tokens; type-token ratio >= 0.2 (the repetition proxy).

    Every rule is an exact integer cross-multiplied comparison (mean
    length >= 3 <=> sum_len >= 3n, etc.), so the whole report is
    float-free and hash-exact. One corpus scan: per-doc flags fold in a
    single zero-key aggregate with map-side partials.
    """
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda s, x: s + F.length(x)
    )
    n_stop = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    n_alpha = F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
    n_distinct = F.size(F.array_distinct(t))
    fails = {
        "fail_len": (n < 50) | (n > 100_000),
        "fail_word_len": (sum_len < 3 * n) | (sum_len > 10 * n),
        "fail_stopwords": n_stop < 2,
        "fail_alpha": 5 * n_alpha < 4 * n,
        "fail_ttr": 5 * n_distinct < n,
    }
    flagged = d.select(
        *[F.when(c, 1).otherwise(0).alias(k) for k, c in fails.items()]
    )
    any_fail = sum(F.col(k) for k in fails) > 0
    return flagged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(k).alias(k) for k in fails],
        F.sum(F.when(any_fail, 0).otherwise(1)).alias("pass_all"),
    )


DSIR_BUCKETS = 4096  # hashed feature space (2^12 buckets)
DSIR_SELECT_K = 100  # selection budget (documents kept)


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every document by how much
    more likely its hashed-bigram features are under a TARGET distribution
    (here: the English subset, the in-domain proxy) than under the RAW
    corpus, then select documents with positive log-ratio. This is the
    standard pretraining-mix curation step between dedup and sampling.

    weight(doc) = Σ_bigrams [log2 p_tgt(f) - log2 p_raw(f)] over hashed
    features f (add-1 smoothing across DSIR_BUCKETS buckets).

    Scale shape: one explode builds the feature stream (linear in corpus
    tokens, spread across cores before the per-row bigram materialization);
    both hashed-feature LMs fold in ONE map-side-combined aggregate keyed
    on f (≤ DSIR_BUCKETS groups); the scoring join broadcasts the ≤4096-row
    log-ratio table back onto the stream — no shuffle of the corpus beyond
    the per-doc reduce. The feature hash is the md5-prefix integer idiom,
    identical in the oracle.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n = F.size(toks)
    feats = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(
            F.zip_with(
                # greatest(n-1, 0): Spark's slice RAISES on a negative
                # length, so a zero-token document (n-1 = -1) would crash
                # the job where the oracle's generate_series(1, -1) just
                # yields empty
                F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "is_target",
        (md5_int32(F.col("bg")) % DSIR_BUCKETS).alias("f"),
    )
    # the tokenize → bigram explode → md5 lineage feeds BOTH the hashed-LM
    # aggregation and the scoring join — pin it so the corpus is featurized
    # once per invocation, not once per consumer
    from ssiintegrateddatapipeline_spark.caches import track

    feats = track(feats.persist())
    per_f = feats.groupBy("f").agg(
        F.count("*").alias("c_raw"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_tgt"),
    )
    totals = per_f.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    table = per_f.crossJoin(F.broadcast(totals)).select(
        "f",
        (
            F.log2((F.col("c_tgt") + 1) / (F.col("n_tgt") + DSIR_BUCKETS))
            - F.log2((F.col("c_raw") + 1) / (F.col("n_raw") + DSIR_BUCKETS))
        ).alias("lr"),
    )
    scored = (
        feats.join(F.broadcast(table), "f")
        .groupBy("doc_id")
        .agg(
            (F.max(F.when(F.col("is_target"), 1).otherwise(0)) == 1).alias("is_target"),
            F.count("*").alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("dsir_logratio"),
            F.round(F.sum("lr") / F.count("*"), 6).alias("logratio_per_tok"),
        )
    )
    # Importance resampling selects a fixed BUDGET, not a zero-threshold:
    # the raw-corpus expectation of the log-ratio is a negative KL offset,
    # so "score > 0" selects nothing. Rank on the length-normalized score
    # (rounded first, so a 1e-13 summation-order wobble can't flip the
    # boundary rank between engines) — orderBy().limit() compiles to
    # TakeOrderedAndProject, a per-partition top-K + single merge.
    return scored.orderBy(
        F.col("logratio_per_tok").desc(), F.col("doc_id").asc()
    ).limit(DSIR_SELECT_K)


DUP_NGRAM_N = 8  # the classic memorization-audit window
DUP_NGRAM_TOP_K = 50


def dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated n-grams: the top repeated 8-gram spans with
    occurrence and document counts — the memorization-risk audit run before
    training (exact repeated spans are what models regurgitate).

    Scale shape: explode is linear in corpus tokens and reduces through a
    map-side partial agg on the n-gram hash; the HAVING n_docs>=2 filter
    drops the long unique tail before the final top-K
    (TakeOrderedAndProject), so only duplicated spans survive the shuffle.
    """
    # the per-row 8-gram materialization (transform + array_join) is the
    # CPU wall here — fan the single-split scan across cores before it
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n_spans = F.size(toks) - F.lit(DUP_NGRAM_N - 1)
    grams = F.when(
        n_spans >= 1,
        F.transform(
            F.sequence(F.lit(1), n_spans),
            lambda i: F.array_join(F.slice(toks, i, DUP_NGRAM_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select("doc_id", F.explode(grams).alias("ngram"))
    agg = (
        exploded.groupBy("ngram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return agg.orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), "ngram"
    ).limit(DUP_NGRAM_TOP_K)


INTRA_DUP_N = 2  # intra-doc duplicate n-gram width (Gopher's 2-gram rule)


def intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition audit — the Gopher duplicate-n-gram
    filter (Rae et al. 2021 §A1.1) as a per-document report: the fraction
    of a document's 2-gram occurrences (and of their characters) that
    belong to 2-grams repeated WITHIN that document. The cross-doc
    `text_dup_ngrams` finds corpus-level memorization spans; this is the
    per-doc "loops and boilerplate" signal the repetition gate thresholds
    on.

    Exactness: occurrence and character counts are integers (a gram's
    char weight is its string length); the two fractions divide once and
    round at 6 — no floats before the final ratio. Scale: the explode is
    linear in corpus tokens, the duplicate decision is a per-(doc, gram)
    count — one map-side-combined shuffle keyed by doc+gram, then one
    per-doc fold; nothing is quadratic and no window appears."""
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n_spans = F.size(toks) - F.lit(INTRA_DUP_N - 1)
    grams = F.when(
        n_spans >= 1,
        F.transform(
            F.sequence(F.lit(1), n_spans),
            lambda i: F.array_join(F.slice(toks, i, INTRA_DUP_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = d.select("doc_id", F.explode(grams).alias("ngram"))
    per_gram = exploded.groupBy("doc_id", "ngram").agg(
        F.count(F.lit(1)).alias("c"),
        F.length(F.first("ngram")).alias("glen"),
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias(
            "dup_grams"
        ),
        F.sum(F.col("c") * F.col("glen")).alias("n_gram_chars"),
        F.sum(
            F.when(F.col("c") >= 2, F.col("c") * F.col("glen")).otherwise(0)
        ).alias("dup_gram_chars"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "dup_grams",
        F.round(F.col("dup_grams") / F.col("n_grams"), 6).alias(
            "dup_fraction"
        ),
        F.round(F.col("dup_gram_chars") / F.col("n_gram_chars"), 6).alias(
            "dup_char_fraction"
        ),
    )


# BM25 retrieval parameters (Robertson/Sparck-Jones defaults) and the
# fixed query workload (literal terms, so the small query side is a
# compile-time broadcast in BOTH engines)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q_joins": ("join", "merge", "hash"),
    "q_windows": ("window", "stream", "batch"),
    "q_scan_perf": ("scan", "filter", "fast"),
}


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query workload over the corpus —
    the lexical-retrieval primitive of a training-data pipeline (quality
    retrieval, hard-negative mining, eval-set construction).

    Scale shape: term frequencies are computed ONLY for the union of query
    terms (the `isin` filter runs before the tf shuffle, so the 100 TB
    corpus reduces to |query_vocab| × docs-containing-them rows); df and
    the corpus stats (N, avgdl) are broadcast scalars; the final top-k is a
    per-query window over the already-tiny scored set. Per-term partial
    scores are summed in integer micro-units (round(x*1e6)::long) so the
    cross-engine sum is order-independent — the same exact-integer device
    as analytics' half-up ratios.
    """
    d = load_table(spark, sf_dir, "documents")
    qterms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    q = local_frame(spark, 
        [(qid, t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id string, term string",
    )
    dl = d.select("doc_id", F.size(tokens(F.col("text"))).alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = (
        toks.where(F.col("term").isin(*qterms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    # identical expression text in the oracle — keep the parenthesization.
    # The natural log is the one transcendental in the integer-exact path:
    # JVM Math.log and libm can differ by 1 ulp, which could flip the
    # round(x·1e6) micro at a .5 boundary — snapping idf to a 12-decimal
    # grid first (both engines) absorbs any 1-ulp disagreement.
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ),
        12,
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        F.broadcast(q)
        .join(tf, "term")
        .join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(idf * tf_norm * 1_000_000, 0).cast("long").alias("micro"),
        )
    )
    per_doc = scored.groupBy("query_id", "doc_id").agg(
        F.sum("micro").alias("micro"), F.count("*").alias("n_terms_matched")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("micro").desc(), "doc_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BM25_TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("micro") / 1_000_000, 6).alias("bm25"),
            "n_terms_matched",
            "rank",
        )
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP_K = 10  # fused results kept per query


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al., SIGIR
    2009): each query's BM25 candidate list is re-ranked by
    ``1/(k + bm25_rank) + 1/(k + quality_rank)`` — the score-free fusion
    rule hybrid RAG stacks use to blend heterogeneous rankers without
    calibrating their scores. Here the second ranker is the global
    document-quality prior (``quality_score``), so the fusion prefers
    documents that are both relevant AND well-formed — the hard-negative
    / eval-set construction shape.

    RRF works on RANKS, which is exactly what makes it parity-exact: the
    fused score is a two-term rational from integers, computed in one
    fixed order and rounded at 9 decimals in both engines, and ranking
    happens ON the rounded value with a doc_id tiebreak. The global
    quality rank uses the two-phase machinery (no single-partition
    window over the corpus); the per-query fusion window runs over the
    <= BM25_TOP_K candidates only.
    """
    from ssiintegrateddatapipeline_spark.functions.twophase import (
        quantile_buckets,
    )

    bm = bm25_search(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("bm25_rank")
    )
    d = load_table(spark, sf_dir, "documents")
    _, _, score = quality_terms(F.col("text"))
    scored = d.select("doc_id", score.alias("q"))
    bucket = quantile_buckets(scored, F.col("q"), descending=True)
    ranked, _ = two_phase_row_number(
        scored,
        bucket,
        [F.col("q").desc(), F.col("doc_id")],
        out="quality_rank",
    )
    fused = bm.join(ranked.select("doc_id", "quality_rank"), "doc_id").select(
        "query_id",
        "doc_id",
        "bm25_rank",
        "quality_rank",
        F.round(
            1.0 / (F.lit(RRF_K) + F.col("bm25_rank"))
            + 1.0 / (F.lit(RRF_K) + F.col("quality_rank")),
            9,
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .where(F.col("fused_rank") <= RRF_TOP_K)
        .select(
            "query_id",
            "doc_id",
            "fused_rank",
            "rrf_score",
            "bm25_rank",
            "quality_rank",
        )
    )


# BPE vocabulary training: number of merge steps and the end-of-word marker
BPE_MERGES = 8
BPE_EOW = "$"  # not in the corpus alphabet (lowercase words)


def _bpe_word_symbols(word_col):
    """word -> space-joined character symbols + end-of-word marker."""
    chars = F.expr(f"regexp_extract_all({word_col}, '.', 0)")
    return F.concat(F.array_join(chars, " "), F.lit(" " + BPE_EOW))


def _bpe_apply_merge(w, a: str, b: str):
    """Merge every boundary-respecting occurrence of symbol pair (a, b) in
    the space-joined symbol string ``w`` — the space-doubling device makes
    adjacent occurrences non-overlapping without regex lookarounds (which
    DuckDB's RE2 lacks), so the SAME expression runs in both engines."""
    doubled = F.replace(
        F.concat(F.lit(" "), w, F.lit(" ")), F.lit(" "), F.lit("  ")
    )
    merged = F.replace(
        doubled, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
    )
    return F.trim(F.regexp_replace(merged, " +", " "))


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """Learn BPE_MERGES merge rules over the corpus word-frequency table.

    Scale shape: the unit of iteration is the (word, freq) vocabulary —
    orders of magnitude smaller than the corpus (the corpus reduces to it
    through one hash agg). Each step is a distributed pair-count with
    map-side combine; only the 1-row argmax crosses to the driver (the
    k-means-centroid device), and the merge application is a per-row
    string map.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(_bpe_word_symbols("word").alias("w"), "freq")
        # each step's argmax action would otherwise re-run the corpus scan
        # and every prior merge application from scratch (O(M^2) passes);
        # persisting pins each step's vocab so a step costs one pass
        .persist()
    )
    steps_cached = [words]
    merges: list[tuple[str, str, int]] = []
    for _ in range(BPE_MERGES):
        syms = F.split(F.col("w"), " ")
        n = F.size(syms)
        pair_col = F.zip_with(
            F.slice(syms, 1, n - 1),
            F.slice(syms, 2, n - 1),
            lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        )
        best = (
            words.select(F.explode(pair_col).alias("p"), "freq")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()[0]
        )
        merges.append((best.a, best.b, best.cnt))
        words = words.select(
            _bpe_apply_merge(F.col("w"), best.a, best.b).alias("w"), "freq"
        ).persist()
        # the PREVIOUS step's cache stays pinned until the loop ends: the
        # next argmax materializes this step's vocab FROM it — unpersisting
        # earlier would force the whole lineage to recompute
        steps_cached.append(words)
    for cached in steps_cached:
        cached.unpersist()
    return merges


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table: step, pair, merged symbol, weighted
    pair count — the tokenizer-vocabulary training step of the pipeline
    (Sennrich et al. 2016), distributed as in :func:`_bpe_train`."""
    merges = _bpe_train(spark, sf_dir)
    return local_frame(spark, 
        [
            (i + 1, a, b, a + b, int(cnt))
            for i, (a, b, cnt) in enumerate(merges)
        ],
        "merge_step int, pair_a string, pair_b string, merged string, "
        "pair_count long",
    )


SCRUB_K = 8  # span width for the exact-substring scrub


def substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring deduplication applied to the corpus — the Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models Better")
    scrub, token-granular: any 8-token span that occurs in >= 2 DISTINCT
    documents is removed from every document, and the cleaned text is
    re-emitted (here as its md5 plus removal counters, so the row stays
    narrow). Complements text_dup_ngrams (which only REPORTS the top
    repeated spans): this is the transform that actually produces the
    deduplicated training corpus.

    Plan shape (round 12): one posexplode of per-doc 8-grams (linear in
    corpus tokens) -> ONE groupBy(gram) that folds every occurrence into
    an in-row list and keeps only grams spanning >= 2 distinct docs ->
    explode the surviving occurrences -> per-doc merge of covered token
    positions as a bounded array (doc length caps it) -> index filter
    rebuilds the cleaned token list. The r11 shape ran the gram stream
    through a dup-aggregate AND a semi-join probe (the stream persisted
    to avoid recomputing the explode per consumer); folding the
    occurrence list into the same aggregation that counts distinct docs
    ships the identical (gram, doc, pos) bytes through ONE exchange,
    drops the semi-join and the pinned stream outright (§2.3/§2.4 —
    aggregate before you shuffle, remove shuffles; also removes this
    query's CacheManager warm-read measurement artifact flagged in the
    r11 verdict). Measured 2.15 -> 1.46 s median interleaved A/B at
    sf0.1, results frame-equal. No self-join, no all-pairs: cost is
    O(corpus tokens) shuffled once + the per-doc coverage shuffle.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks_df = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    grams8 = F.when(
        F.size("toks") >= SCRUB_K, word_shingles(F.col("toks"), k=SCRUB_K)
    ).otherwise(F.array().cast("array<string>"))
    grams = toks_df.select(
        "doc_id", F.posexplode(grams8).alias("pos0", "gram")
    )
    # a hot gram's occurrence list is bounded by its corpus frequency —
    # the same single-key skew bound the old dup-aggregate had; the list
    # is exploded back to rows immediately after the filter
    starts = (
        grams.groupBy("gram")
        .agg(F.collect_list(F.struct("doc_id", "pos0")).alias("occs"))
        .where(
            F.size(
                F.array_distinct(
                    F.transform(F.col("occs"), lambda o: o["doc_id"])
                )
            )
            >= 2
        )
        .select(F.explode("occs").alias("o"))
        .select(
            F.col("o.doc_id").alias("doc_id"), F.col("o.pos0").alias("pos0")
        )
    )
    cov = starts.groupBy("doc_id").agg(
        # one row per (doc_id, pos0) by construction (posexplode emits each
        # position once), so a plain count equals the distinct count
        # without the distinct's extra aggregation pass
        F.count(F.lit(1)).alias("n_dup_starts"),
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("pos0"), F.col("pos0") + (SCRUB_K - 1)
                        )
                    )
                )
            )
        ).alias("covered"),
    )
    joined = toks_df.join(cov, "doc_id", "left")
    covered = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    clean = F.filter(
        "toks", lambda x, i: ~F.array_contains(covered, i)
    )
    return joined.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_dup_starts"), F.lit(0))
        .cast("long")
        .alias("n_dup_starts"),
        F.size(covered).cast("long").alias("n_removed"),
        F.md5(F.array_join(clean, " ")).alias("clean_hash"),
    )


# fixed phrase workload: three frequent corpus bigrams + a guaranteed miss
# (neither term exists in the corpus vocabulary)
PHRASE_QUERIES = (
    ("p_table_hash", "table", "hash"),
    ("p_merge_group", "merge", "group"),
    ("p_slow_key", "slow", "key"),
    ("p_missing", "zebra", "quasar"),
)


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase query — the IR primitive BM25 can't express
    (bag-of-words loses adjacency): find documents containing the exact
    two-word phrase via a position-adjacency join over the postings.

    Scale shape: the corpus explodes to (doc_id, pos, term) ONCE, is
    immediately filtered to the phrase vocabulary (a handful of terms, so
    the 100 TB posting stream shrinks to the query terms' postings before
    any shuffle), and the adjacency join is an equi-join on
    (phrase, doc_id, pos+1 = pos) — co-partitioned, no theta join. The
    phrase list is a broadcast LocalRelation; misses survive through the
    final left join to the phrase grid."""
    from ssiintegrateddatapipeline_spark.sources.batch import local_frame

    d = load_table(spark, sf_dir, "documents")
    pf = local_frame(
        spark,
        [(pid, a, b) for pid, a, b in PHRASE_QUERIES],
        "phrase_id string, term_a string, term_b string",
    )
    vocab = sorted({t for _, a, b in PHRASE_QUERIES for t in (a, b)})
    toks = d.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "term")
    ).where(F.col("term").isin(vocab))
    lead = toks.join(
        F.broadcast(pf), toks["term"] == pf["term_a"]
    ).select("phrase_id", "doc_id", (F.col("pos") + 1).alias("next_pos"), "term_b")
    trail = toks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("term").alias("t_b"),
    )
    hits = lead.join(
        trail,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("next_pos") == F.col("pos_b"))
        & (F.col("term_b") == F.col("t_b")),
    )
    agg = hits.groupBy("phrase_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
    )
    grid = pf.select("phrase_id", "term_a", "term_b")
    return grid.join(F.broadcast(agg), "phrase_id", "left").select(
        "phrase_id",
        F.concat_ws(" ", "term_a", "term_b").alias("phrase"),
        F.coalesce("n_occurrences", F.lit(0)).alias("n_occurrences"),
        F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        "first_doc",
    )


# ---------------------------------------------------------------------------
# Hashed linear classifier (fastText / FineWeb-Edu-style quality filter).
# Production LLM corpora gate documents with a cheap linear model scored at
# full corpus width (fastText in CCNet/RedPajama, an edu-quality regressor in
# FineWeb-Edu). The engine models the *inference* path: vocabulary-free
# hashed bag-of-words (token -> bucket via the dialect-portable md5 slice),
# per-bucket weight looked up from the model (here a deterministic
# pseudo-weight derived from the bucket id, so the DuckDB oracle replays the
# exact model without shipping a weight table), mean-pooled logit, sigmoid
# score, threshold decision. Everything is one pure-Catalyst projection —
# per-row transform/aggregate over the token array, NO explode, NO shuffle,
# NO UDF — so at 100 TB it is an embarrassingly parallel map over the scan
# with the decision available for predicate reuse downstream. The logit is
# kept in integer milli-units so the cross-engine sum is exact (float
# addition order never matters); only the final sigmoid is floating point.
# In production the literal weight formula is replaced by a broadcast
# weight array indexed by bucket — same plan shape, same cost.
# ---------------------------------------------------------------------------

CLS_BUCKETS = 1024
# bias = pseudo-weight of the literal 'bias' bucket, fixed at import time so
# both engines embed the same constant
import hashlib as _hashlib  # noqa: E402

CLS_BIAS_MILLI = int(_hashlib.md5(b"w|bias").hexdigest()[:8], 16) % 2001 - 1000


def _cls_token_weight(t):
    bucket = F.pmod(md5_int32(t), F.lit(CLS_BUCKETS))
    return (
        F.pmod(
            md5_int32(F.concat(F.lit("w|"), bucket.cast("string"))), F.lit(2001)
        )
        - 1000
    )


def hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape hashed linear classifier inference over documents.

    Output per doc: token count, integer milli-logit (exact across engines),
    keep decision (sigmoid >= 0.5 <=> logit >= 0, decided in integer space),
    and the sigmoid score rounded to 6 decimals.
    """
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    logit = (
        F.aggregate(
            F.transform(toks, _cls_token_weight),
            F.lit(0).cast("long"),
            lambda a, x: a + x.cast("long"),
        )
        + CLS_BIAS_MILLI
    )
    n_tok = F.size(toks).cast("long")
    mean_logit = logit / (1000.0 * n_tok)
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        logit.alias("logit_milli"),
        (logit >= 0).alias("keep"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_logit)), 6).alias("score"),
    )


_HASHED_CLASSIFIER_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), w AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5('w|' || CAST(
               ('0x' || substr(md5(t), 1, 8))::UBIGINT % {buckets}
               AS VARCHAR)), 1, 8))::UBIGINT % 2001 AS BIGINT) - 1000 AS wt
    FROM tok
), per AS (
    SELECT doc_id, count(*) AS n_tokens,
           (sum(wt) + {bias})::BIGINT AS logit_milli
    FROM w GROUP BY doc_id
)
SELECT doc_id, n_tokens, logit_milli,
       logit_milli >= 0 AS keep,
       round(1.0 / (1.0 + exp(-(logit_milli / (1000.0 * n_tokens)))), 6) AS score
FROM per
"""


PMI_MIN_PAIR = 3  # collocation support floor: rarer pairs never emit


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining by pointwise mutual information:
    PMI(a,b) = log2( P(a,b) / (P(a)·P(b)) ) over adjacent-token bigrams,
    emitted for every pair with support >= PMI_MIN_PAIR (a count floor,
    never a float top-k — output is vocabulary-bounded and tie-free).

    Scale shape: two explode→groupBy pipelines (map-side partial combine),
    the two scalar totals fan out via broadcast, and the bigram→unigram
    count joins hash-partition on the term key. The unigram side is
    vocabulary-sized, not corpus-sized; the join is left unhinted so AQE
    sizes it (the PPJoin candidate-join precedent). The ratio multiplies
    in a fixed left-assoc double order so the oracle reproduces it
    bit-for-bit before the round(…, 6).
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(tokens(F.col("text")).alias("arr"))
    uni = (
        t.select(F.explode("arr").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    big = (
        t.select(F.explode(word_shingles(F.col("arr"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("cab"))
    )
    u_tot = uni.agg(F.sum("c").alias("u"))
    b_tot = big.agg(F.sum("cab").alias("n"))
    pairs = (
        big.where(F.col("cab") >= PMI_MIN_PAIR)
        .withColumn("term_a", F.split("g", " ").getItem(0))
        .withColumn("term_b", F.split("g", " ").getItem(1))
        .crossJoin(F.broadcast(u_tot))
        .crossJoin(F.broadcast(b_tot))
        .join(
            uni.select(F.col("term").alias("term_a"), F.col("c").alias("ca")),
            "term_a",
        )
        .join(
            uni.select(F.col("term").alias("term_b"), F.col("c").alias("cb")),
            "term_b",
        )
    )
    ratio = (F.col("cab").cast("double") * F.col("u") * F.col("u")) / (
        F.col("ca").cast("double") * F.col("cb") * F.col("n")
    )
    return pairs.select(
        "term_a",
        "term_b",
        F.col("cab").alias("pair_count"),
        F.col("ca").alias("count_a"),
        F.col("cb").alias("count_b"),
        F.round(F.log2(ratio), 6).alias("pmi_bits"),
    )


QUERIES = {
    "text_hashed_classifier": hashed_classifier,
    "text_pmi_collocations": pmi_collocations,
    "text_phrase_search": phrase_search,
    "text_substring_scrub": substring_scrub,
    "text_dup_ngrams": dup_ngrams,
    "text_intra_repetition": intra_doc_repetition,
    "text_bpe_train": bpe_train,
    "text_bm25_search": bm25_search,
    "text_hybrid_rrf": hybrid_rrf_search,
    "text_chunk_windows": chunk_windows,
    "text_char_entropy": char_entropy,
    "text_bigram_lm_score": bigram_lm_score,
    "text_kn_bigram_score": kn_bigram_score,
    "text_gopher_rules": gopher_rules,
    "text_dsir_weights": dsir_weights,
    "text_perplexity_buckets": perplexity_buckets,
    "text_boilerplate_scrub": boilerplate_scrub,
    "text_tfidf_top_terms": tfidf_top_terms,
    "text_inverted_index": inverted_index,
    "text_contamination_check": contamination_check,
    "text_repetition_metrics": repetition_metrics,
    "text_pii_scrub": pii_scrub_events,
    "text_top_terms": top_terms,
    "text_clean_corpus": clean_corpus,
    "text_token_stats": token_stats,
    "text_bpe_tokens": bpe_token_stats,
    "text_quality_score": quality_score,
    "text_language_id": language_id,
    "text_language_confusion": language_confusion,
    "text_fingerprint": fingerprint,
    "text_winnowing_fingerprints": winnowing_fingerprints,
}

_TOKS = TOKS_SQL


def _markers_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"len(list_filter({_TOKS}, t -> t IN ({words})))"


_STOPWORDS_SQL = _STOPWORDS_SQL_SHARED

# cluster CTEs shared with the dedup module (same signature/pair pipeline)
from ssiintegrateddatapipeline_spark.operators.dedup import (  # noqa: E402
    _PAIRS_CTE as _DEDUP_PAIRS_CTE,
    _SIG_CTE as _DEDUP_SIG_CTE,
)
from ssiintegrateddatapipeline_spark.sources.batch import local_frame

_CLEAN_CORPUS_ORACLE = f"""
    WITH RECURSIVE {_DEDUP_SIG_CTE}, {_DEDUP_PAIRS_CTE},
    edges AS (
        SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
        UNION ALL
        SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(doc_id, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    clusters AS (
        SELECT doc_id, min(root) AS cluster_id FROM reach GROUP BY doc_id
    ),
    lang AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   {_markers_sql("en")} AS en_markers,
                   {_markers_sql("de")} AS de_markers,
                   {_markers_sql("es")} AS es_markers,
                   {_markers_sql("fr")} AS fr_markers
            FROM documents
        )
        WHERE en_markers >= de_markers AND en_markers >= es_markers
          AND en_markers >= fr_markers
    ),
    qual AS (
        SELECT doc_id, {QUALITY_FORMULA_SQL} AS quality_score
        FROM (SELECT doc_id, {quality_terms_sql()} FROM documents)
        WHERE {QUALITY_FORMULA_SQL} >= {{min_quality}}
    ),
    keepers AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id, d.source, d.n_chars, q.quality_score
    FROM documents d
    JOIN lang USING (doc_id)
    JOIN keepers USING (doc_id)
    JOIN qual q USING (doc_id)
    LEFT JOIN clusters c USING (doc_id)
    WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id
"""

# Shared bigram-LM CTE chain: ends in perdoc(doc_id, n_bigrams,
# bits_per_bigram) — one source of truth for the LM-score and
# perplexity-bucket oracles (they must never desynchronize).
_BIGRAM_CTES_BASE = f"""t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        idx AS (
            SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t
        ),
        bi AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM idx),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2)"""

_BIGRAM_CTES = f"""{_BIGRAM_CTES_BASE},
        uc AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1),
        v AS (SELECT count(DISTINCT w2) AS v FROM bi),
        scored AS (
            SELECT bi.doc_id, log2((bc.c12 + 1) / (uc.c1 + v.v)) AS lp
            FROM bi
            JOIN bc USING (w1, w2)
            JOIN uc USING (w1)
            CROSS JOIN v
        ),
        perdoc AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   round(-sum(lp) / count(*), 6) AS bits_per_bigram
            FROM scored GROUP BY doc_id
        )"""

def _bpe_oracle() -> str:
    """Chained-CTE replay of the BPE training loop (the Lloyd-steps device
    from the IVF oracles): per step, a pair-count CTE, a 1-row argmax CTE
    with the same (count desc, a, b) tie-break, and a merge-application CTE
    using the identical space-doubling string expressions."""
    parts = [
        f"""w0 AS MATERIALIZED (
            SELECT array_to_string(regexp_extract_all(word, '.'), ' ')
                       || ' {BPE_EOW}' AS w,
                   freq
            FROM (SELECT word, count(*) AS freq
                  FROM (SELECT unnest({_TOKS}) AS word FROM documents)
                  WHERE word != '' GROUP BY word)
        )"""
    ]
    for t in range(BPE_MERGES):
        parts.append(
            f"""p{t} AS (
                SELECT s[i] AS a, s[i + 1] AS b, sum(freq) AS cnt
                FROM (SELECT string_split(w, ' ') AS s, freq,
                             unnest(generate_series(
                                 1, len(string_split(w, ' ')) - 1)) AS i
                      FROM w{t})
                GROUP BY 1, 2
            )"""
        )
        parts.append(
            f"b{t} AS MATERIALIZED (SELECT a, b, cnt FROM p{t} "
            f"ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(
            f"""w{t + 1} AS MATERIALIZED (
                SELECT trim(regexp_replace(
                    replace(
                        replace(' ' || w || ' ', ' ', '  '),
                        ' ' || (SELECT a FROM b{t}) || '  ' ||
                            (SELECT b FROM b{t}) || ' ',
                        ' ' || (SELECT a FROM b{t}) ||
                            (SELECT b FROM b{t}) || ' '),
                    ' +', ' ', 'g')) AS w, freq
                FROM w{t}
            )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {t + 1} AS merge_step, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, cnt::BIGINT AS pair_count FROM b{t}"
        for t in range(BPE_MERGES)
    )
    return "WITH " + ",\n".join(parts) + " " + selects


_PHRASE_VALUES = ", ".join(
    f"('{pid}', '{a}', '{b}')" for pid, a, b in PHRASE_QUERIES
)

ORACLES = {
    "text_hashed_classifier": _HASHED_CLASSIFIER_ORACLE.format(
        buckets=CLS_BUCKETS, bias=CLS_BIAS_MILLI
    ),
    "text_pmi_collocations": f"""
        WITH toks AS (
            SELECT string_split(text, ' ') AS arr FROM documents
        ),
        uni AS (
            SELECT t AS term, count(*)::BIGINT AS c
            FROM (SELECT unnest(arr) AS t FROM toks) GROUP BY 1
        ),
        utot AS (SELECT sum(c)::BIGINT AS u FROM uni),
        big AS (
            SELECT arr[i] AS term_a, arr[i + 1] AS term_b,
                   count(*)::BIGINT AS cab
            FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
                  FROM toks)
            GROUP BY 1, 2
        ),
        btot AS (SELECT sum(cab)::BIGINT AS n FROM big)
        SELECT b.term_a, b.term_b, b.cab AS pair_count,
               ua.c AS count_a, ub.c AS count_b,
               round(log2((b.cab::DOUBLE * u.u * u.u)
                          / (ua.c::DOUBLE * ub.c * t.n)), 6) AS pmi_bits
        FROM big b
        JOIN uni ua ON b.term_a = ua.term
        JOIN uni ub ON b.term_b = ub.term
        CROSS JOIN utot u CROSS JOIN btot t
        WHERE b.cab >= {PMI_MIN_PAIR}
    """,
    "text_phrase_search": f"""
        WITH p(phrase_id, term_a, term_b) AS (VALUES {_PHRASE_VALUES}),
        toks AS (
            SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        ),
        pos AS (
            SELECT doc_id, arr,
                   unnest(generate_series(1, len(arr) - 1)) AS i
            FROM toks
        ),
        hits AS (
            SELECT p.phrase_id, t.doc_id
            FROM pos t JOIN p
              ON t.arr[i] = p.term_a AND t.arr[i + 1] = p.term_b
        ),
        agg AS (
            SELECT phrase_id, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs,
                   min(doc_id) AS first_doc
            FROM hits GROUP BY 1
        )
        SELECT p.phrase_id, p.term_a || ' ' || p.term_b AS phrase,
               coalesce(a.n_occurrences, 0)::BIGINT AS n_occurrences,
               coalesce(a.n_docs, 0)::BIGINT AS n_docs,
               a.first_doc
        FROM p LEFT JOIN agg a USING (phrase_id)
    """,
    "text_substring_scrub": f"""
        WITH toks AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
        s8 AS (
            SELECT doc_id, toks,
                   list_transform(
                       generate_series(1, CASE WHEN len(toks) >= {SCRUB_K}
                                          THEN len(toks) - {SCRUB_K - 1}
                                          ELSE 0 END),
                       i -> {{'i': i,
                             'g': array_to_string(
                                 toks[i:i + {SCRUB_K - 1}], ' ')}}
                   ) AS gs
            FROM toks
        ),
        g2 AS (SELECT doc_id, unnest(gs) AS u FROM s8),
        grams AS (SELECT doc_id, u.i AS i, u.g AS g FROM g2),
        dup AS (
            SELECT g FROM grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= 2
        ),
        starts AS (SELECT doc_id, i FROM grams JOIN dup USING (g)),
        cov AS (
            SELECT doc_id,
                   count(DISTINCT i)::BIGINT AS n_dup_starts,
                   list_sort(list_distinct(flatten(
                       list(generate_series(i, i + {SCRUB_K - 1}))
                   ))) AS covered
            FROM starts GROUP BY doc_id
        )
        SELECT t.doc_id,
               len(t.toks)::BIGINT AS n_tokens,
               coalesce(c.n_dup_starts, 0)::BIGINT AS n_dup_starts,
               coalesce(len(c.covered), 0)::BIGINT AS n_removed,
               md5(coalesce(array_to_string(
                   list_filter(
                       list_transform(
                           generate_series(1, len(t.toks)),
                           j -> CASE WHEN c.covered IS NOT NULL
                                      AND list_contains(c.covered, j)
                                THEN NULL ELSE t.toks[j] END),
                       x -> x IS NOT NULL),
                   ' '), '')) AS clean_hash
        FROM toks t LEFT JOIN cov c USING (doc_id)
    """,
    "text_bpe_train": _bpe_oracle(),
    # query VALUES + k1/b literals derive from the module constants — one
    # source of truth with bm25_search (same device as the quality CTEs);
    # the ranked CTE chain is shared with the RRF fusion oracle below
    "text_bm25_search": f"""
        WITH {{bm25_cte}}
        SELECT query_id, doc_id, round(micro / 1000000, 6) AS bm25,
               n_terms_matched, rank
        FROM bm
    """,
    "text_hybrid_rrf": f"""
        WITH {{bm25_cte}},
        t AS (SELECT doc_id, {{quality_terms}} FROM documents),
        qual AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY {QUALITY_FORMULA_SQL} DESC,
                                      doc_id) AS quality_rank
            FROM t
        ),
        fused AS (
            SELECT bm.query_id, bm.doc_id,
                   bm.rank AS bm25_rank, qual.quality_rank,
                   round(1.0 / ({RRF_K} + bm.rank)
                         + 1.0 / ({RRF_K} + qual.quality_rank), 9)
                       AS rrf_score
            FROM bm JOIN qual USING (doc_id)
        )
        SELECT query_id, doc_id, CAST(fused_rank AS BIGINT) AS fused_rank,
               rrf_score, bm25_rank, CAST(quality_rank AS BIGINT)
                   AS quality_rank
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf_score DESC, doc_id)
                          AS fused_rank
            FROM fused
        ) WHERE fused_rank <= {RRF_TOP_K}
    """,
    "text_dup_ngrams": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - {DUP_NGRAM_N - 1}),
                       i -> array_to_string(
                           list_slice(t, i, i + {DUP_NGRAM_N - 1}), ' ')))
                       AS ngram
            FROM toks
        )
        SELECT ngram, count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM grams
        GROUP BY ngram
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, ngram ASC
        LIMIT {DUP_NGRAM_TOP_K}
    """,
    "text_intra_repetition": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - {INTRA_DUP_N - 1}),
                       i -> array_to_string(
                           list_slice(t, i, i + {INTRA_DUP_N - 1}), ' ')))
                       AS ngram
            FROM toks
        ),
        per_gram AS (
            SELECT doc_id, ngram, count(*) AS c, len(ngram) AS glen
            FROM grams GROUP BY doc_id, ngram
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                   AS dup_grams,
               round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE
                     / sum(c), 6) AS dup_fraction,
               round(sum(CASE WHEN c >= 2 THEN c * glen ELSE 0 END)::DOUBLE
                     / sum(c * glen), 6) AS dup_char_fraction
        FROM per_gram GROUP BY doc_id
    """,
    "text_chunk_windows": f"""
        WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
        st AS (
            SELECT doc_id, n,
                   unnest(generate_series(0, n - 1, {CHUNK_STRIDE})) AS s
            FROM t
        )
        SELECT doc_id, s // {CHUNK_STRIDE} AS chunk_idx, s AS start_token,
               least(s + {CHUNK_SIZE}, n) - s AS n_chunk_tokens
        FROM st
    """,
    "text_char_entropy": """
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
        ),
        c AS (
            SELECT doc_id, ch, count(*) AS c FROM ch
            WHERE ch != '' GROUP BY 1, 2
        ),
        e AS (
            SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS slc
            FROM c GROUP BY 1
        )
        SELECT doc_id, n::BIGINT AS n_chars,
               round(log2(n) - slc / n, 6) AS entropy_bits
        FROM e
    """,
    "text_kn_bigram_score": f"""
        WITH {_BIGRAM_CTES_BASE},
        ctx AS (SELECT w1, sum(c12)::BIGINT AS c1,
                       count(*)::BIGINT AS n1f FROM bc GROUP BY 1),
        cont AS (SELECT w2, count(*)::BIGINT AS n1b FROM bc GROUP BY 1),
        ty AS (SELECT count(*)::BIGINT AS ntypes FROM bc),
        scored AS (
            SELECT bi.doc_id,
                   log2((bc.c12 - {KN_DISCOUNT}
                         + {KN_DISCOUNT} * ctx.n1f * (cont.n1b / ty.ntypes))
                        / ctx.c1) AS lp
            FROM bi
            JOIN bc USING (w1, w2)
            JOIN ctx USING (w1)
            JOIN cont USING (w2)
            CROSS JOIN ty
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(-sum(lp) / count(*), 6) AS kn_bits_per_bigram
        FROM scored GROUP BY doc_id
    """,
    "text_bigram_lm_score": f"""
        WITH {_BIGRAM_CTES}
        SELECT doc_id, n_bigrams, bits_per_bigram FROM perdoc
    """,
    "text_gopher_rules": f"""
        WITH terms AS (
            SELECT len({_TOKS}) AS n,
                   list_sum(list_transform({_TOKS}, t -> len(t))) AS sum_len,
                   len(list_filter({_TOKS},
                       t -> t IN ({_STOPWORDS_SQL_SHARED}))) AS ns,
                   len(list_filter({_TOKS},
                       t -> regexp_matches(t, '[A-Za-z]'))) AS na,
                   len(list_distinct({_TOKS})) AS nd
            FROM documents
        ),
        flags AS (
            SELECT CASE WHEN n < 50 OR n > 100000 THEN 1 ELSE 0 END AS f1,
                   CASE WHEN sum_len < 3 * n OR sum_len > 10 * n
                        THEN 1 ELSE 0 END AS f2,
                   CASE WHEN ns < 2 THEN 1 ELSE 0 END AS f3,
                   CASE WHEN 5 * na < 4 * n THEN 1 ELSE 0 END AS f4,
                   CASE WHEN 5 * nd < n THEN 1 ELSE 0 END AS f5
            FROM terms
        )
        SELECT count(*) AS n_docs,
               sum(f1)::BIGINT AS fail_len,
               sum(f2)::BIGINT AS fail_word_len,
               sum(f3)::BIGINT AS fail_stopwords,
               sum(f4)::BIGINT AS fail_alpha,
               sum(f5)::BIGINT AS fail_ttr,
               sum(CASE WHEN f1 + f2 + f3 + f4 + f5 > 0 THEN 0 ELSE 1 END)
                   ::BIGINT AS pass_all
        FROM flags
    """,
    "text_dsir_weights": f"""
        WITH t AS (
            SELECT doc_id, lang = 'en' AS is_target, {_TOKS} AS toks
            FROM documents
        ),
        idx AS (
            SELECT doc_id, is_target, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t
        ),
        feats AS (
            SELECT doc_id, is_target,
                   (('0x' || substr(md5(toks[i] || ' ' || toks[i + 1]), 1, 8))
                    ::UBIGINT::BIGINT % {DSIR_BUCKETS}) AS f
            FROM idx
        ),
        per_f AS (
            SELECT f, count(*) AS c_raw,
                   sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_tgt
            FROM feats GROUP BY f
        ),
        totals AS (SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM per_f),
        tbl AS (
            SELECT f, log2((c_tgt + 1) / (n_tgt + {DSIR_BUCKETS}))
                      - log2((c_raw + 1) / (n_raw + {DSIR_BUCKETS})) AS lr
            FROM per_f CROSS JOIN totals
        )
        SELECT doc_id,
               max(CASE WHEN is_target THEN 1 ELSE 0 END) = 1 AS is_target,
               count(*) AS n_feats,
               round(sum(lr), 6) AS dsir_logratio,
               round(sum(lr) / count(*), 6) AS logratio_per_tok
        FROM feats JOIN tbl USING (f)
        GROUP BY doc_id
        ORDER BY logratio_per_tok DESC, doc_id ASC
        LIMIT {DSIR_SELECT_K}
    """,
    "text_perplexity_buckets": f"""
        WITH {_BIGRAM_CTES},
        bucketed AS (
            SELECT n_bigrams, bits_per_bigram,
                   ntile({PPL_BUCKETS}) OVER (
                       ORDER BY bits_per_bigram ASC, doc_id ASC) AS ppl_bucket
            FROM perdoc
        )
        SELECT ppl_bucket, count(*) AS n_docs,
               sum(n_bigrams)::BIGINT AS total_bigrams,
               min(bits_per_bigram) AS min_bits,
               max(bits_per_bigram) AS max_bits
        FROM bucketed GROUP BY ppl_bucket
    """,
    "text_boilerplate_scrub": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        seg_rows AS (
            SELECT doc_id, s.pos, s.seg FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(0, (len(t) + {SEG_WORDS - 1}) // {SEG_WORDS} - 1),
                           i -> {{pos: i, seg: array_to_string(
                                     t[(i * {SEG_WORDS} + 1):(i * {SEG_WORDS} + {SEG_WORDS})],
                                     ' ')}})) AS s
                FROM toks
            )
        ),
        boiler AS (
            SELECT seg FROM seg_rows
            GROUP BY seg HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
        ),
        kept AS (
            SELECT * FROM seg_rows WHERE seg NOT IN (SELECT seg FROM boiler)
        )
        SELECT doc_id, count(*) AS n_kept_segments,
               string_agg(seg, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    """,
    "text_contamination_check": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        raw AS (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, len(t) - {CONTAM_SHINGLE_K - 1}),
                       i -> array_to_string(t[i:i+{CONTAM_SHINGLE_K - 1}], ' ')
                   )) AS gram
            FROM toks
        ),
        sh AS (SELECT DISTINCT doc_id, gram FROM raw),
        ev AS (SELECT DISTINCT gram FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
        tr AS (SELECT doc_id, gram FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
        per AS (
            SELECT tr.doc_id, count(*) AS n_shingles,
                   sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_overlapping
            FROM tr LEFT JOIN ev ON tr.gram = ev.gram
            GROUP BY tr.doc_id
        )
        SELECT doc_id, n_shingles, n_overlapping,
               round(n_overlapping / n_shingles, 6) AS contamination_ratio
        FROM per WHERE n_overlapping > 0
    """,
    "text_repetition_metrics": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        uni AS (
            SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_count,
                   max(c * strlen(w)) AS top_word_chars,
                   sum(c * strlen(w)) AS total_word_chars
            FROM (SELECT doc_id, w, count(*) AS c
                  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
                  GROUP BY doc_id, w)
            GROUP BY doc_id
        ),
        big AS (
            SELECT doc_id, sum(c) AS n_bigrams,
                   count(*) AS n_distinct_bigrams, max(c) AS top_bigram_count
            FROM (SELECT doc_id, g, count(*) AS c
                  FROM (SELECT doc_id,
                               unnest(list_transform(generate_series(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+1], ' '))) AS g
                        FROM toks)
                  GROUP BY doc_id, g)
            GROUP BY doc_id
        )
        SELECT doc_id,
               round(top_word_count / n_words, 6) AS top_word_share,
               round(top_word_chars / total_word_chars, 6) AS top_word_char_frac,
               round(1 - n_distinct_bigrams / n_bigrams, 6) AS dup_bigram_frac,
               round(top_bigram_count / n_bigrams, 6) AS top_bigram_share
        FROM uni JOIN big USING (doc_id)
    """,
    "text_tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        filtered AS (
            SELECT doc_id, term FROM toks
            WHERE term NOT IN ({_STOPWORDS_SQL}) AND term != ''
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM filtered GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
            WHERE tf.doc_id % 25 = 0
        )
        SELECT doc_id, term, tf, df, tfidf, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    "text_inverted_index": f"""
        WITH toks AS (
            SELECT DISTINCT unnest({_TOKS}) AS term, doc_id FROM documents
        ),
        filtered AS (
            SELECT term, doc_id FROM toks
            WHERE term NOT IN ({_STOPWORDS_SQL}) AND term != ''
        )
        SELECT term, count(*) AS doc_freq,
               (list_sort(list(doc_id)))[1:50] AS postings_head
        FROM filtered GROUP BY term
    """,
    "text_pii_scrub": r"""
        WITH planted AS (
            SELECT event_id, user_id,
                   'reach me'
                   || CASE WHEN user_id % 3 = 0
                           THEN ' at user' || cast(user_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN user_id % 5 = 0
                           THEN ' or +1-555-' || lpad(cast(user_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS note
            FROM events
        ),
        scrubbed AS (
            SELECT user_id,
                   len(regexp_extract_all(note, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+'))
                       AS n_emails,
                   len(regexp_extract_all(note, '\+1-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]'))
                       AS n_phones,
                   regexp_replace(
                       regexp_replace(note, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z][a-z]+',
                                      '[EMAIL]', 'g'),
                       '\+1-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]', '[PHONE]', 'g')
                       AS note
            FROM planted
        )
        SELECT user_id, count(*) AS n_notes,
               sum(n_emails)::BIGINT AS emails_redacted,
               sum(n_phones)::BIGINT AS phones_redacted,
               max(note) AS sample_scrubbed
        FROM scrubbed GROUP BY user_id
    """,
    "text_top_terms": f"""
        SELECT term, doc_freq, total_occurrences FROM (
            SELECT term,
                   count(DISTINCT doc_id) AS doc_freq,
                   count(*) AS total_occurrences
            FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM documents)
            WHERE term NOT IN ({_STOPWORDS_SQL}) AND term <> ''
            GROUP BY term
        )
        ORDER BY doc_freq DESC, total_occurrences DESC, term
        LIMIT 20
    """,
    "text_clean_corpus": _CLEAN_CORPUS_ORACLE.format(min_quality=CLEAN_MIN_QUALITY),
    "text_token_stats": f"""
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               len(list_distinct({_TOKS})) AS n_distinct_tokens,
               strlen(text) AS n_chars_measured,
               round(strlen(replace(text, ' ', '')) / len({_TOKS}), 6) AS avg_token_len
        FROM documents
    """,
    "text_bpe_tokens": r"""
        WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS pieces,
                   len(string_split(text, ' ')) AS n_ws
            FROM documents
        )
        SELECT doc_id,
               len(pieces) AS n_bpe_tokens,
               len(list_filter(pieces, p -> regexp_matches(p, '^[A-Za-z]+$')))
                   AS n_word_pieces,
               len(list_filter(pieces, p -> regexp_matches(p, '^[0-9]+$')))
                   AS n_number_pieces,
               len(pieces)
                 - len(list_filter(pieces, p -> regexp_matches(p, '^[A-Za-z]+$')))
                 - len(list_filter(pieces, p -> regexp_matches(p, '^[0-9]+$')))
                   AS n_punct_pieces,
               round(len(pieces) / n_ws, 6) AS bpe_to_whitespace_ratio
        FROM t
    """,
    "text_quality_score": f"""
        WITH t AS (
            SELECT doc_id, {quality_terms_sql()} FROM documents
        )
        SELECT doc_id,
               round(nd / n, 6) AS type_token_ratio,
               round(ns / n, 6) AS stopword_ratio,
               {QUALITY_FORMULA_SQL} AS quality_score
        FROM t
    """,
    "text_language_confusion": f"""
        WITH t AS (
            SELECT lang AS labeled_lang,
                   {_markers_sql("en")} AS en_markers,
                   {_markers_sql("de")} AS de_markers,
                   {_markers_sql("es")} AS es_markers,
                   {_markers_sql("fr")} AS fr_markers
            FROM documents
        ),
        pred AS (
            SELECT labeled_lang,
                   CASE WHEN en_markers >= de_markers
                             AND en_markers >= es_markers
                             AND en_markers >= fr_markers THEN 'en'
                        WHEN de_markers >= es_markers
                             AND de_markers >= fr_markers THEN 'de'
                        WHEN es_markers >= fr_markers THEN 'es'
                        ELSE 'fr' END AS predicted_lang
            FROM t
        ),
        cells AS (
            SELECT labeled_lang, predicted_lang, count(*) AS n_docs
            FROM pred GROUP BY 1, 2
        ),
        totals AS (
            SELECT labeled_lang,
                   sum(n_docs) AS n_labeled,
                   sum(CASE WHEN predicted_lang = labeled_lang
                            THEN n_docs ELSE 0 END) AS n_correct
            FROM cells GROUP BY 1
        )
        SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
               ((t.n_correct * 2000000 + t.n_labeled)
                // (t.n_labeled * 2)) / 1000000.0 AS label_recall
        FROM cells c JOIN totals t USING (labeled_lang)
    """,
    "text_language_id": f"""
        WITH t AS (
            SELECT doc_id, lang AS labeled_lang,
                   {_markers_sql("en")} AS en_markers,
                   {_markers_sql("de")} AS de_markers,
                   {_markers_sql("es")} AS es_markers,
                   {_markers_sql("fr")} AS fr_markers
            FROM documents
        )
        SELECT doc_id, labeled_lang,
               CASE WHEN en_markers >= de_markers AND en_markers >= es_markers
                         AND en_markers >= fr_markers THEN 'en'
                    WHEN de_markers >= es_markers AND de_markers >= fr_markers THEN 'de'
                    WHEN es_markers >= fr_markers THEN 'es'
                    ELSE 'fr' END AS predicted_lang,
               en_markers, de_markers, es_markers, fr_markers
        FROM t
    """,
    "text_winnowing_fingerprints": f"""
        WITH grams AS (
            SELECT doc_id, p,
                   (ascii(substr(text, p, 1)) * 4362470401
                    + ascii(substr(text, p + 1, 1)) * 16974593
                    + ascii(substr(text, p + 2, 1)) * 66049
                    + ascii(substr(text, p + 3, 1)) * 257
                    + ascii(substr(text, p + 4, 1))) % 1048576 AS h
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - {WINNOW_K - 1}))
                           AS p
                FROM documents
                WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
            )
        ),
        wins AS (
            SELECT doc_id, p,
                   min(h * {1 << _POS_BITS} + ({(1 << _POS_BITS) - 1} - p))
                       OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                      AND CURRENT ROW) AS wmin
            FROM grams
            QUALIFY p >= {WINNOW_W}
        ),
        sel AS (SELECT DISTINCT doc_id, wmin FROM wins),
        kg AS (SELECT doc_id, max(p) AS n_kgrams FROM wins GROUP BY doc_id)
        SELECT k.doc_id, k.n_kgrams,
               count(*) AS n_fingerprints,
               sum(s.wmin >> {_POS_BITS})::BIGINT AS fp_sum,
               min(s.wmin >> {_POS_BITS}) AS fp_min,
               max(s.wmin >> {_POS_BITS}) AS fp_max
        FROM sel s JOIN kg k USING (doc_id)
        GROUP BY 1, 2
    """,
    "text_fingerprint": f"""
        WITH t AS (
            SELECT doc_id, {_TOKS} AS toks FROM documents
        )
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fingerprint,
               list_min(list_transform(
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                   sh -> ('0x' || substr(md5('0|' || sh), 1, 8))::UBIGINT::BIGINT
               )) AS shingle_fingerprint
        FROM t
    """,
}

# Shared BM25 ranked-candidate CTE chain (ends in `bm`): one source of
# truth for the lexical oracle and the RRF fusion oracle.
_BM25_CTE = (
    "q(query_id, term) AS (VALUES "
    + ", ".join(
        f"('{qid}', '{t}')"
        for qid, ts in sorted(BM25_QUERIES.items())
        for t in ts
    )
    + f"""),
        dl AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
        stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks
            WHERE term IN (SELECT DISTINCT term FROM q)
            GROUP BY doc_id, term
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(round(
                       round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)), 12)
                       * ((tf.tf * {BM25_K1 + 1}) /
                          (tf.tf + {BM25_K1} * ({1 - BM25_B} +
                               ({BM25_B} * dl.dl) / s.avgdl)))
                       * 1000000) AS BIGINT) AS micro
            FROM q
            JOIN tf USING (term)
            JOIN df USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
        ),
        per_doc AS (
            SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS micro,
                   count(*) AS n_terms_matched
            FROM scored GROUP BY query_id, doc_id
        ),
        bm AS (
            SELECT query_id, doc_id, micro, n_terms_matched, rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY micro DESC, doc_id)
                              AS rank
                FROM per_doc
            ) WHERE rank <= {BM25_TOP_K}
        )"""
)

for _k in ("text_bm25_search", "text_hybrid_rrf"):
    ORACLES[_k] = ORACLES[_k].format(
        bm25_cte=_BM25_CTE, quality_terms=quality_terms_sql()
    )
del _k
