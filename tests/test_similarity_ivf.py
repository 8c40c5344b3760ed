"""IVF ANN quality: probe search must find most of the true neighbors
(recall vs the brute-force baseline), and every vector must land in
exactly one inverted list."""

from __future__ import annotations

from ssiintegrateddatapipeline_spark.operators import similarity as S


def test_every_vector_assigned_once(spark, sf_dir):
    assigned = S.ivf_assignments(spark, sf_dir)
    total = assigned.count()
    emb_total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert total == emb_total
    stats = S.ivf_centroid_stats(spark, sf_dir).collect()
    assert sum(r["list_size"] for r in stats) == emb_total
    assert all(1 <= r["centroid"] <= S.N_CENTROIDS for r in stats)


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"]) for r in S.ivf_topk(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    # random-centroid IVF probing 3/8 lists: recall above the ~37.5%
    # random-chance floor demonstrates the quantizer is doing its job
    assert recall >= 0.45, f"recall {recall:.2f}"


def test_trained_codebook_deterministic_and_cached(spark, sf_dir):
    from ssiintegrateddatapipeline_spark.operators import similarity as S

    c1 = S._trained_centroids(spark, sf_dir)
    c2 = S._trained_centroids(spark, sf_dir)
    assert c1 == c2  # deterministic refit
    assert len(c1) == S.N_CENTROIDS
    # training moved the codebook off the seed, deterministically
    seed = S._centroid_literals(len(c1[0]))
    assert c1 != seed


def test_trained_recall_beats_seed_floor(spark, sf_dir):
    from pyspark.sql import functions as F

    from ssiintegrateddatapipeline_spark.operators import similarity as S

    r = S.ivf_recall(spark, sf_dir).agg(F.avg("recall_at_k")).first()[0]
    # measured: seed centroids + 3 probes gave 0.56-0.62; trained + 4
    # probes gives 0.74 at sf0.001 and sf0.01 — pin a floor above seed
    assert r >= 0.70
