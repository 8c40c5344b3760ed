"""Cache lifecycle: the session caches (`sources/batch._LOAD_MEMO` and the
call-scoped persists enrolled through `caches.track`) must have an
eviction path — a long-lived session sweeping many datasets must not
accumulate persisted DataFrames. `caches.clear_caches` is that path;
these tests pin that a two-dataset sweep returns the persistent-RDD census
to its pre-sweep baseline after eviction (no growth), and that only the
six documented caches are registered: no session memo keeps a query's
plan, result, model, index or stream drive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ssiintegrateddatapipeline_spark import caches
from ssiintegrateddatapipeline_spark.caches import clear_caches
from ssiintegrateddatapipeline_spark.functions import twophase
from ssiintegrateddatapipeline_spark.operators import dedup, store
from ssiintegrateddatapipeline_spark.sources import batch, files
from ssiintegrateddatapipeline_spark.streaming import pipeline

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _sweep(spark, sf_dirs) -> None:
    for sf in sf_dirs:
        batch.load_table(spark, sf, "documents")
        dedup.minhash_lsh_pairs(spark, sf).count()  # materialize the sig persist
    # call-scoped persists (caches.track): signature/candidate frames that
    # back returned plans and previously leaked one persist per invocation
    dedup.simhash_near_dup_pairs(spark, SF_A).count()
    dedup.near_dup_clusters(spark, SF_A).count()


def test_two_dataset_sweep_shows_no_growth_after_eviction(spark):
    clear_caches(spark)  # start from a known-clean registry
    baseline = _n_persisted(spark)

    _sweep(spark, [SF_A, SF_B])
    assert _n_persisted(spark) > baseline, "sweep should persist signatures"
    assert len(batch._LOAD_MEMO) >= 2

    dropped = clear_caches(spark)
    assert dropped > 0
    assert _n_persisted(spark) == baseline

    # second sweep + eviction: still no growth (the leak the VERDICT named)
    _sweep(spark, [SF_A, SF_B])
    clear_caches(spark)
    assert _n_persisted(spark) == baseline
    assert not batch._LOAD_MEMO


def test_load_memo_rebuilds_after_eviction(spark):
    a = batch.load_table(spark, SF_A, "events")
    clear_caches(spark)
    b = batch.load_table(spark, SF_A, "events")
    assert a.schema == b.schema and b.count() > 0


def test_twophase_ranks_same_schema_inputs_independently(spark):
    """Two LocalRelations with identical schemas but different data must
    get their own offset tables and ranks."""
    df1 = spark.createDataFrame([(1, 5), (2, 3)], "id int, value int")
    df2 = spark.createDataFrame([(1, 7), (2, 9), (3, 1)], "id int, value int")
    r1, n1 = twophase.two_phase_row_number(
        df1, F.col("value"), [F.col("value"), F.col("id")]
    )
    r2, n2 = twophase.two_phase_row_number(
        df2, F.col("value"), [F.col("value"), F.col("id")]
    )
    assert (n1, n2) == (2, 3)
    assert {r.id: r.global_pos for r in r1.collect()} == {2: 1, 1: 2}
    assert {r.id: r.global_pos for r in r2.collect()} == {3: 1, 1: 2, 2: 3}


def test_twophase_null_bucket_raises(spark):
    df = spark.createDataFrame([(1, 5), (2, None)], "id int, value int")
    with pytest.raises(ValueError, match="NULL"):
        twophase.two_phase_row_number(
            df, F.col("value"), [F.col("value"), F.col("id")]
        )


def test_twophase_rank_is_long(spark):
    df = spark.createDataFrame([(1, 5)], "id int, value int")
    ranked, _ = twophase.two_phase_row_number(
        df, F.col("value"), [F.col("value"), F.col("id")]
    )
    assert dict(ranked.dtypes)["global_pos"] == "bigint"


def test_track_reinvocation_replaces_instead_of_appending(spark):
    """A re-invocation of the same operator (bench's median-of-3) must
    reuse ONE tracked entry per plan — not append a new reference per
    run — while the returned plans keep reading live cached data (no
    unpersist of the CacheManager-shared entry)."""
    from ssiintegrateddatapipeline_spark import caches

    clear_caches(spark)
    dedup.simhash_near_dup_pairs(spark, SF_A).count()
    n1 = len(caches._EPHEMERAL)
    persisted1 = _n_persisted(spark)
    for _ in range(2):  # two re-invocations of the identical plan
        df = dedup.simhash_near_dup_pairs(spark, SF_A)
        df.count()
    assert len(caches._EPHEMERAL) == n1  # replaced, not appended
    assert _n_persisted(spark) == persisted1  # one shared cache entry
    clear_caches(spark)


def test_built_store_builds_once_under_concurrent_first_callers(spark):
    """r10 verdict #5: the store fleet's check-then-build is locked — two
    (here four) concurrent FIRST callers must produce exactly ONE build
    (one scratch root), all receiving the same dict."""
    from concurrent.futures import ThreadPoolExecutor

    import ssiintegrateddatapipeline_spark.operators.store as S
    from tests.conftest import SF_DIR

    key = (spark.sparkContext.applicationId, SF_DIR)
    S._STORE_CACHE.pop(key, None)  # force a cold build for this test
    real_mkdtemp = S.tempfile.mkdtemp
    roots = []

    def counting(*a, **kw):
        if kw.get("prefix") == "ssi_store_":
            roots.append(1)
        return real_mkdtemp(*a, **kw)

    S.tempfile.mkdtemp = counting
    try:
        with ThreadPoolExecutor(max_workers=4) as ex:
            outs = list(
                ex.map(lambda _: S._built_store(spark, SF_DIR), range(4))
            )
    finally:
        S.tempfile.mkdtemp = real_mkdtemp
    assert len(roots) == 1  # the fleet was built exactly once
    assert all(o is outs[0] for o in outs)


def test_registry_holds_only_the_kept_caches():
    """Exactly five registered caches remain (see the caches module
    docstring for why each stays), and queries() hands out each module's
    own callable — no prepared-plan wrapper between caller and query."""
    kept = [
        caches._EPHEMERAL,
        batch._LOAD_MEMO,
        files._RT_CACHE,
        pipeline._ONLINE_STAGE_CACHE,
        store._STORE_CACHE,
    ]
    registered = [cache for cache, _ in caches._REGISTRY]
    assert sorted(map(id, registered)) == sorted(map(id, kept))

    q = entry_mod.queries()
    for mod in entry_mod._MODULES:
        for name, fn in mod.QUERIES.items():
            assert q[name] is fn, name
