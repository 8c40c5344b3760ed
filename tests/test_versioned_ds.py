"""Catalyst-integrated versioned-table reads (sources/versioned_ds.py):
filter pushdown file cuts, Arrow read path (partition restore + schema
evolution null-fill), time travel through options, and the streaming CDF
source's per-version batches + checkpoint resume."""

from __future__ import annotations

import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThanOrEqual,
)

from ssiintegrateddatapipeline_spark.sources.batch import local_frame
from ssiintegrateddatapipeline_spark.sources.versioned import VersionedTable
from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
    VersionedCdfDataSource,
    _VersionedReader,
    ensure_registered,
    read_versioned,
)

SCHEMA = "k bigint, v string, n bigint"


@pytest.fixture()
def table(spark, tmp_path):
    rows = [(i, f"v{i}", 1000 + i) for i in range(30)]
    return VersionedTable.create(
        spark,
        str(tmp_path / "t"),
        local_frame(spark, rows, SCHEMA),
        key="k",
        target_rows_per_file=10,
        stats_cols=["n"],
        bloom_by="v",
    )


def test_pushfilters_cuts_files_and_returns_all(table):
    r = _VersionedReader({"path": table.path})
    assert r.files_total == 3
    fs = [GreaterThanOrEqual(("k",), 12), LessThanOrEqual(("k",), 17)]
    returned = list(r.pushFilters(fs))
    assert returned == fs  # file-granular: Spark must re-apply row-level
    assert len(r.partitions()) == 1  # only the [10,19] file survives

    r2 = _VersionedReader({"path": table.path})
    r2.pushFilters([EqualTo(("n",), 1025)])  # declared stats column
    assert len(r2.partitions()) == 1
    r3 = _VersionedReader({"path": table.path})
    r3.pushFilters([EqualTo(("v",), "v7")])  # bloom column
    assert len(r3.partitions()) < 3
    r4 = _VersionedReader({"path": table.path})
    r4.pushFilters([In(("k",), (3, 23))])
    assert len(r4.partitions()) == 2
    # unsupported / unknown-column filters: no cut, no error
    r5 = _VersionedReader({"path": table.path})
    r5.pushFilters([IsNotNull(("k",)), EqualTo(("v",), 3.5)])
    assert len(r5.partitions()) == 3
    # a range excluding every file opens nothing
    r6 = _VersionedReader({"path": table.path})
    r6.pushFilters([GreaterThanOrEqual(("k",), 1000)])
    assert len(r6.partitions()) == 0


def test_catalyst_read_matches_and_filters(spark, table):
    df = read_versioned(spark, table.path)
    assert df.count() == 30
    got = sorted(
        tuple(r) for r in df.where((F.col("k") >= 12) & (F.col("k") <= 17)).collect()
    )
    assert got == [(i, f"v{i}", 1000 + i) for i in range(12, 18)]
    # the pushed-but-returned filter is still applied row-level by Spark
    assert df.where(F.col("k") == 12).count() == 1


def test_datasource_time_travel_and_schema_evolution(spark, table):
    table.merge_into(
        local_frame(
            spark, [(2, "evolved", 7, 42)],
            "k bigint, v string, n bigint, extra bigint",
        ),
        key="k",
        allow_new_columns=True,
    )
    cur = read_versioned(spark, table.path)
    assert "extra" in cur.columns
    got = {r["k"]: r["extra"] for r in cur.collect()}
    assert got[2] == 42 and got[25] is None  # null-filled untouched file
    old = read_versioned(spark, table.path, version=1)
    assert "extra" not in old.columns and old.count() == 30


def test_datasource_partitioned_read_restores_column(spark, tmp_path):
    rows = [(i, "even" if i % 2 == 0 else "odd", i) for i in range(20)]
    t = VersionedTable.create(
        spark,
        str(tmp_path / "pt"),
        local_frame(spark, rows, "k bigint, par string, n bigint"),
        key="k",
        target_rows_per_file=5,
        partition_by="par",
    )
    df = read_versioned(spark, t.path)
    got = {r["k"]: r["par"] for r in df.collect()}
    assert len(got) == 20 and got[4] == "even" and got[7] == "odd"
    # partition-column equality cuts files at plan time
    r = _VersionedReader({"path": t.path})
    total = r.files_total
    r.pushFilters([EqualTo(("par",), "even")])
    assert 0 < len(r.partitions()) < total
    assert sorted(
        x["k"] for x in df.where(F.col("par") == "even").collect()
    ) == list(range(0, 20, 2))


def _drain_cdf(spark, path, latest, ckpt):
    name = f"cdf_t_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.table(name).where(F.col("_commit_version") == latest).count():
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    rows = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in spark.table(name).collect()
    )
    batch_id = (q.lastProgress or {}).get("batchId")
    spark.catalog.dropTempView(name)
    return rows, batch_id


def test_cdf_stream_emits_per_version_batches(spark, tmp_path):
    t = VersionedTable.create(
        spark,
        str(tmp_path / "ct"),
        local_frame(spark, [(i, f"v{i}", 1) for i in range(30)], SCHEMA),
        key="k",
        target_rows_per_file=10,
    )
    t.merge_into(
        local_frame(spark, [(1, "u1", 5), (100, "new", 1)], SCHEMA), key="k"
    )
    t.delete_where(F.col("k") == 15, key="k")
    ensure_registered(spark, VersionedCdfDataSource)
    rows, _batch_id = _drain_cdf(
        spark, t.path, 3, str(tmp_path / "ck")
    )
    by_v = {v: [(k, c) for k, c, vv in rows if vv == v] for v in (1, 2, 3)}
    assert len(by_v[1]) == 30 and all(c == "insert" for _, c in by_v[1])
    assert sorted(by_v[2]) == [(1, "update_postimage"), (100, "insert")]
    assert by_v[3] == [(15, "delete")]  # pre-image row, delete-typed


def test_cdf_stream_paces_live_commits_into_batches(spark, tmp_path):
    """Offset progression on a LIVE table: commits landing while the
    stream runs arrive in their own micro-batches (the catch-up batch
    after start is unpaced by design — restart safety — so progression
    is proven on commits made after the query starts)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "lt"),
        local_frame(spark, [(1, "a", 1)], SCHEMA),
        key="k",
    )
    ensure_registered(spark, VersionedCdfDataSource)
    batches: dict[int, list] = {}

    def emit(bdf, bid):
        rows = [
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in bdf.collect()
        ]
        if rows:
            batches[bid] = rows

    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", t.path)
        .load()
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and not any(
        v == 1 for b in batches.values() for _, _, v in b
    ):
        time.sleep(0.2)
    t.append(local_frame(spark, [(2, "b", 1)], SCHEMA), key="k")
    while time.time() < deadline and not any(
        v == 2 for b in batches.values() for _, _, v in b
    ):
        time.sleep(0.2)
    t.append(local_frame(spark, [(3, "c", 1)], SCHEMA), key="k")
    while time.time() < deadline and not any(
        v == 3 for b in batches.values() for _, _, v in b
    ):
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    got = sorted(r for b in batches.values() for r in b)
    assert got == [(1, "insert", 1), (2, "insert", 2), (3, "insert", 3)]
    # versions 2 and 3 were committed after their predecessors drained:
    # each landed in a LATER micro-batch (offsets really progressed)
    v_to_bid = {v: bid for bid, rows in batches.items() for _, _, v in rows}
    assert v_to_bid[1] < v_to_bid[2] < v_to_bid[3]


def test_cdf_multifile_commit_splits_into_range_groups(spark, tmp_path):
    """A multi-file commit's diff fans out: key-range-aligned (old, new)
    file-pair groups become separate InputPartitions, each diffed
    independently (the 100 TB path — per-task work tracks group size,
    not commit size), and the merged result is unchanged."""
    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        _VersionedCdfStreamReader,
    )

    t = VersionedTable.create(
        spark,
        str(tmp_path / "mt"),
        local_frame(spark, [(i, f"v{i}", 1) for i in range(40)], SCHEMA),
        key="k",
        target_rows_per_file=10,  # 4 files
    )
    # touch keys in EVERY file: the merge rewrites all 4 (multi-file commit)
    t.merge_into(
        local_frame(
            spark, [(i, "upd", 9) for i in (0, 11, 22, 33)], SCHEMA
        ),
        key="k",
    )
    r = _VersionedCdfStreamReader({"path": t.path})
    parts_v1 = r.partitions({"version": 0}, {"version": 1})
    parts_v2 = r.partitions({"version": 1}, {"version": 2})
    assert len(parts_v1) > 1  # create's 4 files -> >1 insert group
    assert len(parts_v2) > 1  # 4-file rewrite -> >1 (old, new) pair group
    # every group pairs old and new files covering the same key range
    for p in parts_v2:
        assert p.old_files and p.new_files
    rows = []
    for p in parts_v1 + parts_v2:
        for batch in r.read(p) or ():
            rows.extend(batch.to_pylist())
    got = sorted(
        (x["k"], x["_change_type"], x["_commit_version"]) for x in rows
    )
    expect = sorted(
        [(i, "insert", 1) for i in range(40)]
        + [(i, "update_postimage", 2) for i in (0, 11, 22, 33)]
    )
    assert got == expect


def test_cdf_duplicate_key_raises(spark, tmp_path):
    """Blind-appending an existing key makes the per-key diff ambiguous:
    the change feed refuses (raises) instead of silently dropping rows
    (round-10 advice)."""
    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        _VersionedCdfStreamReader,
    )

    t = VersionedTable.create(
        spark,
        str(tmp_path / "dt"),
        local_frame(spark, [(1, "a", 1), (2, "b", 1)], SCHEMA),
        key="k",
    )
    t.append(local_frame(spark, [(1, "dup", 2)], SCHEMA), key="k")
    t.compact("k", target_rows_per_file=10**9)  # rewrite: both copies of
    # k=1 land on the NEW side of v3's diff -> ambiguous
    r = _VersionedCdfStreamReader({"path": t.path})
    (p,) = r.partitions({"version": 2}, {"version": 3})
    with pytest.raises(ValueError, match="duplicate merge key"):
        list(r.read(p))


def test_cdf_stream_resumes_from_checkpoint(spark, tmp_path):
    """Offsets are table versions: a consumer drained to version V and
    restarted after more commits must emit ONLY the new versions (the
    memory sink can't recover a checkpoint, so the drains collect via
    foreachBatch — the recoverable-sink shape)."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "ct"),
        local_frame(spark, [(i, f"v{i}", 1) for i in range(10)], SCHEMA),
        key="k",
        target_rows_per_file=100,
    )
    ensure_registered(spark, VersionedCdfDataSource)
    ckpt = str(tmp_path / "ck")

    def drain(until_version):
        got = []

        def emit(bdf, _bid):
            got.extend(
                (r["k"], r["_change_type"], r["_commit_version"])
                for r in bdf.collect()
            )

        q = (
            spark.readStream.format("versioned_cdf")
            .option("path", t.path)
            .load()
            .writeStream.foreachBatch(emit)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(v == until_version for _, _, v in got):
                break
            time.sleep(0.2)
        # emit runs before the batch's commit-log entry is written; a stop
        # in between leaves the batch uncommitted, and the restart replays it
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        return sorted(got)

    rows_a = drain(1)
    assert len(rows_a) == 10  # v1 inserts
    t.merge_into(local_frame(spark, [(3, "upd", 9)], SCHEMA), key="k")
    # same checkpoint: only version 2's diff arrives, v1 never replays
    assert drain(2) == [(3, "update_postimage", 2)]


# ---------------------------------------------------------------------------
# declarative writer (df.write.format("versioned"))
# ---------------------------------------------------------------------------


def test_writer_create_append_records_stats_and_bloom(spark, tmp_path):
    from ssiintegrateddatapipeline_spark.sources.versioned import _bloom_build
    import pyarrow.parquet as pq

    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    path = str(tmp_path / "wt")
    df = local_frame(spark, [(i, f"v{i}", 1000 + i) for i in range(30)], SCHEMA)
    (
        df.repartitionByRange(3, "k")
        .write.format("versioned")
        .mode("overwrite")
        .option("path", path)
        .option("key", "k")
        .option("bloom_by", "v")
        .option("stats_cols", "n")
        .save()
    )
    t = VersionedTable(spark, path)
    assert t.key_column() == "k"
    assert t.bloom_column() == "v"
    assert t.stats_columns() == ("n",)
    adds = t._read_commit(1)["add"]
    assert len(adds) == 3  # one file per write task
    ranges = sorted((a["min_key"], a["max_key"]) for a in adds)
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # range partitioning -> tight disjoint stats
    # write-task stats == a reference pass over the final bytes
    for a in adds:
        tbl = pq.read_table(os.path.join(t.path, a["path"]))
        ks = tbl.column("k").to_pylist()
        assert (a["min_key"], a["max_key"]) == (min(ks), max(ks))
        assert a["stats"]["n"] == [
            min(tbl.column("n").to_pylist()),
            max(tbl.column("n").to_pylist()),
        ]
        assert a["bloom"] == _bloom_build(tbl.column("v").to_pylist())
    # blind append through the writer; bloom/stats keep working
    local_frame(spark, [(100, "x100", 5000)], SCHEMA).write.format(
        "versioned"
    ).mode("append").option("path", path).save()
    assert t.latest_version() == 2
    assert t.snapshot().count() == 31
    dfp, o, tot = t.point_scan("v", "x100")
    assert o < tot and [r["k"] for r in dfp.collect()] == [100]
    dfn, o2, _ = t.pruned_scan("n", 5000, 5000)
    assert o2 == 1 and [r["k"] for r in dfn.collect()] == [100]


def test_writer_overwrite_is_one_commit_with_history(spark, table):
    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    before = table.snapshot().count()
    local_frame(spark, [(7, "z", 1)], SCHEMA).write.format(
        "versioned"
    ).mode("overwrite").option("path", table.path).save()
    c = table._read_commit(2)
    assert c["op"] == "overwrite" and len(c["remove"]) == 3
    assert table.snapshot().count() == 1
    assert table.snapshot(version=1).count() == before  # time travel intact


def test_writer_guards(spark, tmp_path, table):
    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    df = local_frame(spark, [(1, "a", 1)], SCHEMA)
    with pytest.raises(Exception, match="append needs one"):
        df.write.format("versioned").mode("append").option(
            "path", str(tmp_path / "nope")
        ).save()
    with pytest.raises(Exception, match="'key' is required"):
        df.write.format("versioned").mode("overwrite").option(
            "path", str(tmp_path / "nokey")
        ).save()
    with pytest.raises(Exception, match="schema mismatch"):
        local_frame(spark, [(1, "a")], "k bigint, v string").write.format(
            "versioned"
        ).mode("append").option("path", table.path).save()


def test_writer_failed_job_leaves_table_unchanged(spark, table):
    """A task failure mid-job must never publish a commit: abort() (or
    the never-reached commit) leaves the log at its prior version and the
    staged orphans live under _tmp where vacuum() sweeps them."""
    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    before = sorted(map(tuple, table.snapshot().collect()))
    from pyspark.sql.functions import udf

    @udf("bigint")
    def boom(k):
        raise RuntimeError("task killed mid-write")

    bad = local_frame(spark, [(1, "a", 1)], SCHEMA).withColumn("n", boom("k"))
    with pytest.raises(Exception):
        bad.write.format("versioned").mode("append").option(
            "path", table.path
        ).save()
    assert table.latest_version() == 1
    assert sorted(map(tuple, table.snapshot().collect())) == before
    table.vacuum(retain_last=1)  # sweeps any staged orphans
    assert not os.path.exists(os.path.join(table.path, "_tmp"))


def test_datasource_reads_through_checkpointed_log(spark, tmp_path):
    """The DataSource planner resolves via the commit-log checkpoint: a
    table deeper than the checkpoint cadence reads correctly and pushdown
    still cuts files from the checkpoint-carried stats."""
    from ssiintegrateddatapipeline_spark.sources.versioned import (
        _CHECKPOINT_EVERY,
    )

    t = VersionedTable.create(
        spark,
        str(tmp_path / "dt"),
        local_frame(spark, [(0, "v0", 1)], SCHEMA),
        key="k",
    )
    for i in range(1, _CHECKPOINT_EVERY + 4):
        t.append(
            local_frame(spark, [(i * 10, f"v{i}", 1)], SCHEMA), key="k"
        )
    df = read_versioned(spark, t.path)
    assert df.count() == _CHECKPOINT_EVERY + 4
    r = _VersionedReader({"path": t.path})
    total = r.files_total
    r.pushFilters([EqualTo(("k",), 50)])
    assert len(r.partitions()) < total
    assert [x["v"] for x in df.where(F.col("k") == 50).collect()] == ["v5"]


def test_cdf_versions_per_batch_option(spark, tmp_path):
    """versionsPerBatch > 1 groups several commits into one micro-batch;
    rows keep their per-commit _commit_version tags either way."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "vt"),
        local_frame(spark, [(1, "a", 1)], SCHEMA),
        key="k",
    )
    t.append(local_frame(spark, [(2, "b", 1)], SCHEMA), key="k")
    t.append(local_frame(spark, [(3, "c", 1)], SCHEMA), key="k")
    ensure_registered(spark, VersionedCdfDataSource)
    got = []

    def emit(bdf, _bid):
        got.extend(
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in bdf.collect()
        )

    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", t.path)
        .option("versionsPerBatch", 10)
        .load()
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)  # one latestOffset snapshot covers all
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == [
        (1, "insert", 1),
        (2, "insert", 2),
        (3, "insert", 3),
    ]


def test_writer_partitioned_create_and_append(spark, tmp_path):
    """Round 11: declarative writes for hive-partitioned tables — each
    write task splits its Arrow batches by partition value (one staged
    file per (task, partition)), the commit message carries the value,
    and the read side restores the column + prunes partitions."""
    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    path = str(tmp_path / "pw")
    rows = [(i, "even" if i % 2 == 0 else "odd", i) for i in range(20)]
    (
        local_frame(spark, rows, "k bigint, par string, n bigint")
        .repartitionByRange(2, "k")
        .write.format("versioned")
        .mode("overwrite")
        .option("path", path)
        .option("key", "k")
        .option("partition_by", "par")
        .save()
    )
    t = VersionedTable(spark, path)
    assert t.partition_column() == "par"
    adds = t._read_commit(1)["add"]
    # 2 tasks x 2 partition values = 4 files, each carrying its value
    assert sorted({a.get("partition") for a in adds}) == ["even", "odd"]
    assert len(adds) == 4
    # partition column lives in the log, NOT the parquet bytes
    import pyarrow.parquet as pq
    for a in adds:
        assert "par" not in pq.read_schema(
            os.path.join(t.path, a["path"])
        ).names
    df = read_versioned(spark, t.path)
    got = {r["k"]: r["par"] for r in df.collect()}
    assert len(got) == 20 and got[4] == "even" and got[7] == "odd"
    # plan-time partition pruning through pushFilters
    r = _VersionedReader({"path": t.path})
    total = r.files_total
    r.pushFilters([EqualTo(("par",), "odd")])
    assert 0 < len(r.partitions()) < total
    # bespoke partition_scan agrees with the declarative read
    dfp, opened, tot = t.partition_scan("even")
    assert opened < tot
    assert sorted(x["k"] for x in dfp.collect()) == list(range(0, 20, 2))
    # blind append through the writer, including a NULL partition value
    local_frame(
        spark, [(100, None, 1), (101, "even", 1)],
        "k bigint, par string, n bigint",
    ).write.format("versioned").mode("append").option("path", path).save()
    assert t.latest_version() == 2
    snap = {r["k"]: r["par"] for r in t.snapshot().collect()}
    assert len(snap) == 22 and snap[100] is None and snap[101] == "even"


def test_writer_create_validation_mirrors_batch_api(spark, tmp_path):
    """Round-10 advice: the DSv2 create path enforces the same type/
    column validation as VersionedTable.create — at PLAN time, not deep
    in a write task."""
    ensure_registered(spark, __import__(
        "ssiintegrateddatapipeline_spark.sources.versioned_ds",
        fromlist=["VersionedDataSource"]).VersionedDataSource)
    df = local_frame(
        spark, [(1, "a", 1.5)], "k bigint, v string, f double"
    )

    def w(**opts):
        wr = df.write.format("versioned").mode("overwrite").option(
            "path", str(tmp_path / "bad")
        ).option("key", "k")
        for k_, v_ in opts.items():
            wr = wr.option(k_, v_)
        wr.save()

    with pytest.raises(Exception, match="must be integer or string"):
        w(bloom_by="f")  # float bloom -> false-negative risk
    with pytest.raises(Exception, match="must be numeric or string"):
        local_frame(
            spark, [(1, True)], "k bigint, b boolean"
        ).write.format("versioned").mode("overwrite").option(
            "path", str(tmp_path / "bad2")
        ).option("key", "k").option("stats_cols", "b").save()
    with pytest.raises(Exception, match="bloom_by == partition_by"):
        w(bloom_by="v", partition_by="v")
    with pytest.raises(Exception, match="not in"):
        w(bloom_by="nope")
    with pytest.raises(Exception, match="must be integer or string"):
        w(partition_by="f")
    with pytest.raises(Exception, match="partition_by == key"):
        w(partition_by="k")
    # a TYPE change into an existing table raises at plan time (advice #4)
    good = str(tmp_path / "good")
    df.write.format("versioned").mode("overwrite").option(
        "path", good
    ).option("key", "k").save()
    with pytest.raises(Exception, match="schema mismatch"):
        local_frame(
            spark, [(1, "a", 2)], "k bigint, v string, f bigint"
        ).write.format("versioned").mode("append").option("path", good).save()


def test_writer_concurrent_appends_race_cleanly(spark, tmp_path):
    """Write-write conflict torture (r10 verdict #6): two concurrent
    declarative appends race the same table's link(2) commit slot — both
    must land (disjoint versions, retry on CommitConflict), no rows or
    files lost. 10 rounds -> 21 versions, 20+1 rows."""
    from concurrent.futures import ThreadPoolExecutor

    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        VersionedDataSource,
        activate_session,
    )

    ensure_registered(spark, VersionedDataSource)
    path = str(tmp_path / "race")
    local_frame(spark, [(0, "seed", 0)], SCHEMA).write.format(
        "versioned"
    ).mode("overwrite").option("path", path).option("key", "k").save()

    def append(k):
        activate_session(spark)  # pool thread: pin the JVM active session
        local_frame(spark, [(k, f"w{k}", k)], SCHEMA).write.format(
            "versioned"
        ).mode("append").option("path", path).save()

    with ThreadPoolExecutor(max_workers=2) as ex:
        for round_ in range(10):
            a = ex.submit(append, 2 * round_ + 1)
            b = ex.submit(append, 2 * round_ + 2)
            a.result()
            b.result()
    t = VersionedTable(spark, path)
    assert t.latest_version() == 21  # every append claimed its own slot
    assert sorted(r["k"] for r in t.snapshot().collect()) == list(range(21))
    # the log references exactly the files on disk (no loss, no orphans)
    live = t._resolve()[1]
    on_disk = set(os.listdir(os.path.join(path, "data")))
    assert {os.path.basename(p) for p in live} == on_disk


def test_cdf_starting_version_skips_history(spark, tmp_path):
    """Delta readChangeFeed parity: option("startingVersion", N) positions
    a fresh query's first offset at N-1, so versions below N never emit."""
    t = VersionedTable.create(
        spark,
        str(tmp_path / "sv"),
        local_frame(spark, [(1, "a", 1)], SCHEMA),
        key="k",
    )
    t.append(local_frame(spark, [(2, "b", 1)], SCHEMA), key="k")
    t.append(local_frame(spark, [(3, "c", 1)], SCHEMA), key="k")
    ensure_registered(spark, VersionedCdfDataSource)
    got = []

    def emit(bdf, _bid):
        got.extend(
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in bdf.collect()
        )

    q = (
        spark.readStream.format("versioned_cdf")
        .option("path", t.path)
        .option("startingVersion", 2)
        .load()
        .writeStream.foreachBatch(emit)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got) == [(2, "insert", 2), (3, "insert", 3)]
    with pytest.raises(Exception, match="startingVersion"):
        from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
            _VersionedCdfStreamReader,
        )

        _VersionedCdfStreamReader({"path": t.path, "startingversion": "0"})


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF (Delta parity): commits carry a wall-clock ts_ms;
    version_at / snapshot(as_of_ts_ms) / option("timestamp") resolve the
    latest version at-or-before the probe."""
    import time as _t

    t = VersionedTable.create(
        spark,
        str(tmp_path / "tt"),
        local_frame(spark, [(1, "a", 1)], SCHEMA),
        key="k",
    )
    _t.sleep(0.05)
    t.append(local_frame(spark, [(2, "b", 1)], SCHEMA), key="k")
    ts1 = t._read_commit(1)["ts_ms"]
    ts2 = t._read_commit(2)["ts_ms"]
    assert ts1 < ts2
    assert t.version_at(ts1) == 1
    assert t.version_at(ts2) == 2
    assert t.version_at(ts2 + 10_000) == 2  # future probe -> latest
    with pytest.raises(Exception, match="no commit at or before"):
        t.version_at(ts1 - 1)
    assert t.snapshot(as_of_ts_ms=ts1).count() == 1
    assert t.snapshot(as_of_ts_ms=ts2).count() == 2
    with pytest.raises(ValueError, match="not both"):
        t.snapshot(version=1, as_of_ts_ms=ts1)
    # declarative surface: option("timestamp") == option("version")
    assert read_versioned(spark, t.path, timestamp_ms=ts1).count() == 1
    assert read_versioned(spark, t.path, timestamp_ms=ts2).count() == 2
    with pytest.raises(Exception, match="mutually exclusive"):
        read_versioned(
            spark, t.path, version=1, timestamp_ms=ts1
        ).count()
