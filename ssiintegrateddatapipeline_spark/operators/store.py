"""Contract queries for the versioned table format (sources/versioned.py).

The reference's credential store is a durable mutable table under a MERGE
surface (SURVEY §1.1; veramo-agent/src/config/database.config.ts:48-74).
These queries drive the commit-log format end-to-end against the events
log and prove, via DuckDB full-rebuild oracles, the warehouse-grade
properties:

- ``store_merge_snapshot``: create + two MERGE batches folded
  incrementally (matched rows COMBINE via ``when_matched`` — running
  n_events — not just last-writer-wins) must equal the one-shot rebuild
  over the whole log. apply == rebuild, now through a durable table.
- ``store_time_travel``: a snapshot pinned at version 2 must equal the
  rebuild over the log PREFIX — i.e. history reads are reproducible and
  isolated from later commits.
- ``store_erasure_vacuum``: delete_where on the gdpr cohort
  (transform.ERASE_MOD) followed by vacuum() must leave zero cohort rows
  logically AND physically (files removed, pre-delete history pruned) —
  the audit row carries both the data-side counts (oracle-checked) and
  the engine-observed physical facts.
- ``store_compaction`` (r9): OPTIMIZE bin-packs a fragmented table into
  one commit; the data must be value-identical to the rebuild and time
  travel across the compaction boundary must stay readable.
- ``store_stats_pruning`` (r9): a key-range read decided purely against
  the log's per-file min/max stats (files never opened) must return
  exactly the filtered rebuild — data skipping without a data scan.
- ``store_change_feed`` (r9): the row-level CDF between versions 2 and 3,
  computed file-confined (only added/removed files read), must equal the
  value diff of the two prefix rebuilds.
- ``store_schema_evolution`` (r9): a MERGE carrying a new column widens
  the schema as metadata only; untouched rows read back null-filled and
  the final state equals the two-phase rebuild with the new column
  attached only where the update supplied it.

Build shape: the table builds run once per (session, sf_dir) and are
memoized (the sources/files.py roundtrip-staging precedent); each query
then reads its snapshot lazily. Batches are latest-per-user folds of
disjoint event_id ranges, so merging them in order is semantically the
full-log fold — which is exactly what the oracles recompute as CTEs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.caches import register
from ssiintegrateddatapipeline_spark.operators.transform import ERASE_MOD
from ssiintegrateddatapipeline_spark.sources.batch import load_table
from ssiintegrateddatapipeline_spark.sources.versioned import (
    VersionedTable,
    VersionPrunedError,
)

# events is a seq-ordered mutation log: event_id is the global sequence.
# Batch boundaries are integer fractions of max(event_id) so the oracle
# can recompute them in SQL with identical arithmetic (// = floor, both
# engines, non-negative ids).
_CUT1_NUM, _CUT2_NUM = 4, 7  # /10 each → batches [0,40%), [40,70%), [70,100%]
# stats-pruning probe range: the middle [30%, 50%] of the key space
_SCAN_LO_NUM, _SCAN_HI_NUM = 3, 5
_N_FILES = 8  # target live-file count per table at every SF (multi-file
# layouts keep merge pruning / compaction / data skipping honest even at
# sf0.001's 15 users)

_STORE_CACHE: dict[tuple, dict] = register({})
# two concurrent FIRST callers must not build the 10-table fleet twice
# (wasteful, not incorrect)
_STORE_BUILD_LOCK = threading.Lock()


def _batch_state(ev: DataFrame) -> DataFrame:
    """Latest-per-user fold of one batch — the per-key upsert rows a MERGE
    consumes (unique per key by construction)."""
    return ev.groupBy("user_id").agg(
        F.max("event_id").alias("last_event_id"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.round(F.max_by("value", "event_id") * 100)
        .cast("long")
        .alias("last_value_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )


# when MATCHED: the last_* columns take the source (batches arrive in seq
# order, so the source row is strictly newer), but n_events ACCUMULATES —
# the update-expression form of MERGE that last-writer-wins can't express.
_WHEN_MATCHED = {
    "user_id": "t.user_id",
    "last_event_id": "s.last_event_id",
    "last_event_type": "s.last_event_type",
    "last_value_cents": "s.last_value_cents",
    "n_events": "t.n_events + s.n_events",
}


def _built_store(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per session+sf_dir) the tables the queries read:

    - ``main``: v1 create(batch1), v2 merge(batch2), v3 merge(batch3) —
      never vacuumed, so time travel to any version stays valid; also
      serves the read-only stats-pruning and change-feed queries;
    - ``erasure``: v1 create(full state), v2 delete_where(gdpr cohort),
      then vacuum(retain_last=1) — records the physical facts;
    - ``compactt``: v1 create(full state, fragmented), v2 compact() —
      records the before/after file counts + v1 readability;
    - ``evolve``: v1 create(prefix state), v2 merge(suffix state + a NEW
      column, allow_new_columns) — schema evolution as metadata.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _STORE_CACHE.get(key)
    if hit is not None:
        return hit
    with _STORE_BUILD_LOCK:  # double-checked: race losers reuse the build
        hit = _STORE_CACHE.get(key)
        if hit is not None:
            return hit
        out = _build_store_tables(spark, sf_dir)
        _STORE_CACHE[key] = out
        return out


def _build_store_tables(spark: SparkSession, sf_dir: str) -> dict:
    """The actual 10-table fleet build (see ``_built_store``)."""
    ev = load_table(spark, sf_dir, "events")
    # bounded: 2 scalars (the log's global high-water mark + key cardinality)
    max_id, n_users = ev.agg(
        F.max("event_id"), F.countDistinct("user_id")
    ).collect()[0]
    cut1 = max_id * _CUT1_NUM // 10
    cut2 = max_id * _CUT2_NUM // 10
    per_file = max(1, n_users // _N_FILES)

    root = tempfile.mkdtemp(prefix="ssi_store_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)

    def build_main() -> VersionedTable:
        main = VersionedTable.create(
            spark,
            f"{root}/main",
            _batch_state(ev.where(F.col("event_id") < cut1)),
            key="user_id",
            target_rows_per_file=per_file,  # multi-file layout so merge
            # pruning / data skipping / rewrite exercise file granularity
            bloom_by="last_event_id",  # point-lookup index on a column the
            # user_id-range layout does NOT cluster (min/max stats useless)
        )
        main.merge_into(
            _batch_state(
                ev.where(
                    (F.col("event_id") >= cut1) & (F.col("event_id") < cut2)
                )
            ),
            key="user_id",
            when_matched=_WHEN_MATCHED,
        )
        main.merge_into(
            _batch_state(ev.where(F.col("event_id") >= cut2)),
            key="user_id",
            when_matched=_WHEN_MATCHED,
        )
        return main

    def build_erasure() -> tuple:
        erasure = VersionedTable.create(
            spark, f"{root}/erasure", _batch_state(ev), key="user_id",
            target_rows_per_file=per_file,
        )
        pre_versions = erasure.latest_version()
        erasure.delete_where(
            F.col("user_id") % ERASE_MOD == 0, key="user_id"
        )
        removed = erasure.vacuum(retain_last=1)
        try:
            erasure.snapshot(version=pre_versions)
            history_pruned = False
        except VersionPrunedError:
            history_pruned = True
        return erasure, removed, history_pruned

    def build_compact() -> tuple:
        compactt = VersionedTable.create(
            spark, f"{root}/compact", _batch_state(ev), key="user_id",
            target_rows_per_file=per_file,
        )
        files_before = len(compactt._read_commit(1)["add"])
        compactt.compact("user_id", target_rows_per_file=10**9)  # -> 1 file
        files_after = len(
            compactt._read_commit(compactt.latest_version())["add"]
        )
        try:
            v1_readable = compactt.snapshot(version=1).count() == n_users
        except VersionPrunedError:
            v1_readable = False
        return compactt, files_before, files_after, v1_readable

    def build_parts() -> VersionedTable:
        # hive-partitioned twin of main (partition = last_event_type, which
        # CHURNS under merges -- users move partitions, so merges run with
        # key-range pruning only; partition pruning is a read-side device)
        parts = VersionedTable.create(
            spark,
            f"{root}/parts",
            _batch_state(ev.where(F.col("event_id") < cut1)),
            key="user_id",
            target_rows_per_file=per_file,
            partition_by="last_event_type",
        )
        parts.merge_into(
            _batch_state(
                ev.where(
                    (F.col("event_id") >= cut1) & (F.col("event_id") < cut2)
                )
            ),
            key="user_id",
            when_matched=_WHEN_MATCHED,
        )
        parts.merge_into(
            _batch_state(ev.where(F.col("event_id") >= cut2)),
            key="user_id",
            when_matched=_WHEN_MATCHED,
        )
        return parts

    def build_eventslog() -> VersionedTable:
        # append-only versioned twin of the raw events log itself: the
        # layout keys on event_id (sequence) and the declared stats column
        # ts_ms rides along — time correlates with sequence, so the
        # multi-column skipping stats are tight per file (the 100 TB
        # pattern: Delta collects stats on leading columns for exactly
        # this time-travel-by-time-window read). Batches 2 and 3 land via
        # the round-10 SIZED append (multi-file, range-partitioned).
        base = ev.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        n_ev = base.count()  # bounded: 1 scalar (row count for file sizing)
        elog = VersionedTable.create(
            spark,
            f"{root}/eventslog",
            base.where(F.col("event_id") < cut1),
            key="event_id",
            target_rows_per_file=max(1, n_ev // _N_FILES),
            stats_cols=["ts_ms"],
        )
        elog.append(
            base.where(
                (F.col("event_id") >= cut1) & (F.col("event_id") < cut2)
            ),
            key="event_id",
        )
        elog.append(base.where(F.col("event_id") >= cut2), key="event_id")
        return elog

    def build_writer() -> VersionedTable:
        # the DECLARATIVE write surface (round 10): executors stream
        # Arrow batches into immutable files and compute stats/bloom IN
        # the write task (the commit message carries them); the driver
        # publishes one log entry per save() — create + 2 appends, the
        # same 3-commit history as eventslog but written via
        # df.write.format("versioned") (sources/versioned_ds.py)
        import math

        from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
            VersionedDataSource,
            activate_session,
            ensure_registered,
        )

        ensure_registered(spark, VersionedDataSource)
        activate_session(spark)  # this build runs in a pool thread
        base = ev.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        n_ev = base.count()  # bounded: 1 scalar (file sizing)
        target = max(1, n_ev // _N_FILES)
        path = f"{root}/writer"
        slices = [
            (F.col("event_id") < cut1, 4, "overwrite"),
            ((F.col("event_id") >= cut1) & (F.col("event_id") < cut2), 3, "append"),
            (F.col("event_id") >= cut2, 3, "append"),
        ]
        for cond, tenths, mode in slices:
            n_files = max(1, math.ceil(n_ev * tenths / 10 / target))
            w = (
                base.where(cond)
                .repartitionByRange(n_files, "event_id")
                .write.format("versioned")
                .mode(mode)
                .option("path", path)
            )
            if mode == "overwrite":
                w = w.option("key", "event_id").option("stats_cols", "ts_ms")
            w.save()
        return VersionedTable(spark, path)

    def build_writer_parts() -> VersionedTable:
        # hive-partitioned DECLARATIVE writes (round 11): the same
        # 3-commit history as `writer`, but partitioned by event_type —
        # each write task splits its Arrow batches per partition value
        # (one staged file per (task, partition), the value rides the
        # commit message), so the driver still never touches data bytes
        import math

        from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
            VersionedDataSource,
            activate_session,
            ensure_registered,
        )

        ensure_registered(spark, VersionedDataSource)
        activate_session(spark)  # this build runs in a pool thread
        base = ev.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        n_ev = base.count()  # bounded: 1 scalar (file sizing)
        target = max(1, n_ev // _N_FILES)
        path = f"{root}/writerpt"
        slices = [
            (F.col("event_id") < cut1, 4, "overwrite"),
            ((F.col("event_id") >= cut1) & (F.col("event_id") < cut2), 3, "append"),
            (F.col("event_id") >= cut2, 3, "append"),
        ]
        for cond, tenths, mode in slices:
            n_files = max(1, math.ceil(n_ev * tenths / 10 / target))
            w = (
                base.where(cond)
                .repartitionByRange(n_files, "event_id")
                .write.format("versioned")
                .mode(mode)
                .option("path", path)
            )
            if mode == "overwrite":
                w = (
                    w.option("key", "event_id")
                    .option("partition_by", "event_type")
                    .option("stats_cols", "ts_ms")
                )
            w.save()
        return VersionedTable(spark, path)

    def build_logret() -> tuple:
        # commit-log RETENTION twin (round 11): 12 commits (deeper than
        # the checkpoint cadence), then vacuum(retain_last=3) — the log
        # must shrink to the newest usable checkpoint + tail, table meta
        # must survive the create commit's deletion, time travel inside
        # the horizon stays green and below it raises.
        from ssiintegrateddatapipeline_spark.sources.versioned import (
            _CHECKPOINT_EVERY,
        )

        base = ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        lr = VersionedTable.create(
            spark,
            f"{root}/logret",
            base.where(F.col("event_id") % 12 == 0),
            key="event_id",
        )
        for i in range(1, 12):
            lr.append(base.where(F.col("event_id") % 12 == i), key="event_id")
        lr.vacuum(retain_last=3)  # horizon v10 == the surviving checkpoint
        n_log = len(os.listdir(os.path.join(lr.path, "_log")))
        log_bounded = n_log <= _CHECKPOINT_EVERY + 3
        meta_alive = (
            lr.key_column() == "event_id" and lr.latest_version() == 12
        )
        try:
            lr.snapshot(version=10)  # at the horizon: off the checkpoint
            horizon_readable = True
        except VersionPrunedError:
            horizon_readable = False
        try:
            lr.snapshot(version=9)
            below_pruned = False
        except VersionPrunedError:
            below_pruned = True
        return lr, log_bounded and meta_alive, horizon_readable, below_pruned

    def build_zorder() -> VersionedTable:
        # OPTIMIZE ZORDER BY twin (round 10): the same events projection,
        # created event_id-keyed then REWRITTEN along a Morton curve over
        # (user_id, ts_ms) — after it, range predicates on EITHER column
        # skip files via the per-file stats, which no single-column sort
        # can give for two dimensions at once (user_id and event time are
        # independent in this log: every user is active all month)
        base = ev.select(
            "event_id",
            F.unix_millis("ts").alias("ts_ms"),
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        n_ev = base.count()  # bounded: 1 scalar (file sizing)
        zt = VersionedTable.create(
            spark,
            f"{root}/ztable",
            base,
            key="event_id",
            target_rows_per_file=max(1, n_ev // _N_FILES),
            stats_cols=["user_id", "ts_ms"],
        )
        zt.zorder(
            ["user_id", "ts_ms"], target_rows_per_file=max(1, n_ev // _N_FILES)
        )
        return zt

    def build_restore() -> tuple:
        # RESTORE twin (round 10): full state -> gdpr delete -> restore(1)
        # as ONE metadata-only commit (files re-added by reference). The
        # engine facts recorded here: zero new data files appeared, and
        # the restore commit's adds are a subset of v1's file set.
        rt = VersionedTable.create(
            spark, f"{root}/restoret", _batch_state(ev), key="user_id",
            target_rows_per_file=per_file,
        )
        rt.delete_where(F.col("user_id") % ERASE_MOD == 0, key="user_id")
        files_before = set(os.listdir(os.path.join(rt.path, "data")))
        v = rt.restore(1)
        files_after = set(os.listdir(os.path.join(rt.path, "data")))
        metadata_only = files_after == files_before and {
            a["path"] for a in rt._read_commit(v)["add"]
        } <= {a["path"] for a in rt._read_commit(1)["add"]}
        return rt, metadata_only

    def build_cdcsrc() -> VersionedTable:
        # CDC source for the streaming replica: create + accumulating
        # merge + a DELETING commit (never vacuumed — the change feed
        # reads removed files), so the downstream replica must apply
        # inserts, updates, and deletes to converge
        cdcsrc = VersionedTable.create(
            spark,
            f"{root}/cdcsrc",
            _batch_state(ev.where(F.col("event_id") < cut1)),
            key="user_id",
            target_rows_per_file=per_file,
        )
        cdcsrc.merge_into(
            _batch_state(ev.where(F.col("event_id") >= cut1)),
            key="user_id",
            when_matched=_WHEN_MATCHED,
        )
        cdcsrc.delete_where(
            F.col("user_id") % ERASE_MOD == 0, key="user_id"
        )
        return cdcsrc

    def build_evolve() -> VersionedTable:
        evolve = VersionedTable.create(
            spark,
            f"{root}/evolve",
            _batch_state(ev.where(F.col("event_id") < cut2)),
            key="user_id",
            target_rows_per_file=per_file,
        )
        evolve.merge_into(
            _batch_state(ev.where(F.col("event_id") >= cut2)).withColumn(
                "suffix_events", F.col("n_events")
            ),
            key="user_id",
            when_matched={**_WHEN_MATCHED, "suffix_events": "s.suffix_events"},
            allow_new_columns=True,
        )
        return evolve

    # the five tables are independent commit logs -- build them as
    # concurrent Spark job chains (driver threads; the scheduler
    # interleaves their stages), ~3x less wall than the serial build
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=12) as ex:
        f_main = ex.submit(build_main)
        f_erasure = ex.submit(build_erasure)
        f_compact = ex.submit(build_compact)
        f_parts = ex.submit(build_parts)
        f_evolve = ex.submit(build_evolve)
        f_elog = ex.submit(build_eventslog)
        f_writer = ex.submit(build_writer)
        f_writer_parts = ex.submit(build_writer_parts)
        f_logret = ex.submit(build_logret)
        f_zorder = ex.submit(build_zorder)
        f_restore = ex.submit(build_restore)
        f_cdcsrc = ex.submit(build_cdcsrc)
        main = f_main.result()
        erasure, removed, history_pruned = f_erasure.result()
        compactt, files_before, files_after, v1_readable = f_compact.result()
        parts = f_parts.result()
        evolve = f_evolve.result()
        eventslog = f_elog.result()
        writert = f_writer.result()
        writerpt = f_writer_parts.result()
        logret, logret_bounded, logret_horizon, logret_pruned = (
            f_logret.result()
        )
        ztable = f_zorder.result()
        restoret, restore_metadata_only = f_restore.result()
        cdcsrc = f_cdcsrc.result()

    out = {
        "main": main,
        "erasure": erasure,
        "erasure_vacuumed": len(removed),
        "erasure_history_pruned": history_pruned,
        "compact": compactt,
        "compact_files_before": files_before,
        "compact_files_after": files_after,
        "compact_v1_readable": v1_readable,
        "evolve": evolve,
        "parts": parts,
        "eventslog": eventslog,
        "writert": writert,
        "writerpt": writerpt,
        "logret": logret,
        "logret_bounded": logret_bounded,
        "logret_horizon": logret_horizon,
        "logret_pruned": logret_pruned,
        "ztable": ztable,
        "restoret": restoret,
        "restore_metadata_only": restore_metadata_only,
        "cdcsrc": cdcsrc,
        "max_user_id": None,  # filled lazily by stats_pruning
        "ts_bounds": None,  # filled lazily by timewindow_scan
    }
    return out


def merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final snapshot after create + 2 merges ≡ one-shot full-log rebuild."""
    t = _built_store(spark, sf_dir)["main"]
    return t.snapshot().withColumn(
        "table_version", F.lit(t.latest_version()).cast("int")
    )


def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot pinned at version 2 ≡ rebuild over the log prefix."""
    t = _built_store(spark, sf_dir)["main"]
    return t.snapshot(version=2).withColumn(
        "table_version", F.lit(2).cast("int")
    )


def erasure_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-erasure audit: logical counts from the surviving snapshot
    (oracle-checked against the events log) + the engine-observed physical
    facts (files vacuumed, pre-delete history unreadable)."""
    built = _built_store(spark, sf_dir)
    snap = built["erasure"].snapshot()
    erased = F.col("user_id") % ERASE_MOD == 0
    return snap.agg(
        F.count(F.lit(1)).alias("users_live"),
        F.sum(erased.cast("long")).alias("leak_rows"),
        F.sum("n_events").alias("events_live"),
        F.max("last_event_id").alias("max_event_id"),
        F.lit(built["erasure_vacuumed"] > 0).alias("files_vacuumed"),
        F.lit(built["erasure_history_pruned"]).alias("history_pruned"),
    )


def compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE audit: the compacted snapshot must be value-identical to
    the full rebuild (oracle-checked), with the engine facts that the file
    count actually dropped in ONE commit and v1 time travel survived."""
    built = _built_store(spark, sf_dir)
    t = built["compact"]
    return t.snapshot().withColumn(
        "table_version", F.lit(t.latest_version()).cast("int")
    ).withColumn(
        "files_reduced",
        F.lit(built["compact_files_after"] < built["compact_files_before"]),
    ).withColumn("v1_readable", F.lit(built["compact_v1_readable"]))


def stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping read over the middle [30%, 50%] of the key space:
    the file list is decided driver-side from the log's min/max stats, so
    a range-clustered table opens only the overlapping files. The rows
    must equal the filtered rebuild; ``files_skipped`` records that
    pruning really happened (the layout is ~8 range-partitioned files)."""
    built = _built_store(spark, sf_dir)
    t = built["main"]
    if built["max_user_id"] is None:
        # bounded: 1 scalar — the key-space high-water mark the oracle
        # recomputes from the events log with identical arithmetic
        built["max_user_id"] = t.snapshot().agg(F.max("user_id")).collect()[0][0]
    mx = built["max_user_id"]
    lo = mx * _SCAN_LO_NUM // 10
    hi = mx * _SCAN_HI_NUM // 10
    df, opened, total = t.pruned_scan("user_id", lo, hi)
    return df.withColumn("files_skipped", F.lit(opened < total))


def change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDF between versions 2 and 3 of the main table — exactly
    the users the third batch touched, classified insert vs
    update_postimage, computed file-confined (only files the v3 merge
    added/removed are read; survivors cancel in the value diff)."""
    t = _built_store(spark, sf_dir)["main"]
    return t.change_feed("user_id", 2, 3)


def history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log history readout: one row per version of the main table
    with its op and the snapshot's user count AT that version (a
    time-travel read per version). The oracle recomputes each count as a
    distinct-user fold over the matching event_id prefix — proving the log
    replay surfaces exactly the prefix states, version by version."""
    t = _built_store(spark, sf_dir)["main"]
    ops = {c["version"]: c["op"] for c in t.history()}
    out = None
    for v in sorted(ops):
        row = t.snapshot(version=v).agg(
            F.lit(v).cast("int").alias("version"),
            F.lit(ops[v]).alias("op"),
            F.count(F.lit(1)).alias("users_at_version"),
            F.max("last_event_id").alias("high_water_event_id"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup on the main table: find the holder of the
    log's LAST event by ``last_event_id`` — a column the user_id-range
    file layout scatters, so min/max stats cannot skip anything and the
    per-file bloom is the only thing standing between a point predicate
    and a full-table scan (Delta's bloom filter index, re-derived). Rows
    must equal the filtered rebuild; ``files_skipped`` records that the
    bloom actually cut the file list."""
    built = _built_store(spark, sf_dir)
    t = built["main"]
    # bounded: 1 scalar — the global high-water event id, recomputable in
    # SQL as max(event_id) (the last event is someone's last_event_id)
    mx = t.snapshot().agg(F.max("last_event_id")).collect()[0][0]
    df, opened, total = t.point_scan("last_event_id", mx)
    return df.withColumn("files_skipped", F.lit(opened < total))


def partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partition pruning on the partitioned twin (3 commits deep, so
    merges-through-partitions are in the read): scan ONE partition — the
    alphabetically-first last_event_type — with the file list decided from
    the log's partition metadata. Rows must equal the filtered rebuild;
    ``files_skipped`` records that other partitions' files stayed shut."""
    t = _built_store(spark, sf_dir)["parts"]
    # bounded: 1 scalar — the probe partition, recomputable in SQL
    val = t.snapshot().agg(F.min("last_event_type")).collect()[0][0]
    df, opened, total = t.partition_scan(val)
    return df.withColumn("files_skipped", F.lit(opened < total))


def cdf_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed COMPLETENESS proof: the per-version CDF increments
    (v0→1, 1→2, 2→3), composed by last-version-wins per key, must
    reconstruct the final snapshot exactly — i.e. a downstream consumer
    tailing the change feed (the Delta CDF streaming-read pattern) ends up
    byte-equal with a reader of the table itself. The fold is one
    max_by(version) groupBy over the unioned increments; deletes would
    drop out here (none occur on the main table — merge only)."""
    t = _built_store(spark, sf_dir)["main"]
    feed = None
    for v in range(1, t.latest_version() + 1):
        inc = (
            t.change_feed("user_id", v - 1, v)
            if v > 1
            # v0→v1 has no "from" snapshot: the create commit's rows are
            # all inserts — read them through the same CDF surface
            else t.snapshot(version=1).withColumn(
                "_change_type", F.lit("insert")
            )
        ).withColumn("_commit_version", F.lit(v).cast("int"))
        feed = inc if feed is None else feed.unionByName(inc)
    latest = feed.where(F.col("_change_type") != "delete").groupBy("user_id").agg(
        F.max_by(
            F.struct(
                "last_event_id", "last_event_type", "last_value_cents", "n_events"
            ),
            "_commit_version",
        ).alias("_s")
    )
    return latest.select("user_id", "_s.*")


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-evolution snapshot: the v2 merge added ``suffix_events`` via
    allow_new_columns — prefix-only users read back NULL (their files were
    never rewritten; the widened read schema null-fills), touched users
    carry the update's value."""
    t = _built_store(spark, sf_dir)["evolve"]
    return t.snapshot().withColumn(
        "table_version", F.lit(t.latest_version()).cast("int")
    )


def pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-integrated data skipping (round 10): the SAME key-range
    read as ``store_stats_pruning``, but through a plain declarative
    ``spark.read.format("versioned")...where(...)`` — the predicate
    reaches the commit-log file cut via the Python DataSource's
    ``pushFilters`` (sources/versioned_ds.py), no bespoke scan API.
    ``files_skipped`` replays the exact pushed filters against the
    reader driver-side and records that untouched files leave the plan
    before any is opened."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        _VersionedReader,
        read_versioned,
    )

    built = _built_store(spark, sf_dir)
    t = built["main"]
    if built["max_user_id"] is None:
        built["max_user_id"] = t.snapshot().agg(F.max("user_id")).collect()[0][0]
    mx = built["max_user_id"]
    lo = mx * _SCAN_LO_NUM // 10
    hi = mx * _SCAN_HI_NUM // 10
    df = read_versioned(spark, t.path).where(
        (F.col("user_id") >= lo) & (F.col("user_id") <= hi)
    )
    r = _VersionedReader({"path": t.path})
    r.pushFilters(
        [GreaterThanOrEqual(("user_id",), lo), LessThanOrEqual(("user_id",), hi)]
    )
    opened, total = len(r.partitions()), r.files_total
    return df.withColumn("files_skipped", F.lit(opened < total))


def timewindow_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column data skipping (round 10): a TIME-window read of the
    append-only events-log table, pruned on the declared ``ts_ms`` stats
    column — the layout keys on event_id (sequence), but time correlates
    with sequence, so the per-file [min, max] ts stats cut the file list
    without the layout ever clustering on time. The window is the middle
    [30%, 40%] of the time domain; rows must equal the filtered rebuild
    and ``files_skipped`` records the cut really happened."""
    built = _built_store(spark, sf_dir)
    t = built["eventslog"]
    if built["ts_bounds"] is None:
        # bounded: 2 scalars — the time-domain bounds the oracle
        # recomputes from the events log with identical arithmetic
        built["ts_bounds"] = tuple(
            t.snapshot().agg(F.min("ts_ms"), F.max("ts_ms")).collect()[0]
        )
    mn, mx = built["ts_bounds"]
    lo = mn + (mx - mn) * 3 // 10
    hi = mn + (mx - mn) * 4 // 10
    df, opened, total = t.pruned_scan("ts_ms", lo, hi)
    return df.withColumn("files_skipped", F.lit(opened < total))


def writer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative-writer roundtrip (round 10): the events projection was
    written as create + 2 appends via ``df.write.format("versioned")`` —
    per-task Arrow streaming with stats/bloom computed in the write task
    and a single link(2)-published log entry per save. Read back through
    the pushdown DataSource with an event_id window straddling the
    create/append commit boundary ([40%, 50%] of the sequence); rows must
    equal the filtered events projection and ``files_skipped`` records
    the writer-produced stats actually cut the file list."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        _VersionedReader,
        read_versioned,
    )

    built = _built_store(spark, sf_dir)
    t = built["writert"]
    # bounded: 1 scalar — the sequence high-water mark (== max event_id)
    mx = t.snapshot().agg(F.max("event_id")).collect()[0][0]
    lo, hi = mx * 4 // 10, mx * 5 // 10
    df = read_versioned(spark, t.path).where(
        (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    )
    r = _VersionedReader({"path": t.path})
    r.pushFilters(
        [GreaterThanOrEqual(("event_id",), lo), LessThanOrEqual(("event_id",), hi)]
    )
    opened, total = len(r.partitions()), r.files_total
    return df.withColumn("files_skipped", F.lit(opened < total))


def writer_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned DECLARATIVE writes (round 11): the events
    projection was written create + 2 appends via
    ``df.write.format("versioned").option("partition_by", ...)`` — each
    write task split its Arrow batches per partition value, one staged
    file per (task, partition), the value riding the commit message (the
    driver never reads data bytes). Read back ONE partition — the
    alphabetically-first event_type — through the pushdown DataSource;
    rows must equal the filtered events projection and ``files_skipped``
    records that the other partitions' files left the plan."""
    from pyspark.sql.datasource import EqualTo

    from ssiintegrateddatapipeline_spark.sources.versioned_ds import (
        _VersionedReader,
        read_versioned,
    )

    t = _built_store(spark, sf_dir)["writerpt"]
    # bounded: 1 scalar — the probe partition, recomputable in SQL
    val = t.snapshot().agg(F.min("event_type")).collect()[0][0]
    df = read_versioned(spark, t.path).where(F.col("event_type") == val)
    r = _VersionedReader({"path": t.path})
    r.pushFilters([EqualTo(("event_type",), val)])
    opened, total = len(r.partitions()), r.files_total
    return df.withColumn("files_skipped", F.lit(opened < total))


def log_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-log retention audit (round 11): a 12-commit table was
    vacuumed with ``retain_last=3`` — the log shrank to the newest
    checkpoint at-or-below the horizon plus the commit tail (O(K +
    retain) files at ANY history depth), table meta survived the create
    commit's deletion via the checkpoint's meta copy, time travel at the
    horizon still reads and below it raises VersionPrunedError. The
    snapshot fold per event_type must equal the events-log rebuild —
    log pruning touched METADATA only, never data."""
    built = _built_store(spark, sf_dir)
    t = built["logret"]
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
            F.max("event_id").alias("max_event_id"),
        )
        .withColumn("log_bounded", F.lit(built["logret_bounded"]))
        .withColumn("horizon_readable", F.lit(built["logret_horizon"]))
        .withColumn("below_horizon_pruned", F.lit(built["logret_pruned"]))
    )


def zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data skipping (round 10): the events projection was
    rewritten along a Morton curve over (user_id, ts_ms) — two columns
    the event_id layout clusters for neither. The probe is the middle
    [30%, 50%] of the USER space; ``files_skipped_user`` records that the
    user-range cut skipped files, and ``files_skipped_ts`` that an
    INDEPENDENT time-window probe over the same curve-clustered files
    also skipped — multi-dimensional locality no single sort order gives.
    Rows must equal the user-filtered rebuild of the projection."""
    built = _built_store(spark, sf_dir)
    t = built["ztable"]
    # bounded: 3 scalars — probe bounds the oracle recomputes in SQL
    mu, mn, mx = t.snapshot().agg(
        F.max("user_id"), F.min("ts_ms"), F.max("ts_ms")
    ).collect()[0]
    lo, hi = mu * _SCAN_LO_NUM // 10, mu * _SCAN_HI_NUM // 10
    df, o_user, total = t.pruned_scan("user_id", lo, hi)
    tlo = mn + (mx - mn) * 3 // 10
    thi = mn + (mx - mn) * 4 // 10
    _, o_ts, _ = t.pruned_scan("ts_ms", tlo, thi)
    return df.withColumn("files_skipped_user", F.lit(o_user < total)).withColumn(
        "files_skipped_ts", F.lit(o_ts < total)
    )


def restore_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE audit (round 10): full state (v1) -> gdpr delete (v2) ->
    ``restore(1)`` (v3). The restored snapshot must equal the full
    rebuild — the deleted cohort is BACK — and ``metadata_only`` records
    the engine facts: the restore commit wrote zero data files; its adds
    reference v1's immutable files. O(metadata) rollback at any size."""
    built = _built_store(spark, sf_dir)
    t = built["restoret"]
    return t.snapshot().withColumn(
        "table_version", F.lit(t.latest_version()).cast("int")
    ).withColumn("metadata_only", F.lit(built["restore_metadata_only"]))


QUERIES = {
    "store_merge_snapshot": merge_snapshot,
    "store_time_travel": time_travel,
    "store_erasure_vacuum": erasure_vacuum,
    "store_compaction": compaction,
    "store_stats_pruning": stats_pruning,
    "store_change_feed": change_feed,
    "store_schema_evolution": schema_evolution,
    "store_history": history_audit,
    "store_cdf_replay": cdf_replay,
    "store_partition_pruning": partition_pruning,
    "store_bloom_pruning": bloom_pruning,
    "store_pushdown_scan": pushdown_scan,
    "store_timewindow_scan": timewindow_scan,
    "store_writer_scan": writer_scan,
    "store_writer_partitioned": writer_partitioned,
    "store_log_retention": log_retention,
    "store_zorder_scan": zorder_scan,
    "store_restore": restore_table,
}

# The oracles rebuild the store state straight from the events log —
# a hash match proves incremental-merge-through-the-durable-table ≡
# one-shot rebuild (and, for time travel, prefix-rebuild).
_REBUILD = """
    SELECT user_id,
           max(event_id)::BIGINT AS last_event_id,
           arg_max(event_type, event_id) AS last_event_type,
           CAST(round(arg_max(value, event_id) * 100) AS BIGINT)
               AS last_value_cents,
           count(*)::BIGINT AS n_events
    FROM events {where}
    GROUP BY user_id
"""

_PREFIX_WHERE = (
    f"WHERE event_id < (SELECT max(event_id) * {_CUT2_NUM} // 10 FROM events)"
)
_SUFFIX_WHERE = (
    f"WHERE event_id >= (SELECT max(event_id) * {_CUT2_NUM} // 10 FROM events)"
)

ORACLES = {
    "store_merge_snapshot": f"""
        SELECT r.*, 3::INT AS table_version
        FROM ({_REBUILD.format(where="")}) r
    """,
    "store_time_travel": f"""
        SELECT r.*, 2::INT AS table_version
        FROM ({_REBUILD.format(where=_PREFIX_WHERE)}) r
    """,
    "store_erasure_vacuum": f"""
        SELECT count(*)::BIGINT AS users_live,
               0::BIGINT AS leak_rows,
               sum(n_events)::BIGINT AS events_live,
               max(last_event_id)::BIGINT AS max_event_id,
               TRUE AS files_vacuumed,
               TRUE AS history_pruned
        FROM ({_REBUILD.format(where="")})
        WHERE user_id % {ERASE_MOD} <> 0
    """,
    "store_compaction": f"""
        SELECT r.*, 2::INT AS table_version,
               TRUE AS files_reduced, TRUE AS v1_readable
        FROM ({_REBUILD.format(where="")}) r
    """,
    "store_stats_pruning": f"""
        SELECT r.*, TRUE AS files_skipped
        FROM ({_REBUILD.format(where="")}) r
        WHERE r.user_id BETWEEN
              (SELECT max(user_id) * {_SCAN_LO_NUM} // 10 FROM events)
          AND (SELECT max(user_id) * {_SCAN_HI_NUM} // 10 FROM events)
    """,
    # value diff of the two prefix rebuilds == the file-confined CDF
    "store_change_feed": f"""
        WITH a AS ({_REBUILD.format(where=_PREFIX_WHERE)}),
             b AS ({_REBUILD.format(where="")})
        SELECT coalesce(b.user_id, a.user_id) AS user_id,
               coalesce(b.last_event_id, a.last_event_id) AS last_event_id,
               coalesce(b.last_event_type, a.last_event_type) AS last_event_type,
               coalesce(b.last_value_cents, a.last_value_cents) AS last_value_cents,
               coalesce(b.n_events, a.n_events) AS n_events,
               CASE WHEN a.user_id IS NULL THEN 'insert'
                    WHEN b.user_id IS NULL THEN 'delete'
                    ELSE 'update_postimage' END AS _change_type
        FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
        WHERE NOT (a.user_id IS NOT NULL AND b.user_id IS NOT NULL
                   AND a.last_event_id = b.last_event_id
                   AND a.last_event_type = b.last_event_type
                   AND a.last_value_cents = b.last_value_cents
                   AND a.n_events = b.n_events)
    """,
    # composing every CDF increment last-version-wins == the final table:
    # the rebuild is the same one-shot fold
    "store_cdf_replay": _REBUILD.format(where=""),
    # the last event's holder via the bloom index == the rebuild filtered
    # to the global high-water event id
    "store_bloom_pruning": f"""
        SELECT r.*, TRUE AS files_skipped
        FROM ({_REBUILD.format(where="")}) r
        WHERE r.last_event_id = (SELECT max(event_id) FROM events)
    """,
    # one partition of the merged-through-partitions twin == the rebuild
    # filtered to the probe type
    "store_partition_pruning": f"""
        WITH r AS ({_REBUILD.format(where="")})
        SELECT r.*, TRUE AS files_skipped
        FROM r
        WHERE r.last_event_type = (SELECT min(last_event_type) FROM r)
    """,
    # one row per version: prefix distinct-user folds == the time-travel
    # counts, version by version
    "store_history": f"""
        WITH cuts AS (
            SELECT max(event_id) * {_CUT1_NUM} // 10 AS c1,
                   max(event_id) * {_CUT2_NUM} // 10 AS c2
            FROM events
        )
        SELECT 1::INT AS version, 'create' AS op,
               count(DISTINCT user_id)::BIGINT AS users_at_version,
               max(event_id)::BIGINT AS high_water_event_id
        FROM events, cuts WHERE event_id < c1
        UNION ALL
        SELECT 2::INT, 'merge', count(DISTINCT user_id)::BIGINT,
               max(event_id)::BIGINT
        FROM events, cuts WHERE event_id < c2
        UNION ALL
        SELECT 3::INT, 'merge', count(DISTINCT user_id)::BIGINT,
               max(event_id)::BIGINT
        FROM events
    """,
    # the Catalyst-pushdown read == the bespoke stats-pruned read == the
    # filtered rebuild (same range, same flag)
    "store_pushdown_scan": f"""
        SELECT r.*, TRUE AS files_skipped
        FROM ({_REBUILD.format(where="")}) r
        WHERE r.user_id BETWEEN
              (SELECT max(user_id) * {_SCAN_LO_NUM} // 10 FROM events)
          AND (SELECT max(user_id) * {_SCAN_HI_NUM} // 10 FROM events)
    """,
    # the ts-stats-pruned time-window read == the events log filtered to
    # the same integer-arithmetic window (epoch millis in both engines)
    "store_timewindow_scan": """
        WITH b AS (SELECT min(epoch_ms(ts)) AS mn, max(epoch_ms(ts)) AS mx
                   FROM events)
        SELECT event_id,
               epoch_ms(ts) AS ts_ms,
               user_id,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               TRUE AS files_skipped
        FROM events, b
        WHERE epoch_ms(ts) BETWEEN b.mn + (b.mx - b.mn) * 3 // 10
                               AND b.mn + (b.mx - b.mn) * 4 // 10
    """,
    # the declaratively-written table filtered through pushdown == the
    # events projection filtered to the same integer-arithmetic window
    "store_writer_scan": """
        SELECT event_id,
               epoch_ms(ts) AS ts_ms,
               user_id,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               TRUE AS files_skipped
        FROM events
        WHERE event_id BETWEEN (SELECT max(event_id) * 4 // 10 FROM events)
                           AND (SELECT max(event_id) * 5 // 10 FROM events)
    """,
    # one partition of the partition-split declarative writes == the
    # events projection filtered to the probe type
    "store_writer_partitioned": """
        SELECT event_id,
               epoch_ms(ts) AS ts_ms,
               user_id,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               TRUE AS files_skipped
        FROM events
        WHERE event_type = (SELECT min(event_type) FROM events)
    """,
    # the log-retention table's snapshot fold == the events-log rebuild
    # (vacuum pruned commit METADATA, never data); all three engine
    # facts asserted TRUE
    "store_log_retention": """
        SELECT event_type,
               count(*)::BIGINT AS n_events,
               sum(CAST(round(value * 100) AS BIGINT))::BIGINT
                   AS sum_value_cents,
               max(event_id)::BIGINT AS max_event_id,
               TRUE AS log_bounded,
               TRUE AS horizon_readable,
               TRUE AS below_horizon_pruned
        FROM events
        GROUP BY event_type
    """,
    # the restored snapshot == the full rebuild (the delete rolled back
    # as pure metadata), restore commit = version 3
    "store_restore": f"""
        SELECT r.*, 3::INT AS table_version, TRUE AS metadata_only
        FROM ({_REBUILD.format(where="")}) r
    """,
    # the zordered table's user-range scan == the user-filtered projection
    # (both skip flags asserted TRUE: the curve clusters BOTH dimensions)
    "store_zorder_scan": """
        SELECT event_id,
               epoch_ms(ts) AS ts_ms,
               user_id,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               TRUE AS files_skipped_user,
               TRUE AS files_skipped_ts
        FROM events
        WHERE user_id BETWEEN (SELECT max(user_id) * 3 // 10 FROM events)
                          AND (SELECT max(user_id) * 5 // 10 FROM events)
    """,
    # two-phase rebuild: matched users fold prefix+suffix and carry the
    # new column; prefix-only users read back NULL for it (never rewritten)
    "store_schema_evolution": f"""
        WITH p AS ({_REBUILD.format(where=_PREFIX_WHERE)}),
             s AS ({_REBUILD.format(where=_SUFFIX_WHERE)})
        SELECT coalesce(s.user_id, p.user_id) AS user_id,
               coalesce(s.last_event_id, p.last_event_id) AS last_event_id,
               coalesce(s.last_event_type, p.last_event_type) AS last_event_type,
               coalesce(s.last_value_cents, p.last_value_cents) AS last_value_cents,
               (coalesce(p.n_events, 0) + coalesce(s.n_events, 0))::BIGINT
                   AS n_events,
               s.n_events::BIGINT AS suffix_events,
               2::INT AS table_version
        FROM p FULL OUTER JOIN s ON p.user_id = s.user_id
    """,
}
