"""Session-scoped cache registry with an explicit eviction path.

No cache here keeps a query's own work — its plan, result, trained model,
index or stream drive — from one call to the next; every call recomputes
it. Six registered dicts remain, each for a stated reason:

- ``_EPHEMERAL`` (:func:`track`): call-scoped ``.persist()``-ed
  intermediates behind lazily returned plans, reused inside one query and
  held only so :func:`clear_caches` can release them;
- ``sources/batch._LOAD_MEMO``: analyzed parquet relations (metadata, no
  row data). It sits on the gated ``dashboard`` path, where clearing it
  before each panel cost +23% on the mean of per-panel medians;
- ``operators/wire._JVM_AVRO_CACHE``: whether the spark-avro jar is
  loaded, a capability probe per application;
- ``sources/files._RT_CACHE`` and ``streaming/pipeline._ONLINE_STAGE_CACHE``:
  staged input files that stand in for data arriving from outside the
  engine;
- ``operators/store._STORE_CACHE``: the 10-table versioned fleet the
  store queries read.

Entries key by ``applicationId`` so a new session never sees stale JVM
references, and assume the keyed ``sf_dir``'s contents are IMMUTABLE for
the life of the session (``_LOAD_MEMO`` freezes the file listing). A
caller that sweeps several datasets in one session calls
:func:`clear_caches` between them; tests/test_caches.py pins that eviction
leaves no persisted RDDs behind.
"""

from __future__ import annotations

# (cache_dict, holds_persisted_dataframes)
_REGISTRY: list[tuple[dict, bool]] = []


def track(df):
    """Enroll a call-scoped ``.persist()``-ed DataFrame for eviction.

    Several operators persist an intermediate for intra-query reuse (LSH
    signatures before a self-join, a scored table across offset+rank
    passes, k-means candidate frames). The persist must outlive the call —
    the returned plan may recompute from it lazily — so it cannot be
    unpersisted inline; without tracking, every invocation leaks one
    persisted DataFrame for the life of the session. ``track`` hands each
    one to :func:`clear_caches`.

    Entries key on (applicationId, call site, analyzed-plan
    semanticHash), so a re-invocation of the same operator (bench's
    median-of-3) REPLACES its previous entry instead of appending — one
    tracked reference per plan, not three. No unpersist on replacement:
    Spark's CacheManager dedupes persists of semantically identical
    plans to ONE shared entry, so unpersisting the old frame would evict
    the storage under the new one too (observed as a suite-order
    InMemoryTableScan pin failure). Distinct plans from the same site
    (e.g. the BFS/pointer-doubling loops, whose per-iteration frames
    must ALL stay alive within an invocation) get distinct keys and
    coexist; clear_caches remains the eviction path for those."""
    import sys

    try:
        caller = sys._getframe(1).f_code
        site = (caller.co_filename, caller.co_qualname)
    except Exception:
        site = ("?", "?")
    try:
        # semanticHash is 32-bit; pair it with the schema string so a
        # same-site hash collision between genuinely different plans
        # (which would silently drop a tracked frame from eviction)
        # requires colliding hash AND identical output schema
        key = (
            df.sparkSession.sparkContext.applicationId,
            site,
            df._jdf.queryExecution().analyzed().semanticHash(),
            df.schema.simpleString(),
        )
    except Exception:  # fall back to append-only if plan access fails
        key = ("seq", next(_EPHEMERAL_SEQ))
    _EPHEMERAL[key] = df
    return df


def register(cache: dict, persisted: bool = False) -> dict:
    """Enroll a module-level cache dict for :func:`clear_caches` eviction.
    ``persisted=True`` marks values as ``.persist()``-ed DataFrames that
    must be unpersisted on eviction (not just dropped)."""
    _REGISTRY.append((cache, persisted))
    return cache


from itertools import count as _count

_EPHEMERAL_SEQ = _count()
_EPHEMERAL: dict[tuple, object] = register({}, persisted=True)


def clear_caches(spark=None) -> int:
    """Evict every registered session cache; returns the number of entries
    dropped. Unpersists DataFrame values (blocking=False) before clearing,
    so executor storage is actually released, then clears the dicts. Safe
    to call at any point between queries; the next call to any memoized
    loader simply rebuilds its entry.

    Eviction is registry-driven and GLOBAL across sessions — every
    registered dict is emptied regardless of which SparkSession its
    entries belong to (the dicts key by applicationId precisely so a
    clear can never leak a stale entry into a live session). ``spark``
    is accepted only for call-site symmetry and ignored."""
    dropped = 0
    for cache, persisted in _REGISTRY:
        if persisted:
            for df in cache.values():
                try:
                    df.unpersist()
                except Exception:
                    pass  # session already stopped; nothing to release
        dropped += len(cache)
        cache.clear()
    return dropped


def census(spark=None) -> dict:
    """Observable cache state for artifacts (r8-VERDICT task 2): how much
    session-lifetime memo/persist state has accumulated. Recorded by
    bench.py at the end of its run so a 200-query session's growth is in
    the bench artifact itself, not just reproducible via tests.

    - ``memo_entries``: total entries across every registered cache dict
      (driver-side metadata: analyzed relations, staged and built paths);
    - ``persisted_entries``: entries in persist-holding caches (each pins
      executor block-manager storage until clear_caches);
    - ``jvm_persistent_rdds``: the JVM CacheManager's live persistent-RDD
      count — the ground truth the persisted entries must bound;
    - ``driver_rss_mb``: this process's resident set (linux /proc).
    """
    out = {
        "memo_entries": sum(len(c) for c, _ in _REGISTRY),
        "persisted_entries": sum(len(c) for c, p in _REGISTRY if p),
    }
    if spark is not None:
        try:
            out["jvm_persistent_rdds"] = (
                spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            )
        except Exception:
            pass
        try:
            beans = (
                spark._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )
            out["jvm_gc_ms"] = sum(
                beans.get(i).getCollectionTime() for i in range(beans.size())
            )
            out["jvm_heap_used_mb"] = int(
                spark._jvm.java.lang.management.ManagementFactory
                .getMemoryMXBean().getHeapMemoryUsage().getUsed()
                // (1024 * 1024)
            )
            # JIT code-cache fill: a full code cache (flushing on) degrades
            # a codegen-heavy suite into recompile churn; bounding it in the
            # artifact makes that failure mode observable round-over-round
            pools = (
                spark._jvm.java.lang.management.ManagementFactory
                .getMemoryPoolMXBeans()
            )
            code_used = 0
            for i in range(pools.size()):
                p = pools.get(i)
                if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
                    code_used += p.getUsage().getUsed()
            out["jvm_codeheap_used_mb"] = int(code_used // (1024 * 1024))
            out["jvm_jit_ms"] = int(
                spark._jvm.java.lang.management.ManagementFactory
                .getCompilationMXBean().getTotalCompilationTime()
            )
        except Exception:
            pass
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    out["driver_rss_mb"] = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    return out
