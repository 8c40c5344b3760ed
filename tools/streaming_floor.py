"""Streaming-floor audit (r7-VERDICT task 7): measure where the wall goes.

The bench's streaming queries spend most of their wall outside batch
execution; this tool makes that floor auditable by splitting each contract
query's wall into:

- build  — Python-side plan construction (the ``queries()`` call),
- engine — the drive (start() → processAllAvailable()), split by the engine's own
  durationMs accounting summed over micro-batches
  (triggerExecution ⊇ queryPlanning + walCommit + addBatch + getBatch/
  latestOffset + commitOffsets),
- post   — memory-sink/spool readback into the returned batch frame.

Usage: python tools/streaming_floor.py [query ...] (default: the three
most expensive streaming bench entries + one cheap baseline). Prints a
markdown table for COVERAGE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "streaming_provider_matrix",
    "streaming_sign_verify",
    "streaming_burn_rate",
    "streaming_throughput_30s",
]

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:] or DEFAULT

    import __spark_entry__ as E
    from ssiintegrateddatapipeline_spark import get_spark
    from ssiintegrateddatapipeline_spark.streaming import pipeline as SP

    spark = get_spark(app_name="streaming-floor", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = E.queries()

    print(
        "| query | wall s | batches | trigger s | plan s | wal s "
        "| addBatch s | offsets s | outside-engine s |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for name in names:
        fn = queries[name]
        fn(spark, SF).toPandas()  # warm (JIT, scan listing) off the clock
        t0 = time.perf_counter()
        fn(spark, SF).toPandas()
        wall = time.perf_counter() - t0
        durs = SP.LAST_QUERY_DURATIONS

        def tot(key: str) -> float:
            return sum(d.get(key, 0) for d in durs) / 1000.0

        trigger = tot("triggerExecution")
        plan = tot("queryPlanning")
        wal = tot("walCommit")
        add = tot("addBatch")
        offsets = (
            tot("latestOffset") + tot("getBatch") + tot("commitOffsets")
        )
        print(
            f"| {name} | {wall:.2f} | {len(durs)} | {trigger:.2f} "
            f"| {plan:.2f} | {wal:.2f} | {add:.2f} | {offsets:.2f} "
            f"| {wall - trigger:.2f} |"
        )


if __name__ == "__main__":
    main()
