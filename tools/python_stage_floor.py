"""Python stage floor: the fixed cost of one Python stage per task.

Runs k chained no-op ``mapInPandas`` stages, k in {0, 1, 2, 4}, over
``spark.range(1000)`` on 2 partitions into the ``noop`` sink. The rounds are
interleaved (every k once per round, in a rotated order), and the tool prints
the median wall per k and its cost over k = 0.

Then, inside one worker task, it times ``importlib.invalidate_caches()``, the
call every Python task makes in ``pyspark.worker_util.setup_spark_files``, and
counts the zip importers in the worker's importer cache.

Usage: python tools/python_stage_floor.py [--daemon MODULE]

``--daemon pyspark.daemon`` runs Spark's stock worker daemon instead of the
engine's ``worker_daemon``, for a before/after comparison in one tree.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHAIN = (0, 1, 2, 4)
ROUNDS = 7


def chain(spark, k: int):
    df = spark.range(1000, numPartitions=2)
    for _ in range(k):
        df = df.mapInPandas(lambda batches: batches, df.schema)
    return df


def wall(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def invalidate_probe(batches):
    """One row per task: zip importers cached, and the seconds
    ``importlib.invalidate_caches()`` takes in this worker."""
    import importlib
    import zipimport

    import pandas as pd

    for _ in batches:
        pass
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    t = time.perf_counter()
    importlib.invalidate_caches()
    yield pd.DataFrame({"zip_importers": [zips], "invalidate_s": [time.perf_counter() - t]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--daemon", default=None, help="spark.python.daemon.module")
    args = ap.parse_args()

    from ssiintegrateddatapipeline_spark import get_spark

    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.daemon:
        extra["spark.python.daemon.module"] = args.daemon
    spark = get_spark(app_name="python-stage-floor", shuffle_partitions=2, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon")
    print("daemon:", daemon)

    for k in CHAIN:  # warm the workers and the JIT off the clock
        wall(chain(spark, k))
    times: dict[int, list[float]] = {k: [] for k in CHAIN}
    for r in range(ROUNDS):
        for k in CHAIN[r % len(CHAIN):] + CHAIN[: r % len(CHAIN)]:
            times[k].append(wall(chain(spark, k)))

    base = statistics.median(times[0])
    print(f"\n{ROUNDS} interleaved rounds, median wall per chain length:\n")
    print("| k no-op stages | median s | over k=0 s | per stage s |")
    print("|---|---|---|---|")
    for k in CHAIN:
        med = statistics.median(times[k])
        per = f"{(med - base) / k:.3f}" if k else "-"
        print(f"| {k} | {med:.3f} | {med - base:+.3f} | {per} |")

    probe = spark.range(1000, numPartitions=2).mapInPandas(
        invalidate_probe, "zip_importers long, invalidate_s double"
    ).collect()
    print("\nin-worker importlib.invalidate_caches(), per task:")
    for row in probe:
        print(f"  zip importers {row.zip_importers}, {row.invalidate_s * 1e3:.1f} ms")
    spark.stop()


if __name__ == "__main__":
    main()
