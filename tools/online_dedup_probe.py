"""Long-ingest probe for the online dedup index: replay the arrival feed
in N micro-batches (default 30) and report per-batch trigger time. The
index's per-batch delta dirs are compacted every
ONLINE_DEDUP_COMPACT_EVERY batches, so the listing a batch reads stays
bounded and per-batch time stays flat instead of growing O(batches).

Usage: python tools/online_dedup_probe.py [n_batches]
(SPARK_GRAFT_SF_DIR selects the scale, default sf0.01)
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.session import get_spark
from ssiintegrateddatapipeline_spark.sources.batch import load_table
from ssiintegrateddatapipeline_spark.streaming import pipeline as SP


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(app_name="online-dedup-probe", shuffle_partitions=8)

    root = tempfile.mkdtemp(prefix="ssi_dedup_probe_")
    arrivals = os.path.join(root, "arrivals")
    os.makedirs(arrivals)
    docs = load_table(spark, sf, "documents").where(F.col("doc_id") % 2 == 1)
    for k in range(n):
        part_dir = os.path.join(root, f"w{k}")
        (
            docs.where(F.pmod(F.expr("doc_id div 2"), F.lit(n)) == k)
            .select("doc_id", "text")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        (part_file,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(arrivals, f"b{k:04d}.parquet")
        shutil.move(part_file, dst)
        os.utime(dst, (1_600_000_000 + k, 1_600_000_000 + k))

    run_root = os.path.join(root, "run")
    os.makedirs(run_root)
    out = SP._online_dedup_drive(spark, sf, arrivals, run_root)
    n_dec = out.count()
    ms = [
        d["triggerExecution"]
        for d in SP.LAST_QUERY_DURATIONS
        if d.get("triggerExecution") is not None
    ]
    deltas = sorted(glob.glob(os.path.join(run_root, "index_delta", "d*")))
    print(f"# {n} batches, {n_dec} decisions, "
          f"{len(deltas)} delta dirs at end (compact_every="
          f"{SP.ONLINE_DEDUP_COMPACT_EVERY})")
    print("| batch | trigger ms |")
    print("|---|---|")
    for i, m in enumerate(ms):
        print(f"| {i} | {m} |")
    if len(ms) >= 10:
        first = sum(ms[1:6]) / 5  # skip batch 0 (JIT/scan warmup)
        last = sum(ms[-5:]) / 5
        print(f"# mean batches 1-5: {first:.0f} ms; last 5: {last:.0f} ms; "
              f"ratio {last / first:.2f}x")
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
