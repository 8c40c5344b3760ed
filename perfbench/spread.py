"""Repeat the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads ssi_stream dashboard \
        --seeds 1 2 3 4 5 [--cores C] [--out FILE]

Runs ``perfbench/run.py`` untraced once per (workload, seed), one after
another, for BENCHMARK.json's ``run_seconds``, and prints, per end-to-end
metric, the median and the inter-quartile range as a share of the median
(``statistics.quantiles(values, n=4)``) next to its bound. ``--out`` writes
every run's result line and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, cores: int | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if cores:
        cmd += ["--cores", str(cores)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "report": lines[:-1], "result": json.loads(lines[-1])}


def summarise(runs: list[dict], bounds: dict) -> dict:
    out: dict = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == wl]
        names = mine[0]["result"]["metrics"].keys()
        out[wl] = {"failed": sum(r["result"]["failed"] for r in mine),
                   "wall_s_max": max(r["wall_s"] for r in mine), "metrics": {}}
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in mine]
            med = statistics.median(vals)
            spread = None
            if len(vals) >= 2 and med:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
            out[wl]["metrics"][name] = {"median": med, "spread": spread,
                                        "bound": bounds.get(name), "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for wl in args.workloads:
        for seed in args.seeds:
            r = run_once(wl, seed, bench["run_seconds"], args.cores)
            runs.append(r)
            print(f"{wl} seed={seed} wall={r['wall_s']:.1f}s "
                  f"{json.dumps(r['result']['metrics'])}", flush=True)
    summary = summarise(runs, bounds)
    for wl, s in summary.items():
        print(f"== {wl}: failed={s['failed']} slowest run {s['wall_s_max']:.1f}s")
        for name, m in s["metrics"].items():
            sp = "n/a" if m["spread"] is None else f"{m['spread']:.4f}"
            print(f"  {name:<30} median={m['median']:.6g} spread={sp} bound={m['bound']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"args": {**vars(args), "seconds": bench["run_seconds"]},
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
