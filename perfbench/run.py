"""Benchmark entry point.

    python3 perfbench/run.py --workload {ssi_stream,dashboard}
        --seed N --seconds S --trace {0,1} [--cores C]

Run from the repository root. Starts one Spark session under
``local[C]`` (C defaults to the usable core count), sets up and warms the
workload, measures it for S seconds, checks every output, prints a report
of the end-to-end metrics and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` the
run also replays the workload with a span around every layer call and
reports the per-layer metrics instead, and leaves its spans in
``.perfbench_work/trace-<workload>-<seed>.jsonl``. Everything else the run
writes goes under ``.perfbench_work/`` in the repository root and is
removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SSI_RATE = 500.0  # ssi_stream offered rate, events/s
SSI_TRIGGER = "2 seconds"  # ssi_stream micro-batch interval
SETTLE_S = 2.0  # start of each stream run left out of the figures
# input partitions of the feed and state partitions of the tally: each feed
# task runs its own chain of five Python workers, and the per-trigger cost
# grows with the number of tasks
STREAM_PARTS = 2
DASH_EVENTS = 50_000  # rows of the dashboard's events table
WARM_EVENTS = 2_000  # rows of the table the dashboard's cold round runs on
DASH_WARM_ROUNDS = 4  # warm-up rounds of the panels on the measured table

WORKLOADS = ("ssi_stream", "dashboard")
END_TO_END = {
    "setup_s": "s",
    "latency_mean_s": "s",
    "throughput_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from perfbench.dashboard import PANELS

    return {
        "crypto.busy_s": "s",
        "crypto.us_per_event.eddsa": "us",
        "crypto.us_per_event.es256k": "us",
        "crypto.signed": "count",
        "crypto.rejected": "count",
        "wire.busy_s": "s",
        "wire.us_per_row": "us",
        "wire.bytes": "bytes",
        "stream.trigger_s_p50": "s",
        "stream.add_batch_s_p50": "s",
        "stream.planning_s_p50": "s",
        "stream.wal_commit_s_p50": "s",
        "stream.latest_offset_s_p50": "s",
        "stream.batches": "count",
        "stream.rows_per_batch_p50": "count",
        "stream.state_rows": "count",
        "stream.state_bytes": "bytes",
        "feed.rows_read": "count",
        "feed.backlog_events_max": "count",
        **{f"dash.{p}.{k}": "s" for p in PANELS for k in ("build_s", "exec_s")},
        "dash.jobs_per_query": "count",
        "scan.load_s": "s",
        "setup.session_s": "s",
        "setup.datagen_s": "s",
        "setup.warmup_s": "s",
        "trace.overhead_s": "s",
        "trace.overhead_ratio": "ratio",
    }


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes (temp files, Spark scratch, JVM temp)
    inside the work directory, and let the Python workers import the engine
    and the benchmark from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def trace_path(args) -> str:
    """Where a traced run leaves its spans and counts; kept after the run."""
    return os.path.join(ROOT, ".perfbench_work", f"trace-{args.workload}-{args.seed}.jsonl")


def start_session(cores: int, work: str):
    from ssiintegrateddatapipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, end the JVM the session launched, and wait for
    every process this run started."""
    from pyspark import SparkContext

    from perfbench.procmem import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 15
    alive = kids
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def overhead(untraced, traced) -> dict:
    """Traced minus untraced ``latency_mean_s``, absolute and as a share."""
    if not untraced or traced is None:
        return {}
    return {"trace.overhead_s": traced - untraced,
            "trace.overhead_ratio": (traced - untraced) / untraced}


# ---------------------------------------------------------------------------
# Workloads: each returns (end-to-end figures, per-layer figures, report,
# attempted, failed)
# ---------------------------------------------------------------------------


def _stream(args, spark, work: str, setup: dict, tracing: bool):
    from perfbench import feed, stats, stream
    from perfbench.trace import Tracer

    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTS))
    t = time.perf_counter()
    feed.register(spark)
    setup["datagen"] = time.perf_counter() - t

    def make() -> stream.StreamRun:
        return stream.StreamRun(spark, args.seed, args.seconds, work, STREAM_PARTS,
                                SSI_RATE, SSI_TRIGGER, SETTLE_S)

    # the query's first micro-batch is the warm-up: it starts the Python
    # workers and loads their keys and codecs
    res = make().run()
    setup["warmup"] = res["warm_s"]
    lat = res["latencies"]
    figures = {"latency_mean_s": stats.mean(lat), "throughput_per_s": res["rate"]}
    half = len(res["backlog"]) // 2
    report = [
        ("event_latency_p50_s", stats.median(lat), "s"),
        ("event_latency_p95_s", stats.percentile(lat, 0.95), "s"),
        ("latency_samples", len(lat), "events"),
        ("events_per_s", res["rate"], "events/s"),
        ("offered_rate", SSI_RATE, "events/s"),
        ("backlog_max_first_half", max(res["backlog"][:half], default=0), "events"),
        ("backlog_max_second_half", max(res["backlog"][half:], default=0), "events"),
    ]
    layers: dict = {}
    if tracing:
        measured = res["measured"]

        def p50(key):
            return stats.median([b.durations.get(key, 0) / 1000.0 for b in measured])

        layers.update({
            "stream.trigger_s_p50": p50("triggerExecution"),
            "stream.add_batch_s_p50": p50("addBatch"),
            "stream.planning_s_p50": p50("queryPlanning"),
            "stream.wal_commit_s_p50": p50("walCommit"),
            "stream.latest_offset_s_p50": p50("latestOffset"),
            "stream.batches": len(measured),
            "stream.rows_per_batch_p50": stats.median([b.rows for b in measured]),
            "stream.state_rows": measured[-1].state_rows if measured else 0,
            "stream.state_bytes": measured[-1].state_bytes if measured else 0,
            "feed.rows_read": sum(b.rows for b in res["batches"]),
            "feed.backlog_events_max": max(res["backlog"], default=0),
        })
        tracer = Tracer()
        traced = make().run_traced(tracer)
        tracer.write(trace_path(args))
        layers.update(stream.layer_metrics(tracer))
        layers["crypto.rejected"] = sum(v[2] for v in traced["got"].values())
        layers.update(overhead(figures["latency_mean_s"], stats.mean(traced["latencies"])))
        res["failed"] += traced["failed"]
        res["attempted"] += traced["attempted"]
    return figures, layers, report, res["attempted"], res["failed"]


def _dashboard(args, spark, work: str, setup: dict, tracing: bool):
    from perfbench import dashboard, stats
    from perfbench.trace import Tracer, self_times

    sf_dir = os.path.join(work, "events")
    warm_dir = os.path.join(work, "events_warm")
    t = time.perf_counter()
    dashboard.generate_events(args.seed, DASH_EVENTS, sf_dir)
    dashboard.generate_events(args.seed + 1, WARM_EVENTS, warm_dir)
    setup["datagen"] = time.perf_counter() - t

    # the cold round (class loading, codegen) runs on a small table; the JIT
    # keeps speeding the panels up for several rounds more
    t = time.perf_counter()
    for table in (warm_dir,) + (sf_dir,) * DASH_WARM_ROUNDS:
        warm = dashboard.DashboardRun(spark, args.seed, 0, table)
        for panel in dashboard.PANELS:
            warm.one(panel)
    setup["warmup"] = time.perf_counter() - t

    expected = dashboard.oracle_results(sf_dir)
    res = dashboard.DashboardRun(spark, args.seed, args.seconds, sf_dir).run(expected)
    lat = res["latencies"]
    figures = {"latency_mean_s": res["latency"], "throughput_per_s": res["rate"]}
    report = [
        ("query_latency_p50_s", stats.median(lat), "s"),
        ("query_latency_p90_s", stats.percentile(lat, 0.9), "s"),
        ("latency_samples", len(lat), "queries"),
        ("queries_per_s", res["rate"], "queries/s"),
    ]
    layers: dict = {}
    if tracing:
        from ssiintegrateddatapipeline_spark.caches import clear_caches
        from ssiintegrateddatapipeline_spark.sources.batch import load_table
        from pyspark.sql import functions as F

        tracer = Tracer()
        run = dashboard.DashboardRun(spark, args.seed, args.seconds, sf_dir, tracer)
        traced = run.run(expected)
        st = self_times(tracer.spans)
        for panel in dashboard.PANELS:
            for kind in ("build", "exec"):
                name = f"dash.{panel}.{kind}"
                layers[f"{name}_s"] = stats.median(
                    [st[s.span_id] for s in tracer.spans if s.name == name]
                )
        layers["dash.jobs_per_query"] = stats.mean(run.jobs)
        loads = []
        for _ in range(3):
            clear_caches(spark)
            with tracer.span("scan.load"):
                load_table(spark, sf_dir, "events").agg(F.sum("value")).collect()
            loads.append(tracer.spans[-1].duration)
        layers["scan.load_s"] = stats.median(loads)
        tracer.write(trace_path(args))
        layers.update(overhead(figures["latency_mean_s"], traced["latency"]))
        res["failed"] += traced["failed"]
        res["attempted"] += traced["attempted"]
    return figures, layers, report, res["attempted"], res["failed"]


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # fail before writing anything when the tree holds no engine
    if importlib.util.find_spec("ssiintegrateddatapipeline_spark") is None:
        sys.exit("perfbench: the engine package is not importable from " + ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run_{os.getpid()}")
    prepare_env(work)
    from perfbench import procmem

    tracing = bool(args.trace)
    setup: dict = {}
    spark = None
    try:
        with procmem.PeakMemory() as mem:
            spark = start_session(args.cores, work)
            spark.range(1).count()
            setup["session"] = time.perf_counter() - t_start
            runner = _dashboard if args.workload == "dashboard" else _stream
            figures, layers, report, attempted, failed = runner(
                args, spark, work, setup, tracing
            )
            shutdown(spark)
            spark = None
        setup_s = setup["session"] + setup["datagen"] + setup["warmup"]
        figures["setup_s"] = setup_s
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    report += [
        ("setup_s", setup_s, "s"),
        ("setup_session_s", setup["session"], "s"),
        ("setup_warmup_s", setup["warmup"], "s"),
        ("peak_pss_mb", mem.peak_mb, "MB"),
        ("failed_ratio", failed / attempted if attempted else 1.0, "ratio"),
    ]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"cores={args.cores} trace={args.trace}")
    for name, value, unit in report:
        shown = "n/a (too few samples)" if value is None else f"{value:.6g}"
        print(f"  {name:<28} {shown} {unit}")
    if tracing:
        layers.update({
            "setup.session_s": setup["session"],
            "setup.datagen_s": setup["datagen"],
            "setup.warmup_s": setup["warmup"],
        })
        metrics = {k: {"value": float(layers.get(k) or 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        # a run with nothing committed or answered has no figures: 0, and failed
        metrics = {k: {"value": float(figures[k] or 0.0), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
