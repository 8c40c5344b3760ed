"""The read-side workload: the Grafana panel set as engine queries.

One closed-loop client runs the panels back to back, in a seeded order per
round, over an events table generated from the seed. Each result is fully
fetched and compared with the DuckDB oracle twin of the same panel,
evaluated once per run over the same table.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ssiintegrateddatapipeline_spark.operators import analytics, metrics

# panel -> registry name of the engine query and of its oracle twin
PANELS = {
    "windowed_throughput": "analytics_throughput_30s",
    "sliding_rate": "analytics_sliding_rate",
    "consumer_lag": "analytics_consumer_lag",
    "p95_value_histogram": "analytics_p95_histogram",
    "p95_windowed": "analytics_p95_windowed",
    "payload_size_histogram": "analytics_payload_size_hist",
    "histogram_rebucket": "metrics_histogram_rebucket",
    "burn_rate_alerts": "metrics_burn_rate",
}
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SPAN_US = 30 * 24 * 3600 * 1_000_000  # thirty days of events
START = dt.datetime(2024, 1, 1)


def _query(panel: str):
    key = PANELS[panel]
    return analytics.QUERIES.get(key) or metrics.QUERIES[key]


def _oracle(panel: str) -> str:
    key = PANELS[panel]
    return analytics.ORACLES.get(key) or metrics.ORACLES[key]


def generate_events(seed: int, n: int, sf_dir: str) -> None:
    """``events.parquet`` with the testdata schema, drawn from ``seed``
    (numpy takes no negative seed, so its magnitude is used)."""
    rng = np.random.default_rng(abs(seed))
    offs = np.sort(rng.integers(0, SPAN_US, n))
    ts = np.datetime64(START, "us") + offs.astype("timedelta64[us]")
    value = np.round(rng.gamma(2.0, 40.0, n), 2)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, n // 60), n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


FLOAT_TOL = 2e-6  # the panels round to six decimals; the engines may split a tie


def canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a result: columns by name, numbers as
    doubles, timestamps as epoch microseconds, rows sorted with the
    floating-point columns last."""
    cols = sorted(pdf.columns)
    out = pd.DataFrame(index=range(len(pdf)))
    for c in cols:
        col = pdf[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(col):
            out[c] = col.astype(bool)
        elif pd.api.types.is_numeric_dtype(col):
            out[c] = col.astype("float64")
        else:
            out[c] = col.map(lambda v: None if v is None else str(v))
    floats = [c for c in cols if out[c].dtype == "float64"]
    keys = [c for c in cols if c not in floats] + floats
    return out.sort_values(keys, na_position="first").reset_index(drop=True) if cols else out


def matches(got: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """Same columns and rows; doubles equal within FLOAT_TOL."""
    got = canonical(got)
    if list(got.columns) != list(expected.columns) or len(got) != len(expected):
        return False
    for c in got.columns:
        a, b = got[c], expected[c]
        if a.dtype == "float64" and b.dtype == "float64":
            if not np.allclose(a.to_numpy(), b.to_numpy(), rtol=0, atol=FLOAT_TOL,
                               equal_nan=True):
                return False
        elif not a.equals(b):
            return False
    return True


def oracle_results(sf_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        return {p: canonical(con.execute(_oracle(p)).df()) for p in PANELS}
    finally:
        con.close()


class DashboardRun:
    def __init__(self, spark, seed: int, seconds: float, sf_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.jobs: list[int] = []

    def one(self, panel: str) -> tuple[float, pd.DataFrame | None]:
        """Issue one panel query and fetch its whole result; returns the
        latency and the result (None when the query raised)."""
        fn, tr = _query(panel), self.tracer
        sc = self.spark.sparkContext
        group = f"pb-{panel}-{time.perf_counter_ns()}"
        if tr is not None:
            sc.setJobGroup(group, panel)
        t0 = time.perf_counter()
        try:
            if tr is None:
                pdf = fn(self.spark, self.sf_dir).toPandas()
            else:
                with tr.span(f"dash.{panel}"):
                    with tr.span(f"dash.{panel}.build"):
                        df = fn(self.spark, self.sf_dir)
                    with tr.span(f"dash.{panel}.exec"):
                        pdf = df.toPandas()
        except Exception:  # a query that raises counts as failed
            return time.perf_counter() - t0, None
        latency = time.perf_counter() - t0
        if tr is not None:
            self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup(None, None)
        return latency, pdf

    def run(self, expected: dict) -> dict:
        """Whole rounds of the panel set, each in a fresh seeded order,
        until ``seconds`` have passed (so every panel runs equally often).

        ``latency`` is the mean over panels of each panel's median latency
        and ``rate`` the median over rounds of a round's queries per second:
        medians, so that a round still slowed by the JIT, or by a slow
        spell of the machine, does not carry the run."""
        rng = random.Random(self.seed)
        order = list(PANELS)
        lat: list[float] = []
        by_panel: dict[str, list[float]] = {p: [] for p in PANELS}
        rounds: list[float] = []
        results: list[tuple[str, pd.DataFrame | None]] = []
        start = time.perf_counter()
        while time.perf_counter() - start < self.seconds:
            rng.shuffle(order)
            t = time.perf_counter()
            for panel in order:
                latency, pdf = self.one(panel)
                lat.append(latency)
                by_panel[panel].append(latency)
                results.append((panel, pdf))
            rounds.append(time.perf_counter() - t)
        # checked after the clock stops
        failed = sum(
            pdf is None or not matches(pdf, expected[panel]) for panel, pdf in results
        )
        return {"latencies": lat, "failed": failed, "attempted": len(lat),
                "latency": statistics.fmean(statistics.median(v) for v in by_panel.values()),
                "rate": statistics.median(len(PANELS) / r for r in rounds)}
