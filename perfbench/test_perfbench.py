"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json

import pyarrow.parquet as pq
import pytest

from perfbench import dashboard, feed, stats, stream
from perfbench.trace import Span, Tracer, layer_self_time, self_times


def _reader(seed: int) -> feed._ScheduleReader:
    return feed._ScheduleReader(
        {"base": stream.seed_base(seed), "n": 100, "rate": 10}
    )


# ---------------------------------------------------------------------------
# a seed reproduces identical inputs
# ---------------------------------------------------------------------------


def test_same_seed_same_stream_inputs():
    part = feed._Range(0, 60)
    assert list(_reader(3).read(part)) == list(_reader(3).read(part))
    assert list(_reader(3).read(part)) != list(_reader(4).read(part))
    taint = [stream.tampered(3, i) for i in range(2000)]
    assert taint == [stream.tampered(3, i) for i in range(2000)]
    assert any(taint) and not all(taint)
    assert stream.expected_tally(3, 500) == stream.expected_tally(3, 500)


def test_same_seed_same_events_table(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    dashboard.generate_events(5, 300, str(a))
    dashboard.generate_events(5, 300, str(b))
    dashboard.generate_events(6, 300, str(c))
    ta = pq.read_table(a / "events.parquet")
    assert ta.equals(pq.read_table(b / "events.parquet"))
    assert not ta.equals(pq.read_table(c / "events.parquet"))
    assert ta.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def test_schedule_admits_by_due_time():
    assert stats.due_count(999.0, 1000.0, 10, 100) == 0
    assert stats.due_count(1000.0, 1000.0, 10, 100) == 1  # position 0 due at t0
    assert stats.due_count(1099.0, 1000.0, 10, 100) == 1
    assert stats.due_count(1100.0, 1000.0, 10, 100) == 2
    assert stats.due_count(1e9, 1000.0, 10, 100) == 100
    parts = feed._split(10, 20, 4)
    assert [(p.start, p.end) for p in parts] == [(10, 13), (13, 16), (16, 19), (19, 20)]


def test_readers_admit_warm_chunk_then_start_schedule(tmp_path):
    t0_file = tmp_path / "t0"
    r = feed._ScheduleReader(
        {"base": 0, "n": 15, "rate": 1, "warm": 5, "t0_path": str(t0_file)}
    )
    assert r.latestOffset() == {"index": 5}  # the warm-up chunk, at once
    assert not t0_file.exists()
    assert r.latestOffset() == {"index": 6}  # schedule position 0 due at t0
    assert float(t0_file.read_text()) == r.t0_ms


# ---------------------------------------------------------------------------
# due-time latency from progress timestamps
# ---------------------------------------------------------------------------


def _progress(bid, start, end, ts, trigger_ms):
    return {
        "batchId": bid,
        "timestamp": ts,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [{"startOffset": start, "endOffset": end}],
    }


def test_due_latency_from_progress():
    t0 = stats._iso_ms("2026-01-01T00:00:00.000Z")
    progress = [
        _progress(0, None, '{"index": 3}', "2026-01-01T00:00:01.000Z", 500),
        # idle trigger repeating the last batch id: no rows, dropped
        _progress(0, '{"index": 3}', '{"index": 3}', "2026-01-01T00:00:01.600Z", 2),
        _progress(1, {"index": 3}, {"index": 5}, "2026-01-01T00:00:01.700Z", 800),
    ]
    batches = stats.batches_from_progress(progress)
    assert [(b.start, b.end) for b in batches] == [(0, 3), (3, 5)]
    assert batches[0].commit_ms == t0 + 1500
    # rate 2/s: position k is due at t0 + 500 k ms
    lat = stats.due_latencies(batches, t0, 2.0, 0, 5)
    assert lat == pytest.approx([1.5, 1.0, 0.5, 1.0, 0.5])
    assert stats.due_latencies(batches, t0, 2.0, 1, 4) == pytest.approx([1.0, 0.5, 1.0])
    # backlog at each commit: due by then minus committed
    assert stats.backlog_at_commits(batches, t0, 2.0, 5) == [1, 0]


def test_commit_rate_is_rows_over_commit_span():
    commits = [1000.0, 2000.0, 3000.0, 4000.0, 5000.0]
    b = [stats.Batch(i, 10 * i, 10 * (i + 1), 0.0, c, {}, 0, 0)
         for i, c in enumerate(commits)]
    # 40 rows after the first commit, over 4 s
    assert stats.commit_rate(b) == pytest.approx(10.0)
    # a 5.5 s stall before the last commit lowers the rate: 40 rows over 8.5 s
    stalled = b[:-1] + [stats.Batch(4, 40, 50, 0.0, 9500.0, {}, 0, 0)]
    assert stats.commit_rate(stalled) == pytest.approx(40 / 8.5)
    assert stats.commit_rate(b[:1]) is None


# ---------------------------------------------------------------------------
# a percentile needs ten samples beyond it
# ---------------------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 0.9) == 90  # ten samples beyond
    assert stats.percentile(vals[:-1], 0.9) is None  # nine beyond
    assert stats.percentile(list(range(1, 21)), 0.5) == 10
    assert stats.percentile(list(range(1, 20)), 0.5) is None
    assert stats.percentile([], 0.5) is None
    assert stats.percentile(list(range(1, 21)), 0.5, min_beyond=0) == 10


# ---------------------------------------------------------------------------
# self time on nested spans
# ---------------------------------------------------------------------------


def test_self_time_on_nested_spans():
    spans = [
        Span(0, "batch", 0.0, 10.0, None, 7),
        Span(1, "crypto.sign", 1.0, 4.0, 0, 7),
        Span(2, "wire.encode", 3.0, 6.0, 0, 7),  # overlaps its sibling
        Span(3, "crypto.sign.inner", 2.0, 3.0, 1, 7),
        Span(4, "tally", 9.0, 12.0, 0, 7),  # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)  # [1,6] and [9,10] covered
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    assert layer_self_time(spans, "crypto") == pytest.approx(3.0)
    assert layer_self_time(spans, "crypto.sign.inner") == pytest.approx(1.0)


def test_tracer_links_parents_and_batches(tmp_path):
    tr = Tracer()
    with tr.span("batch", 3):
        with tr.span("feed"):
            pass
        tr.count("feed.trades", 5)
    with tr.span("batch", 4):
        pass
    by_name = {(s.name, s.batch): s for s in tr.spans}
    root = by_name[("batch", 3)]
    assert by_name[("feed", 3)].parent == root.span_id
    assert root.parent is None and by_name[("batch", 4)].parent is None
    out = tmp_path / "trace.jsonl"
    tr.write(str(out))
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert sum(r["kind"] == "span" for r in rows) == 3
    assert {"kind": "count", "name": "feed.trades", "value": 5} in rows


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def test_failed_counts_missing_and_flipped_events():
    exp = {(0, "A"): (10, 9, 1), (10_000, "A"): (5, 5, 0)}
    assert stream.count_failed(exp, dict(exp)) == 0
    flipped = {(0, "A"): (10, 10, 0), (10_000, "A"): (5, 5, 0)}
    assert stream.count_failed(exp, flipped) == 1
    missing = {(0, "A"): (10, 9, 1)}
    assert stream.count_failed(exp, missing) == 5
    extra = {**exp, (20_000, "B"): (1, 1, 0)}
    assert stream.count_failed(exp, extra) == 1


def test_sink_tally_keeps_last_update_past_pandas_timestamp_range():
    import pandas as pd

    # the largest seed's frames lie centuries past 2262, the last year a
    # pandas nanosecond timestamp holds
    far = stream.expected_tally(99_999, 2)
    (w, sym), counts = next(iter(far.items()))
    assert w > pd.Timestamp.max.value // 1_000_000
    pdf = pd.DataFrame({
        "window_ms": [w, w, 0], "symbol": [sym, sym, "B"],
        "n_events": [1, counts[0], 1], "n_verified": [1, counts[1], 1],
        "n_rejected": [0, counts[2], 0],
    })
    assert stream.sink_tally(pdf) == {(w, sym): counts, (0, "B"): (1, 1, 0)}


def test_expected_tally_counts_tampered_as_rejected():
    exp = stream.expected_tally(3, 2000)
    n_trades = sum(v[0] for v in exp.values())
    pings = len([i for i in range(stream.seed_base(3), stream.seed_base(3) + 2000)
                 if i % 97 == 0])
    assert n_trades == 2000 - pings
    assert all(v[0] == v[1] + v[2] for v in exp.values())
    assert sum(v[2] for v in exp.values()) == sum(
        stream.tampered(3, i)
        for i in range(stream.seed_base(3), stream.seed_base(3) + 2000)
        if i % 97
    )


def test_results_match_regardless_of_order_and_rounding_ties():
    import pandas as pd

    want = dashboard.canonical(pd.DataFrame({"a": ["y", "x"], "b": [1, 2]}))
    # rows reordered, ints as doubles, a six-decimal tie split the other way
    got = pd.DataFrame({"b": [2.000001, 1.0], "a": ["x", "y"]})
    assert dashboard.matches(got, want)
    assert not dashboard.matches(got.assign(b=[2.5, 1.0]), want)
    assert not dashboard.matches(got.iloc[:1], want)
    ts = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"]).astype("datetime64[us]")})
    assert dashboard.matches(ts.astype("datetime64[ns]"), dashboard.canonical(ts))
