"""The ``ssi_stream`` workload, built from the engine's public layer
functions in the reference's order:

    ingest -> sign -> Avro encode/decode -> verify -> windowed tally

The untraced run executes one stateful streaming query into a memory sink;
the traced run replays the same layers per micro-batch in ``foreachBatch``,
materialising each layer's output inside its own span.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark.functions import avro_codec
from ssiintegrateddatapipeline_spark.operators import identity, wire
from ssiintegrateddatapipeline_spark.sources import trade_feed

from perfbench import stats
from perfbench.trace import Tracer, layer_self_time

# did:key on three symbols, did:web and did:ethr:sepolia on one each
PROVIDERS = dict(
    zip(
        trade_feed.SYMBOLS,
        ("did:key", "did:key", "did:key", "did:web", "did:ethr:sepolia"),
    )
)
EDDSA = "did:key"
TAMPER_EVERY = 32  # md5 subset of signed events whose token is corrupted in transit
WINDOW_MS = 10_000
FRAME_MS = 250  # trade_feed spaces frame event times 250 ms apart
SEED_STRIDE = 1_000_000  # frame-index distance between seeds (a multiple of 40)
WARM_GRACE_S = 45  # longest wait from query start for the warm-up batch to commit
DRAIN_GRACE_S = 20  # longest wait after the schedule ends for its events to commit

# the engine's flat trade wire record plus the credential that travels with it
SIGNED_WIRE_SCHEMA = {
    **wire.TRADE_WIRE_SCHEMA,
    "name": "SignedTradeWire",
    "fields": [
        *wire.TRADE_WIRE_SCHEMA["fields"],
        {"name": "provider", "type": "string"},
        {"name": "jwt", "type": "string"},
    ],
}
_SIGNED_FIELDS = [f["name"] for f in SIGNED_WIRE_SCHEMA["fields"]]
_SIGNED_DECODED = (
    "trade_event_id string, symbol string, price double, volume double, "
    "trade_condition array<string>, event_ts_us long, start_ts_us long, "
    "e2e_latency_secs double, provider string, jwt string"
)


def _read_t0(path: str) -> float:
    with open(path) as f:
        return float(f.read())


def seed_base(seed: int) -> int:
    return (seed % 100_000) * SEED_STRIDE


def tampered(seed: int, i: int) -> bool:
    h = int(hashlib.md5(f"tamper|{seed}|{i}".encode()).hexdigest()[:8], 16)
    return h % TAMPER_EVERY == 0


def _tampered_col(seed: int):
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"tamper|{seed}|"), F.col("idx"))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % TAMPER_EVERY == 0


# ---------------------------------------------------------------------------
# Layer calls
# ---------------------------------------------------------------------------


def ingest(raw: DataFrame) -> DataFrame:
    """sources.trade_feed: ping filter + ingest projection, plus the frame
    index recovered from the frame's event time."""
    ev = trade_feed._ingest_projection(raw)
    idx = (F.unix_millis("event_timestamp") - F.lit(trade_feed.BASE_EPOCH_MS)) / FRAME_MS
    return ev.withColumn("idx", idx.cast("long"))


def with_credentials_input(ev: DataFrame, seed: int) -> DataFrame:
    """Provider per symbol, the claims payload, and the tamper flag."""
    pmap = F.create_map(*[F.lit(x) for kv in PROVIDERS.items() for x in kv])
    payload = F.to_json(
        F.struct("symbol", "price", "volume", "trade_condition", "event_timestamp")
    )
    return ev.select(
        "*",
        pmap[F.col("symbol")].alias("provider"),
        payload.alias("payload"),
        _tampered_col(seed).alias("tampered"),
    )


def sign(ev: DataFrame) -> DataFrame:
    """operators.identity + functions.crypto: sign each payload."""
    return identity.sign_column_by(ev, "symbol", "payload", "provider")


def _encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    dumps = avro_codec.compile_dumps_batch(SIGNED_WIRE_SCHEMA)
    for pdf in batches:
        yield pd.DataFrame(
            {"key": pdf["symbol"], "value": dumps([pdf[n].tolist() for n in _SIGNED_FIELDS])}
        )


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    loads = avro_codec.compile_loads_batch(SIGNED_WIRE_SCHEMA)
    for pdf in batches:
        yield pd.DataFrame(loads(pdf["value"].tolist()))


def encode(signed: DataFrame) -> DataFrame:
    """functions.avro_codec encode of the signed trade record; the tampered
    subset has its token corrupted on the way in, as a transit fault."""
    jwt = F.when(F.col("tampered"), F.concat("jwt", F.lit("x"))).otherwise(F.col("jwt"))
    rec = signed.select(
        F.col("idx").cast("string").alias("trade_event_id"),
        "symbol",
        "price",
        "volume",
        "trade_condition",
        F.unix_micros("event_timestamp").alias("event_ts_us"),
        F.unix_micros("event_timestamp").alias("start_ts_us"),
        F.lit(0.0).alias("e2e_latency_secs"),
        "provider",
        jwt.alias("jwt"),
    )
    return rec.mapInPandas(_encode_batches, "key string, value binary")


def decode(encoded: DataFrame) -> DataFrame:
    return encoded.mapInPandas(_decode_batches, _SIGNED_DECODED)


def verify(decoded: DataFrame) -> DataFrame:
    """operators.identity + functions.crypto: verify each credential."""
    return identity.verify_column_by(decoded, "symbol", "jwt", "provider")


TALLY_COLS = ("n_events", "n_verified", "n_rejected")


def tally(df: DataFrame, streaming: bool) -> DataFrame:
    """Verified/rejected count per symbol and 10 s event-time window, keyed
    by the window start in epoch ms: a seed's frames may lie past the year
    2262, beyond what a pandas nanosecond timestamp holds."""
    df = df.withColumn("event_timestamp", F.timestamp_micros("event_ts_us"))
    if streaming:
        df = df.withWatermark("event_timestamp", "10 seconds")
    agg = df.groupBy(F.window("event_timestamp", "10 seconds").alias("w"), "symbol").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("verified").cast("long")).alias("n_verified"),
        F.sum((~F.col("verified")).cast("long")).alias("n_rejected"),
    )
    return agg.select(F.unix_millis("w.start").alias("window_ms"), "symbol", *TALLY_COLS)


def streaming_plan(raw: DataFrame, seed: int) -> DataFrame:
    signed = sign(with_credentials_input(ingest(raw), seed))
    return tally(verify(decode(encode(signed))), streaming=True)


# ---------------------------------------------------------------------------
# Expected outputs, replayed from the generator
# ---------------------------------------------------------------------------


def expected_tally(seed: int, n: int) -> dict:
    """(window start ms, symbol) -> (events, verified, rejected) for schedule
    positions [0, n)."""
    base = seed_base(seed)
    out: dict = defaultdict(lambda: [0, 0, 0])
    for i in range(base, base + n):
        kind, _, _, sym, t, _ = trade_feed.gen_frame(i)
        if kind != "trade":
            continue
        acc = out[(t - t % WINDOW_MS, sym)]
        acc[0] += 1
        acc[2 if tampered(seed, i) else 1] += 1
    return {k: tuple(v) for k, v in out.items()}


def sink_tally(pdf: pd.DataFrame) -> dict:
    """Final value per (window, symbol) from an update-mode sink: the counts
    only grow, so the last update is the row with the most events."""
    out: dict = {}
    for row in pdf.itertuples(index=False):
        key = (int(row.window_ms), row.symbol)
        val = tuple(int(getattr(row, c)) for c in TALLY_COLS)
        if key not in out or val[0] > out[key][0]:
            out[key] = val
    return out


def count_failed(expected: dict, got: dict) -> int:
    """Events missing or mis-verified: per (window, symbol), the largest
    difference among the three counts, and at least one wherever the group
    differs at all."""
    failed = 0
    for key in expected.keys() | got.keys():
        e = expected.get(key, (0, 0, 0))
        g = got.get(key, (0, 0, 0))
        if e != g:
            failed += max(1, *(abs(a - b) for a, b in zip(e, g)))
    return failed


# ---------------------------------------------------------------------------
# Runs
# ---------------------------------------------------------------------------


class StreamRun:
    """One run of the open loop on one session.

    The query's first trigger admits a warm-up chunk (``settle_s`` of the
    offered rate); the measured schedule starts when that batch has
    committed, at ``t0``, and runs ``settle_s + seconds``. Its first
    ``settle_s`` run but stay out of the figures."""

    def __init__(self, spark: SparkSession, seed: int, seconds: float, work_dir: str,
                 parts: int, rate: float, interval: str, settle_s: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.parts = parts
        self.rate = rate
        self.interval = interval
        self.settle_s = settle_s
        self.warm = int(rate * settle_s)
        self.run_ms = (settle_s + seconds) * 1000.0
        self.n = self.warm + int(rate * self.run_ms / 1000.0)  # warm-up chunk included

    def _source(self, t0_path: str) -> DataFrame:
        return (
            self.spark.readStream.format("perfbench_schedule")
            .option("rate", self.rate)
            .option("warm", self.warm)
            .option("base", seed_base(self.seed))
            .option("n", self.n)
            .option("parts", self.parts)
            .option("t0_path", t0_path)
            .load()
        )

    def _path(self, kind: str) -> str:
        return os.path.join(self.work_dir, f"{kind}_{uuid.uuid4().hex[:8]}")

    def _run_query(self, writer_of) -> tuple[list[stats.Batch], float, float]:
        """Start the query and poll its progress until every scheduled event
        has committed, the query fails, or the schedule has ended
        ``DRAIN_GRACE_S`` ago; returns the committed batches, the schedule
        start ``t0`` (epoch ms) and the warm-up time from query start to
        ``t0``. Events not committed by then count as failed."""
        t0_path = self._path("t0")
        started_ms = time.time() * 1000.0
        q = writer_of(self._source(t0_path)).start()

        def committed() -> list[stats.Batch]:
            return stats.batches_from_progress([json.loads(p.json) for p in q.recentProgress])

        try:
            while q.exception() is None:
                batches = committed()
                if batches and batches[-1].end >= self.n and os.path.exists(t0_path):
                    break
                if os.path.exists(t0_path):
                    give_up = _read_t0(t0_path) + self.run_ms + DRAIN_GRACE_S * 1000.0
                else:
                    give_up = started_ms + WARM_GRACE_S * 1000.0
                if time.time() * 1000.0 > give_up:
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        batches = committed()
        # without a schedule start nothing past the warm-up chunk was due
        t0_ms = _read_t0(t0_path) if os.path.exists(t0_path) else time.time() * 1000.0
        return batches, t0_ms, (t0_ms - started_ms) / 1000.0

    def _summarise(self, batches, t0_ms, warm_s, got) -> dict:
        t_sched = t0_ms - self.warm * 1000.0 / self.rate  # position k due at t_sched + k/R
        settle_k = self.warm + int(self.rate * self.settle_s)
        measured = [b for b in batches if b.end > settle_k]
        # the batch after the schedule ends carries only its tail
        full = [b for b in measured if b.trigger_ms <= t0_ms + self.run_ms]
        admitted = batches[-1].end if batches else 0
        return {
            "batches": batches,
            "measured": measured,
            "latencies": stats.due_latencies(batches, t_sched, self.rate, settle_k, self.n),
            "backlog": stats.backlog_at_commits(measured, t_sched, self.rate, self.n),
            "attempted": self.n,
            # scheduled but never admitted, missing or mis-verified
            "failed": self.n - admitted
            + count_failed(expected_tally(self.seed, admitted), got),
            "rate": stats.commit_rate(full),
            "warm_s": warm_s,
            "got": got,
        }

    # -- untraced ------------------------------------------------------------
    def run(self) -> dict:
        name = f"pb_{uuid.uuid4().hex[:8]}"

        def writer_of(raw: DataFrame):
            return (
                streaming_plan(raw, self.seed)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", self._path("ckpt"))
                .trigger(processingTime=self.interval)
            )

        batches, t0_ms, warm_s = self._run_query(writer_of)
        got = sink_tally(self.spark.table(name).toPandas())
        self.spark.catalog.dropTempView(name)
        return self._summarise(batches, t0_ms, warm_s, got)

    # -- traced --------------------------------------------------------------
    def run_traced(self, tracer: Tracer) -> dict:
        seed = self.seed
        acc: dict = defaultdict(lambda: [0, 0, 0])

        def per_batch(bdf: DataFrame, bid: int) -> None:
            held: list[DataFrame] = []
            # the warm-up batch runs untraced: it carries the query's start-up
            tr = tracer if bid > 0 else Tracer()

            def keep(df: DataFrame) -> DataFrame:
                held.append(df.persist())
                return held[-1]

            with tr.span("batch", bid):
                with tr.span("feed"):
                    ev = keep(ingest(bdf))
                    rows = ev.count()
                cred = keep(with_credentials_input(ev, seed))
                is_ed = F.col("provider") == EDDSA
                signed = []
                for alg, cond in (("eddsa", is_ed), ("es256k", ~is_ed)):
                    with tr.span(f"crypto.sign.{alg}"):
                        signed.append(keep(sign(cred.where(cond))))
                        tr.count(f"crypto.signed.{alg}", signed[-1].count())
                with tr.span("wire.encode"):
                    enc = keep(encode(signed[0].unionByName(signed[1])))
                    nbytes = enc.agg(F.sum(F.octet_length("value"))).first()[0] or 0
                with tr.span("wire.decode"):
                    dec = keep(decode(enc))
                    dec.count()
                verified = []
                for alg, cond in (("eddsa", is_ed), ("es256k", ~is_ed)):
                    with tr.span(f"crypto.verify.{alg}"):
                        verified.append(keep(verify(dec.where(cond))))
                        verified[-1].count()
                tr.count("wire.rows", rows)
                tr.count("wire.bytes", nbytes)
                with tr.span("tally"):
                    for r in tally(verified[0].unionByName(verified[1]), False).collect():
                        a = acc[(int(r.window_ms), r.symbol)]
                        for j, c in enumerate(TALLY_COLS):
                            a[j] += int(r[c])
                for df in held:
                    df.unpersist()

        def writer_of(raw: DataFrame):
            return (
                raw.writeStream.foreachBatch(per_batch)
                .option("checkpointLocation", self._path("ckpt"))
                .trigger(processingTime=self.interval)
            )

        batches, t0_ms, warm_s = self._run_query(writer_of)
        got = {k: tuple(v) for k, v in acc.items()}
        return self._summarise(batches, t0_ms, warm_s, got)


def layer_metrics(tracer: Tracer) -> dict:
    """Crypto and wire figures of one traced run."""
    spans, counts = tracer.spans, tracer.counts
    out = {"crypto.busy_s": layer_self_time(spans, "crypto")}
    for alg in ("eddsa", "es256k"):
        t = layer_self_time(spans, f"crypto.sign.{alg}") + layer_self_time(
            spans, f"crypto.verify.{alg}"
        )
        n = counts.get(f"crypto.signed.{alg}", 0)
        out[f"crypto.us_per_event.{alg}"] = t / n * 1e6 if n else 0.0
    out["crypto.signed"] = sum(counts.get(f"crypto.signed.{a}", 0) for a in ("eddsa", "es256k"))
    wire_s = layer_self_time(spans, "wire")
    rows = counts.get("wire.rows", 0)
    out["wire.busy_s"] = wire_s
    out["wire.us_per_row"] = wire_s / rows * 1e6 if rows else 0.0
    out["wire.bytes"] = counts.get("wire.bytes", 0)
    return out
