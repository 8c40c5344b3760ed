"""Avro binary codec: spec known-vectors, roundtrip properties (hypothesis),
and the Spark wire operators."""

from __future__ import annotations

import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from ssiintegrateddatapipeline_spark.functions import avro_codec as C

# --- spec known-vectors (Avro 1.11 spec, binary encoding section) ---------


def test_zigzag_varint_known_vectors():
    # the spec's example table: 0->00, -1->01, 1->02, -2->03, 2->04, -64->7f, 64->80 01
    assert C.dumps(0, "long") == b"\x00"
    assert C.dumps(-1, "long") == b"\x01"
    assert C.dumps(1, "long") == b"\x02"
    assert C.dumps(-2, "long") == b"\x03"
    assert C.dumps(2, "long") == b"\x04"
    assert C.dumps(-64, "long") == b"\x7f"
    assert C.dumps(64, "long") == b"\x80\x01"


def test_string_encoding():
    assert C.dumps("foo", "string") == b"\x06foo"
    assert C.dumps("", "string") == b"\x00"


def test_union_null_encoding():
    schema = ["null", "string"]
    assert C.dumps(None, schema) == b"\x00"
    assert C.dumps("a", schema) == b"\x02\x02a"


def test_array_encoding():
    schema = {"type": "array", "items": "long"}
    # count 2, items 3 and 27, terminator
    assert C.dumps([3, 27], schema) == b"\x04\x06\x36\x00"
    assert C.dumps([], schema) == b"\x00"


# --- roundtrip properties --------------------------------------------------

_RECORD_SCHEMA = {
    "type": "record",
    "name": "T",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "opt", "type": ["null", "string"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "b", "type": "boolean"},
    ],
}

_text = st.text(max_size=40)


@settings(max_examples=200, deadline=None)
@given(
    s=_text,
    n=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    d=st.floats(allow_nan=False),
    opt=st.none() | _text,
    tags=st.lists(_text, max_size=5),
    attrs=st.dictionaries(_text, st.integers(-(2**31), 2**31 - 1), max_size=5),
    b=st.booleans(),
)
def test_record_roundtrip(s, n, d, opt, tags, attrs, b):
    value = {"s": s, "n": n, "d": d, "opt": opt, "tags": tags, "attrs": attrs, "b": b}
    raw = C.dumps(value, _RECORD_SCHEMA)
    assert C.loads(raw, _RECORD_SCHEMA) == value


def test_nested_record_with_fixture_schema():
    """Round trip the TradeEventRef shape from the test fixtures."""
    fx = os.path.join(os.path.dirname(__file__), "fixtures", "avro", "trade")
    data_schema = json.loads(open(f"{fx}/trade_data.avsc").read())
    event_schema = json.loads(open(f"{fx}/trade_event.avsc").read())
    # inline the named reference for the codec
    for f in event_schema["fields"]:
        if f["name"] == "tradeData":
            f["type"] = ["null", data_schema]
        if f["name"] == "tradeCredential":
            f["type"] = ["null", "string"]  # simplified branch for the test
    value = {
        "trade_event_id": "e-1",
        "start_timestamp": "2026-01-01T00:00:00Z",
        "symbol": "BINANCE:BTCUSDT",
        "tradeData": {
            "Trade_Id": "t-1",
            "Trade_Condition": ["market"],
            "Price": 42000.5,
            "Symbol": "BINANCE:BTCUSDT",
            "Event_Timestamp": 1767225600000,
            "Volume": 0.25,
        },
        "tradeCredential": None,
    }
    assert C.loads(C.dumps(value, event_schema), event_schema) == value


# --- Spark wire operators --------------------------------------------------


def test_wire_roundtrip_equals_envelope(spark, sf_dir):
    from ssiintegrateddatapipeline_spark.operators.trade_pipeline import trade_envelope
    from ssiintegrateddatapipeline_spark.operators.wire import avro_roundtrip

    got = sorted(map(tuple, avro_roundtrip(spark, sf_dir).collect()))
    want = sorted(map(tuple, trade_envelope(spark, sf_dir).collect()))
    assert got == want


def test_wire_payload_sizes_match_local_encoding(spark, sf_dir):
    """The Spark-side byte counts must equal encoding the same rows locally."""
    from pyspark.sql import functions as F

    from ssiintegrateddatapipeline_spark.operators import wire

    env = wire.trade_envelope(spark, sf_dir).select(
        "trade_event_id",
        "symbol",
        "price",
        "volume",
        "trade_condition",
        F.unix_micros("event_timestamp").alias("event_ts_us"),
        F.unix_micros("start_timestamp").alias("start_ts_us"),
        "e2e_latency_secs",
    )
    local = env.limit(50).collect()
    got = {
        r["trade_event_id"]: len(
            C.dumps({k: r[k] for k in wire._FIELDS}, wire.TRADE_WIRE_SCHEMA)
        )
        for r in local
    }
    sizes = (
        wire.avro_serialize(env)
        .select(F.length("value").alias("n"), "value")
        .limit(50)
        .collect()
    )
    decoded = [C.loads(bytes(r["value"]), wire.TRADE_WIRE_SCHEMA) for r in sizes]
    for row, r in zip(decoded, sizes):
        assert got[row["trade_event_id"]] == r["n"]


@given(
    s=_text,
    n=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    d=st.floats(allow_nan=False),
    opt=st.none() | _text,
    tags=st.lists(_text, max_size=5),
    attrs=st.dictionaries(_text, st.integers(-(2**31), 2**31 - 1), max_size=5),
    b=st.booleans(),
)
def test_compiled_codec_matches_interpreted(s, n, d, opt, tags, attrs, b):
    """compile_dumps/compile_loads must produce byte-identical wire format
    and identical decoded values vs the interpreted encode/decode."""
    value = {"s": s, "n": n, "d": d, "opt": opt, "tags": tags, "attrs": attrs, "b": b}
    dumps_c = C.compile_dumps(_RECORD_SCHEMA)
    loads_c = C.compile_loads(_RECORD_SCHEMA)
    raw_interp = C.dumps(value, _RECORD_SCHEMA)
    raw_comp = dumps_c(value)
    assert raw_comp == raw_interp
    assert loads_c(raw_interp) == value
    assert C.loads(raw_comp, _RECORD_SCHEMA) == value


@given(
    symbol=st.sampled_from(
        ["BINANCE:BTCUSDT", "BINANCE:ETHUSDT", "X", "A" * 100]
    ),
    event_type=st.sampled_from(["view", "click", "purchase", "signup", "error"]),
    ts_us=st.integers(min_value=0, max_value=2**52),
    delay=st.integers(min_value=0, max_value=4),
    price=st.floats(allow_nan=False, allow_infinity=False, width=64),
)
@settings(max_examples=200, deadline=None)
def test_analytic_wire_size_matches_codec(symbol, event_type, ts_us, delay, price):
    """The oracle's field-by-field Avro size accounting
    (operators/wire._WIRE_SIZE_SQL) must equal the real codec's output
    length for arbitrary envelope values — evaluated here in Python with
    the same integer thresholds the SQL CASE uses."""
    from ssiintegrateddatapipeline_spark.operators.wire import TRADE_WIRE_SCHEMA

    record = {
        "trade_event_id": "d" * 32,  # md5 hex is always 32 chars
        "symbol": symbol,
        "price": price,
        "volume": 1.0,
        "trade_condition": [] if event_type == "view" else [event_type],
        "event_ts_us": ts_us,
        "start_ts_us": ts_us + delay * 1_000_000,
        "e2e_latency_secs": float(delay),
    }
    encoded = C.compile_dumps(TRADE_WIRE_SCHEMA)(record)

    def vlen(v: int) -> int:
        for k in range(1, 10):
            if 2 * v < 1 << (7 * k):
                return k
        return 10

    def strbytes(s: str) -> int:
        return vlen(len(s.encode())) + len(s.encode())

    # general form; the SQL oracle specializes the length varints to one
    # byte because md5 ids (32), symbols (<64) and event types are short
    predicted = (
        strbytes(record["trade_event_id"])
        + strbytes(symbol)
        + 24
        + 1
        + (
            1 + strbytes(event_type) + 1
            if event_type != "view"
            else 1
        )
        + vlen(record["event_ts_us"])
        + vlen(record["start_ts_us"])
    )
    assert len(encoded) == predicted


def test_schema_resolution_skip_default_promote_alias():
    """compile_loads_resolved: writer-only fields are skipped, reader-only
    fields take their default, primitives promote, aliases match."""
    writer = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "gone", "type": "string"},
            {"name": "old_name", "type": "long"},
            {"name": "f", "type": "float"},
        ],
    }
    reader = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "a", "type": "long"},  # int -> long promotion
            {"name": "renamed", "type": "long", "aliases": ["old_name"]},
            {"name": "f", "type": "double"},  # float -> double
            {"name": "added", "type": "string", "default": "dflt"},
        ],
    }
    raw = C.compile_dumps(writer)({"a": 7, "gone": "x", "old_name": 99, "f": 1.5})
    out = C.compile_loads_resolved(writer, reader)(raw)
    assert out == {"a": 7, "renamed": 99, "f": 1.5, "added": "dflt"}


def test_schema_resolution_union_and_enum():
    writer = {
        "type": "record",
        "name": "U",
        "fields": [
            {"name": "u", "type": ["null", "int"]},
            {
                "name": "e",
                "type": {"type": "enum", "name": "E",
                         "symbols": ["A", "B", "NEW"]},
            },
        ],
    }
    reader = {
        "type": "record",
        "name": "U",
        "fields": [
            {"name": "u", "type": ["null", "long"]},  # branch promotion
            {
                "name": "e",
                "type": {"type": "enum", "name": "E",
                         "symbols": ["A", "B"], "default": "A"},
            },
        ],
    }
    loads = C.compile_loads_resolved(writer, reader)
    dumps = C.compile_dumps(writer)
    assert loads(dumps({"u": 5, "e": "B"})) == {"u": 5, "e": "B"}
    assert loads(dumps({"u": None, "e": "NEW"})) == {"u": None, "e": "A"}


def test_schema_resolution_missing_default_rejected():
    import pytest

    writer = {"type": "record", "name": "R",
              "fields": [{"name": "a", "type": "int"}]}
    reader = {"type": "record", "name": "R",
              "fields": [{"name": "a", "type": "int"},
                         {"name": "b", "type": "int"}]}
    with pytest.raises(ValueError, match="no default"):
        C.compile_loads_resolved(writer, reader)


def test_registry_gate_matches_runtime_resolution():
    """The registry's BACKWARD verdict and the codec's resolver must agree
    on the V1 -> V2 trade-wire evolution."""
    from ssiintegrateddatapipeline_spark.operators.wire import (
        TRADE_WIRE_SCHEMA,
        TRADE_WIRE_SCHEMA_V2,
    )
    from ssiintegrateddatapipeline_spark.schemas.registry import SchemaRegistry

    probs = SchemaRegistry().check_compatibility(
        TRADE_WIRE_SCHEMA_V2, TRADE_WIRE_SCHEMA, mode="BACKWARD"
    )
    assert probs == []
    # and the resolver does decode V1 bytes under V2
    rec = {
        "trade_event_id": "x" * 32,
        "symbol": "BINANCE:BTCUSDT",
        "price": 1.0,
        "volume": 2.0,
        "trade_condition": ["click"],
        "event_ts_us": 1,
        "start_ts_us": 2,
        "e2e_latency_secs": 0.0,
    }
    out = C.compile_loads_resolved(TRADE_WIRE_SCHEMA, TRADE_WIRE_SCHEMA_V2)(
        C.compile_dumps(TRADE_WIRE_SCHEMA)(rec)
    )
    assert out["exchange"] == "BINANCE" and "e2e_latency_secs" not in out


def test_schema_resolution_union_of_records_matches_by_name():
    """Union branches that are named types must resolve by FULL NAME, not
    category — a union of two records resolved against itself must map
    each writer branch to the same-named reader branch."""
    rec_a = {"type": "record", "name": "A", "fields": [{"name": "x", "type": "int"}]}
    rec_b = {"type": "record", "name": "B",
             "fields": [{"name": "y", "type": "string"}]}
    writer = {"type": "record", "name": "R",
              "fields": [{"name": "u", "type": [rec_a, rec_b]}]}
    loads = C.compile_loads_resolved(writer, writer)
    # branch A through the encoder; branch B as hand-built wire bytes
    assert loads(C.compile_dumps(writer)({"u": {"x": 3}})) == {"u": {"x": 3}}
    assert loads(b"\x02\x04hi") == {"u": {"y": "hi"}}


@settings(max_examples=100, deadline=None)
@given(
    values=st.lists(
        st.tuples(
            st.integers(-(2**31), 2**31 - 1),  # a: int (promoted to long)
            _text,                             # b: string (dropped by reader)
            st.floats(allow_nan=False, width=32),  # c: float -> double
            st.none() | st.integers(-(2**31), 2**31 - 1),  # u: union null|int
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_schema_resolution_property_randomized(values):
    """Property: for ANY record stream, resolving under a reader that
    promotes, drops, renames (via alias) and adds-with-default must yield
    exactly the hand-computable projection of the writer values."""
    writer = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "a", "type": "int"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": "float"},
            {"name": "u", "type": ["null", "int"]},
        ],
    }
    reader = {
        "type": "record",
        "name": "P",
        "fields": [
            {"name": "a2", "type": "long", "aliases": ["a"]},
            {"name": "c", "type": "double"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "extra", "type": "string", "default": "?"},
        ],
    }
    dumps = C.compile_dumps(writer)
    loads = C.compile_loads_resolved(writer, reader)
    import struct as _struct

    for a, b, c, u in values:
        c32 = _struct.unpack("<f", _struct.pack("<f", c))[0]
        got = loads(dumps({"a": a, "b": b, "c": c, "u": u}))
        assert got == {"a2": a, "c": c32, "u": u, "extra": "?"}


def test_schema_resolution_nonunion_writer_dict_wrapped_reader_union():
    """A non-union writer field resolved against a reader whose union is
    dict-wrapped ({'type': [...]}, as nested schemas parse) must match a
    branch instead of iterating the dict's keys."""
    writer = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "v", "type": "int"}],
    }
    reader = {
        "type": "record",
        "name": "R",
        "fields": [{"name": "v", "type": {"type": ["null", "long"]}}],
    }
    out = C.compile_loads_resolved(writer, reader)(C.compile_dumps(writer)({"v": 9}))
    assert out == {"v": 9}


def test_schema_resolution_namespace_inheritance():
    """Avro namespace inheritance: a nested named type without an explicit
    namespace inherits the enclosing record's. Writer declares the child's
    namespace explicitly, reader inherits it — the union-of-records branch
    match must still succeed (same full name com.ex.Child), and a
    same-name child in a DIFFERENT explicit namespace must not match."""
    child_w = {
        "type": "record",
        "name": "Child",
        "namespace": "com.ex",
        "fields": [{"name": "x", "type": "int"}],
    }
    child_r = {  # no namespace -> inherits com.ex from the enclosing record
        "type": "record",
        "name": "Child",
        "fields": [{"name": "x", "type": "int"}],
    }
    other = {
        "type": "record",
        "name": "Other",
        "fields": [{"name": "y", "type": "string"}],
    }
    writer = {
        "type": "record",
        "name": "R",
        "namespace": "com.ex",
        "fields": [{"name": "u", "type": [child_w, other]}],
    }
    reader = {
        "type": "record",
        "name": "R",
        "namespace": "com.ex",
        "fields": [{"name": "u", "type": [child_r, other]}],
    }
    loads = C.compile_loads_resolved(writer, reader)
    assert loads(C.compile_dumps(writer)({"u": {"x": 5}})) == {"u": {"x": 5}}

    # same short name, different namespace: branch must NOT match by name
    child_wrong_ns = dict(child_r, namespace="org.else")
    reader_bad = {
        "type": "record",
        "name": "R",
        "namespace": "com.ex",
        "fields": [{"name": "u", "type": [child_wrong_ns, other]}],
    }
    loads_bad = C.compile_loads_resolved(writer, reader_bad)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        loads_bad(C.compile_dumps(writer)({"u": {"x": 5}}))


def test_batch_codec_matches_per_record():
    """compile_dumps_batch / compile_loads_batch (the Arrow-chunk hot path)
    must produce byte-identical wire frames and value-identical decodes vs
    the per-record compiled closures, including schema resolution and the
    permissive corrupt-routing mode."""
    from ssiintegrateddatapipeline_spark.functions import avro_codec as C
    from ssiintegrateddatapipeline_spark.operators.wire import (
        TRADE_WIRE_SCHEMA,
        TRADE_WIRE_SCHEMA_V2,
        _FIELDS,
    )

    rows = [
        ("a" * 32, "BTC", 101.5, 3.0, ["trade"], 1_700_000_000_000_000,
         1_700_000_001_000_000, 1.0),
        ("b" * 32, "ETH", -2.25, 0.0, [], 1, 2, 0.5),
        ("c" * 32, "ADA", 0.0, 99.0, ["x", "y"], -5, 0, 12.125),
    ]
    cols = [list(c) for c in zip(*rows)]

    dumps = C.compile_dumps(TRADE_WIRE_SCHEMA)
    per_rec = [dumps(dict(zip(_FIELDS, r))) for r in rows]
    assert C.compile_dumps_batch(TRADE_WIRE_SCHEMA)(cols) == per_rec

    loads = C.compile_loads(TRADE_WIRE_SCHEMA)
    batch = C.compile_loads_batch(TRADE_WIRE_SCHEMA)(per_rec)
    for i, raw in enumerate(per_rec):
        want = loads(raw)
        assert {k: batch[k][i] for k in batch} == want

    res = C.compile_loads_resolved(TRADE_WIRE_SCHEMA, TRADE_WIRE_SCHEMA_V2)
    rbatch = C.compile_loads_batch(TRADE_WIRE_SCHEMA, TRADE_WIRE_SCHEMA_V2)(per_rec)
    for i, raw in enumerate(per_rec):
        want = res(raw)
        assert {k: rbatch[k][i] for k in rbatch} == want
    assert "e2e_latency_secs" not in rbatch and rbatch["exchange"][0] == "BINANCE"

    # permissive: truncate the middle frame mid-record
    broken = [per_rec[0], per_rec[1][:5], per_rec[2]]
    p = C.compile_loads_batch(TRADE_WIRE_SCHEMA, permissive=True)(broken)
    assert p["_corrupt"] == [False, True, False]
    assert p["symbol"] == ["BTC", None, "ADA"]
    assert p["volume"] == [3.0, None, 99.0]


@settings(deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            _text,
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.floats(allow_nan=False),
            st.none() | _text,
            st.lists(_text, max_size=4),
            st.dictionaries(_text, st.integers(-(2**31), 2**31 - 1), max_size=4),
            st.booleans(),
        ),
        max_size=12,
    )
)
def test_batch_codec_matches_interpreted_randomized(rows):
    """Property twin of test_batch_codec_matches_per_record over the
    randomized record schema: the Arrow-chunk batch encoder/decoder must
    agree with the interpreted codec frame-for-frame and value-for-value,
    for any batch size including empty."""
    fields = ["s", "n", "d", "opt", "tags", "attrs", "b"]
    values = [dict(zip(fields, r)) for r in rows]
    per_rec = [C.dumps(v, _RECORD_SCHEMA) for v in values]
    cols = [[v[f] for v in values] for f in fields]
    assert C.compile_dumps_batch(_RECORD_SCHEMA)(cols) == per_rec
    got = C.compile_loads_batch(_RECORD_SCHEMA)(per_rec)
    assert list(got) == fields
    for i, v in enumerate(values):
        assert {k: got[k][i] for k in got} == v
