"""Pure-Python Avro binary codec (Avro 1.11 spec wire format).

The reference serializes every Kafka message as registry-backed Avro
(kafka_producer/app/handlers/kafka_producer.py:46-62 — AvroSerializer;
consumer side kafka_consumer/app/handlers/kafka_consumer.py:44-45). Spark's
own Avro functions live in the external spark-avro module, which is not
bundled with a pip pyspark install — so the wire format is implemented here
from the public Avro specification (binary encoding section):

- int/long: zigzag varint
- float/double: little-endian IEEE-754
- string/bytes: varint length + utf-8/raw bytes
- record: field values in declared order, no markers
- union: varint branch index + value
- array/map: varint-counted blocks, zero terminator
- enum: varint symbol index; fixed: raw bytes

Used by operators/wire.py through Arrow-batched ``mapInPandas`` — the codec
runs executor-side over Arrow record batches, never row-at-a-time through a
Python UDF per column.
"""

from __future__ import annotations

import io
import struct
from typing import Any

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(buf: io.BytesIO, n: int) -> None:
    n &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift = 0
    out = 0
    while True:
        (b,) = buf.read(1)
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out
        shift += 7


def write_long(buf: io.BytesIO, n: int) -> None:
    _write_varint(buf, _zigzag_encode(n))


def read_long(buf: io.BytesIO) -> int:
    return _zigzag_decode(_read_varint(buf))


# ---------------------------------------------------------------------------
# schema-driven encode/decode
# ---------------------------------------------------------------------------


def encode(value: Any, schema: Any, buf: io.BytesIO) -> None:
    """Encode a Python value against an Avro schema (dict/list/str form)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):  # union: pick the branch
        idx = _union_branch(value, schema)
        write_long(buf, idx)
        encode(value, schema[idx], buf)
        return
    else:
        t = schema["type"]
        if isinstance(t, (dict, list)):
            encode(value, t, buf)
            return

    if t == "null":
        return
    if t == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif t in ("int", "long"):
        write_long(buf, int(value))
    elif t == "float":
        buf.write(struct.pack("<f", float(value)))
    elif t == "double":
        buf.write(struct.pack("<d", float(value)))
    elif t == "string":
        raw = value.encode("utf-8")
        write_long(buf, len(raw))
        buf.write(raw)
    elif t == "bytes":
        write_long(buf, len(value))
        buf.write(bytes(value))
    elif t == "record":
        for f in schema["fields"]:
            encode(value[f["name"]], f["type"], buf)
    elif t == "array":
        items = list(value)
        if items:
            write_long(buf, len(items))
            for item in items:
                encode(item, schema["items"], buf)
        write_long(buf, 0)
    elif t == "map":
        entries = dict(value)
        if entries:
            write_long(buf, len(entries))
            for k, v in entries.items():
                encode(k, "string", buf)
                encode(v, schema["values"], buf)
        write_long(buf, 0)
    elif t == "enum":
        write_long(buf, schema["symbols"].index(value))
    elif t == "fixed":
        buf.write(bytes(value))
    else:
        raise ValueError(f"unsupported avro type: {t!r}")


def decode(schema: Any, buf: io.BytesIO) -> Any:
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        idx = read_long(buf)
        return decode(schema[idx], buf)
    else:
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return decode(t, buf)

    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "string":
        n = read_long(buf)
        return buf.read(n).decode("utf-8")
    if t == "bytes":
        n = read_long(buf)
        return buf.read(n)
    if t == "record":
        return {f["name"]: decode(f["type"], buf) for f in schema["fields"]}
    if t == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                read_long(buf)
                n = -n
            out.extend(decode(schema["items"], buf) for _ in range(n))
    if t == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                read_long(buf)
                n = -n
            for _ in range(n):
                k = decode("string", buf)
                out[k] = decode(schema["values"], buf)
    if t == "enum":
        return schema["symbols"][read_long(buf)]
    if t == "fixed":
        return buf.read(schema["size"])
    raise ValueError(f"unsupported avro type: {t!r}")


def _union_branch(value: Any, union: list) -> int:
    """Pick the union branch for a value (null vs the single non-null type,
    the only union shape the trade schemas use; general matching for rest)."""
    for i, branch in enumerate(union):
        t = branch if isinstance(branch, str) else branch.get("type")
        if value is None and t == "null":
            return i
        if value is not None and t != "null":
            return i
    raise ValueError(f"no union branch for {type(value).__name__} in {union}")


def dumps(value: Any, schema: Any) -> bytes:
    buf = io.BytesIO()
    encode(value, schema, buf)
    return buf.getvalue()


def loads(raw: bytes, schema: Any) -> Any:
    return decode(schema, io.BytesIO(raw))


# ---------------------------------------------------------------------------
# compiled codec: specialize the schema walk into closures ONCE per process,
# so the per-record hot path is straight-line appends/slices with no
# isinstance dispatch, no dict lookups, and no BytesIO. Used by
# operators/wire.py; identical wire bytes to encode()/decode() (property-
# tested round trip in tests/test_wire.py).
# ---------------------------------------------------------------------------


def _append_long(out: bytearray, n: int) -> None:
    n = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _take_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7


def _compile_enc(schema: Any):
    """schema -> fn(value, out: bytearray)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        branch_encs = [_compile_enc(b) for b in schema]
        branch_types = [b if isinstance(b, str) else b.get("type") for b in schema]
        null_idx = branch_types.index("null") if "null" in branch_types else -1
        if null_idx >= 0 and len(schema) == 2:  # the ["null", T] fast path
            other_idx = 1 - null_idx
            other_enc = branch_encs[other_idx]

            def enc_union2(v, out):
                if v is None:
                    _append_long(out, null_idx)
                else:
                    _append_long(out, other_idx)
                    other_enc(v, out)

            return enc_union2

        def enc_union(v, out):
            idx = _union_branch(v, schema)
            _append_long(out, idx)
            branch_encs[idx](v, out)

        return enc_union
    else:
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return _compile_enc(t)

    if t == "null":
        return lambda v, out: None
    if t == "boolean":
        return lambda v, out: out.append(1 if v else 0)
    if t in ("int", "long"):
        return lambda v, out: _append_long(out, int(v))
    if t == "float":
        pack_f = struct.Struct("<f").pack
        return lambda v, out: out.extend(pack_f(float(v)))
    if t == "double":
        pack_d = struct.Struct("<d").pack
        return lambda v, out: out.extend(pack_d(float(v)))
    if t == "string":

        def enc_str(v, out):
            raw = v.encode("utf-8")
            _append_long(out, len(raw))
            out.extend(raw)

        return enc_str
    if t == "bytes":

        def enc_bytes(v, out):
            raw = bytes(v)
            _append_long(out, len(raw))
            out.extend(raw)

        return enc_bytes
    if t == "record":
        pairs = [(f["name"], _compile_enc(f["type"])) for f in schema["fields"]]

        def enc_record(v, out):
            for name, fe in pairs:
                fe(v[name], out)

        return enc_record
    if t == "array":
        item_enc = _compile_enc(schema["items"])

        def enc_array(v, out):
            n = len(v)
            if n:
                _append_long(out, n)
                for item in v:
                    item_enc(item, out)
            _append_long(out, 0)

        return enc_array
    if t == "map":
        val_enc = _compile_enc(schema["values"])

        def enc_map(v, out):
            if v:
                _append_long(out, len(v))
                for k, val in v.items():
                    raw = k.encode("utf-8")
                    _append_long(out, len(raw))
                    out.extend(raw)
                    val_enc(val, out)
            _append_long(out, 0)

        return enc_map
    if t == "enum":
        index = {s: i for i, s in enumerate(schema["symbols"])}
        return lambda v, out: _append_long(out, index[v])
    if t == "fixed":
        return lambda v, out: out.extend(bytes(v))
    raise ValueError(f"unsupported avro type: {t!r}")


def _compile_dec(schema: Any):
    """schema -> fn(buf: bytes, pos: int) -> (value, pos)."""
    if isinstance(schema, str):
        t = schema
    elif isinstance(schema, list):
        branch_decs = [_compile_dec(b) for b in schema]

        def dec_union(buf, pos):
            idx, pos = _take_long(buf, pos)
            return branch_decs[idx](buf, pos)

        return dec_union
    else:
        t = schema["type"]
        if isinstance(t, (dict, list)):
            return _compile_dec(t)

    if t == "null":
        return lambda buf, pos: (None, pos)
    if t == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if t in ("int", "long"):
        return _take_long
    if t == "float":
        unpack_f = struct.Struct("<f").unpack_from
        return lambda buf, pos: (unpack_f(buf, pos)[0], pos + 4)
    if t == "double":
        unpack_d = struct.Struct("<d").unpack_from
        return lambda buf, pos: (unpack_d(buf, pos)[0], pos + 8)
    if t == "string":

        def dec_str(buf, pos):
            n, pos = _take_long(buf, pos)
            return buf[pos : pos + n].decode("utf-8"), pos + n

        return dec_str
    if t == "bytes":

        def dec_bytes(buf, pos):
            n, pos = _take_long(buf, pos)
            return buf[pos : pos + n], pos + n

        return dec_bytes
    if t == "record":
        pairs = [(f["name"], _compile_dec(f["type"])) for f in schema["fields"]]

        def dec_record(buf, pos):
            out = {}
            for name, fd in pairs:
                out[name], pos = fd(buf, pos)
            return out, pos

        return dec_record
    if t == "array":
        item_dec = _compile_dec(schema["items"])

        def dec_array(buf, pos):
            out = []
            while True:
                n, pos = _take_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _take_long(buf, pos)
                    n = -n
                for _ in range(n):
                    v, pos = item_dec(buf, pos)
                    out.append(v)

        return dec_array
    if t == "map":
        val_dec = _compile_dec(schema["values"])

        def dec_map(buf, pos):
            out = {}
            while True:
                n, pos = _take_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _take_long(buf, pos)
                    n = -n
                for _ in range(n):
                    klen, pos = _take_long(buf, pos)
                    k = buf[pos : pos + klen].decode("utf-8")
                    pos += klen
                    out[k], pos = val_dec(buf, pos)

        return dec_map
    if t == "enum":
        symbols = schema["symbols"]

        def dec_enum(buf, pos):
            i, pos = _take_long(buf, pos)
            return symbols[i], pos

        return dec_enum
    if t == "fixed":
        size = schema["size"]
        return lambda buf, pos: (buf[pos : pos + size], pos + size)
    raise ValueError(f"unsupported avro type: {t!r}")


def compile_dumps(schema: Any):
    """One-time schema compile -> fast fn(value) -> bytes."""
    enc = _compile_enc(schema)

    def dumps_compiled(value: Any) -> bytes:
        out = bytearray()
        enc(value, out)
        return bytes(out)

    return dumps_compiled


def compile_loads(schema: Any):
    """One-time schema compile -> fast fn(raw) -> value."""
    dec = _compile_dec(schema)

    def loads_compiled(raw: bytes) -> Any:
        return dec(bytes(raw), 0)[0]

    return loads_compiled


# ---------------------------------------------------------------------------
# Schema resolution (Avro spec "Schema Resolution"): decode data written
# with an OLD writer schema under a NEW reader schema. This is the runtime
# half of the registry's BACKWARD-compatibility gate
# (schemas/registry.py: a reader on version N must decode version N-1
# messages — use.latest.version=True producers + lagging consumers,
# kafka_producer/app/handlers/kafka_producer.py:53-62).
#
# Supported rules (the subset the compat gate admits):
# - record: writer-order decode; fields matched by reader name or alias;
#   writer-only fields are decoded and discarded; reader-only fields take
#   their declared default (required by BACKWARD compat);
# - promotions: int->long, int/long->float/double, float->double,
#   string<->bytes;
# - unions: writer branch resolved against the first matching reader
#   branch (by type name / promotability);
# - enum: unknown writer symbol falls to the reader's default symbol.
# ---------------------------------------------------------------------------

_PROMOTABLE = {
    ("int", "long"): lambda v: v,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): lambda v: v,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: bytes(v).decode("utf-8"),
}


def _type_name(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    t = schema["type"]
    return _type_name(t) if isinstance(t, (dict, list)) else t


_NAMED_TYPES = ("record", "enum", "fixed")


def _full_name(schema: Any, enclosing_ns: str | None = None) -> str | None:
    """Full name of a named type, else None. A dotted ``name`` IS the full
    name; otherwise an explicit ``namespace`` wins, and a nested named type
    without one inherits the enclosing schema's namespace (Avro spec,
    "Names")."""
    if not isinstance(schema, dict):
        return None
    t = schema.get("type")
    if isinstance(t, dict):
        return _full_name(t, enclosing_ns)
    if t not in _NAMED_TYPES:
        return None
    name = schema.get("name", "")
    if "." in name:
        return name
    ns = schema.get("namespace", enclosing_ns)
    return f"{ns}.{name}" if ns else name


def _ns_of(schema: Any, enclosing_ns: str | None) -> str | None:
    """Namespace in effect INSIDE ``schema`` — the namespace its nested
    named types inherit when they declare none."""
    full = _full_name(schema, enclosing_ns)
    if full is not None and "." in full:
        return full.rsplit(".", 1)[0]
    if full is not None:
        return None  # named type in the null namespace
    return enclosing_ns


def _resolvable(
    writer: Any,
    reader: Any,
    wns: str | None = None,
    rns: str | None = None,
) -> bool:
    wt, rt = _type_name(writer), _type_name(reader)
    if wt != rt:
        return (wt, rt) in _PROMOTABLE
    # named types (record/enum/fixed) match by FULL NAME, not category —
    # a union of two records must resolve each writer branch against the
    # same-named reader branch (Avro spec, union resolution)
    if wt in _NAMED_TYPES:
        return _full_name(writer, wns) == _full_name(reader, rns)
    return True


def _record_actions(
    writer: Any,
    reader: Any,
    wns: str | None = None,
    rns: str | None = None,
) -> tuple[list, list]:
    """Field-resolution plan for a writer record under a reader record:
    ``(actions, defaults)`` where actions is ``[(reader_name | None, dec)]``
    in WRITER order (None = decode-and-discard) and defaults is
    ``[(reader_name, default_value)]`` for reader-only fields. Shared by the
    per-record resolver and the batch decoder."""
    # names declared inside this record inherit its namespace
    wns, rns = _ns_of(writer, wns), _ns_of(reader, rns)
    r_fields = {f["name"]: f for f in reader["fields"]}
    for f in reader["fields"]:
        for alias in f.get("aliases", ()):
            r_fields.setdefault(alias, f)
    actions = []  # (reader_name | None, dec)
    matched = set()
    for wf in writer["fields"]:
        rf = r_fields.get(wf["name"])
        if rf is not None:
            matched.add(rf["name"])
            actions.append(
                (rf["name"], _compile_res(wf["type"], rf["type"], wns, rns))
            )
        else:
            actions.append((None, _compile_dec(wf["type"])))  # skip
    defaults = []
    for rf in reader["fields"]:
        if rf["name"] not in matched:
            if "default" not in rf:
                raise ValueError(
                    f"reader field {rf['name']!r} absent from writer "
                    "and has no default"
                )
            defaults.append((rf["name"], rf["default"]))
    return actions, defaults


def _compile_res(
    writer: Any,
    reader: Any,
    wns: str | None = None,
    rns: str | None = None,
):
    """(writer, reader) -> fn(buf, pos) -> (value-as-reader, pos).

    ``wns``/``rns`` carry the enclosing namespaces so nested named types
    that rely on Avro namespace inheritance still full-name-match."""
    wt, rt = _type_name(writer), _type_name(reader)

    if wt == "union":
        w_branches = writer if isinstance(writer, list) else writer["type"]
        if isinstance(reader, list):
            r_branches = reader
        elif isinstance(reader, dict) and isinstance(reader.get("type"), list):
            r_branches = reader["type"]  # dict-wrapped reader union
        else:
            r_branches = [reader]  # writer union -> reader non-union

        def resolve_branch(wb):
            for rb in r_branches:
                if _resolvable(wb, rb, wns, rns):
                    return _compile_res(wb, rb, wns, rns)
            def fail(buf, pos, _wb=wb):
                raise ValueError(
                    f"writer branch {_type_name(_wb)!r} has no reader branch"
                )
            return fail

        branch_decs = [resolve_branch(wb) for wb in w_branches]

        def dec_union_res(buf, pos):
            idx, pos = _take_long(buf, pos)
            return branch_decs[idx](buf, pos)

        return dec_union_res

    if rt == "union" and wt != "union":
        r_branches = reader if isinstance(reader, list) else reader["type"]
        for rb in r_branches:
            if _resolvable(writer, rb, wns, rns):
                return _compile_res(writer, rb, wns, rns)
        raise ValueError(f"writer {wt!r} matches no reader union branch")

    if wt == "record":
        actions, defaults = _record_actions(writer, reader, wns, rns)

        def dec_record_res(buf, pos):
            out = {}
            for name, fd in actions:
                v, pos = fd(buf, pos)
                if name is not None:
                    out[name] = v
            for name, dv in defaults:
                out[name] = dv
            return out, pos

        return dec_record_res

    if wt == "array":
        w_items = writer["items"] if isinstance(writer, dict) else None
        r_items = reader["items"] if isinstance(reader, dict) else None
        item_dec = _compile_res(w_items, r_items, wns, rns)

        def dec_array_res(buf, pos):
            out = []
            while True:
                n, pos = _take_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _take_long(buf, pos)
                    n = -n
                for _ in range(n):
                    v, pos = item_dec(buf, pos)
                    out.append(v)

        return dec_array_res

    if wt == "map":
        val_dec = _compile_res(writer["values"], reader["values"], wns, rns)

        def dec_map_res(buf, pos):
            out = {}
            while True:
                n, pos = _take_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    _, pos = _take_long(buf, pos)
                    n = -n
                for _ in range(n):
                    klen, pos = _take_long(buf, pos)
                    k = buf[pos : pos + klen].decode("utf-8")
                    pos += klen
                    out[k], pos = val_dec(buf, pos)

        return dec_map_res

    if wt == "enum":
        w_symbols = writer["symbols"]
        r_symbols = set(reader["symbols"])
        fallback = reader.get("default")

        def dec_enum_res(buf, pos):
            i, pos = _take_long(buf, pos)
            s = w_symbols[i]
            if s in r_symbols:
                return s, pos
            if fallback is None:
                raise ValueError(f"writer enum symbol {s!r} unknown to reader")
            return fallback, pos

        return dec_enum_res

    if wt == rt:
        return _compile_dec(writer)
    promote = _PROMOTABLE.get((wt, rt))
    if promote is None:
        raise ValueError(f"cannot resolve writer {wt!r} as reader {rt!r}")
    base = _compile_dec(writer)

    def dec_promoted(buf, pos):
        v, pos = base(buf, pos)
        return promote(v), pos

    return dec_promoted


def compile_loads_resolved(writer_schema: Any, reader_schema: Any):
    """Schema-resolution decode: fn(raw written under writer_schema) ->
    value shaped per reader_schema."""
    dec = _compile_res(writer_schema, reader_schema)

    def loads_resolved(raw: bytes) -> Any:
        return dec(bytes(raw), 0)[0]

    return loads_resolved


# ---------------------------------------------------------------------------
# Batch (columnar) codec for TOP-LEVEL RECORD schemas — the Arrow-chunk hot
# path (round-4 VERDICT task 3). The per-record compiled closures above
# still build one dict per record and the callers then pay pandas'
# list-of-dicts DataFrame inference; here the whole Arrow batch is
# encoded into ONE shared buffer (sliced by offsets) and decoded into
# preallocated per-FIELD column lists, so the only per-record Python work
# is the field-value decode itself. Wire bytes are identical to
# encode()/decode() (property-tested in tests/test_wire.py).
# ---------------------------------------------------------------------------


def compile_dumps_batch(schema: Any):
    """Top-level record encoder: fn(columns in field order) -> list[bytes].
    ``columns`` is a list of equal-length sequences, one per record field,
    in the schema's declared field order."""
    if _type_name(schema) != "record":
        raise ValueError("compile_dumps_batch requires a record schema")
    encs = [_compile_enc(f["type"]) for f in schema["fields"]]

    def dumps_batch(columns) -> list:
        # strict: plain zip would silently truncate to the shortest column,
        # dropping trailing records from the wire output
        out = bytearray()
        offsets = [0]
        mark = offsets.append
        for row in zip(*columns, strict=True):
            for enc, v in zip(encs, row):
                enc(v, out)
            mark(len(out))
        raw = bytes(out)
        return [raw[offsets[i] : offsets[i + 1]] for i in range(len(offsets) - 1)]

    return dumps_batch


def compile_loads_batch(
    writer_schema: Any,
    reader_schema: Any | None = None,
    permissive: bool = False,
):
    """Top-level record batch decoder: fn(values: sequence of bytes) ->
    dict[field_name, list] in reader field order. With ``reader_schema``,
    applies Avro schema resolution (dropped fields skipped, reader-only
    fields defaulted). With ``permissive=True``, a record that fails to
    decode yields None in every column plus True in the extra
    ``"_corrupt"`` column instead of raising (the consumer's
    deserialization-error routing, F5)."""
    if _type_name(writer_schema) != "record":
        raise ValueError("compile_loads_batch requires a record schema")
    if permissive:
        fields = (reader_schema or writer_schema)["fields"]
        if any(f["name"] == "_corrupt" for f in fields):
            raise ValueError(
                "compile_loads_batch(permissive=True) reserves the "
                "'_corrupt' column name; the record schema declares a "
                "field with that name — rename it or decode strict"
            )
    if reader_schema is None:
        actions = [(f["name"], _compile_dec(f["type"])) for f in writer_schema["fields"]]
        defaults: list = []
        names = [f["name"] for f in writer_schema["fields"]]
    else:
        actions, defaults = _record_actions(writer_schema, reader_schema)
        names = [f["name"] for f in reader_schema["fields"]]

    def loads_batch(values) -> dict:
        cols: dict[str, list] = {n: [] for n in names}
        kept = [(dec, cols[name].append if name is not None else None)
                for name, dec in actions]
        default_apps = [(cols[name].append, dv) for name, dv in defaults]
        all_apps = [cols[n].append for n in names]
        corrupt: list = []
        for raw in values:
            buf = bytes(raw)
            if permissive:
                try:
                    pos = 0
                    tmp = []
                    for dec, app in kept:
                        v, pos = dec(buf, pos)
                        if app is not None:
                            tmp.append((app, v))
                    for app, v in tmp:
                        app(v)
                    for app, dv in default_apps:
                        app(dv)
                    corrupt.append(False)
                except Exception:
                    for app in all_apps:
                        app(None)
                    corrupt.append(True)
            else:
                pos = 0
                for dec, app in kept:
                    v, pos = dec(buf, pos)
                    if app is not None:
                        app(v)
                for app, dv in default_apps:
                    app(dv)
        if permissive:
            cols["_corrupt"] = corrupt
        return cols

    return loads_batch
