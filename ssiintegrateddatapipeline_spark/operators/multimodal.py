"""Multimodal column operators: opaque binary payloads + typed metadata.

The pattern the reference establishes for opaque nested payloads (the
4-level ``tradeCredential`` struct riding alongside scalar columns,
kafka_initialiser/app/resources/avro/trade/trade_event.avsc) generalizes to
media: an image/audio/video is an opaque ``binary`` column with a typed
metadata struct, processed by Arrow-batched Pandas functions via
``mapInPandas`` — never row-at-a-time Python.

The actual codecs (Pillow / ffmpeg / librosa) are NOT in this container, so
the decode kernels are STUBS: ``_decode_image_real`` raises
``NotImplementedError`` and the pipeline substitutes a deterministic fake
decode derived from the payload bytes. Everything Spark-side — the binary
schema, the metadata struct, the mapInPandas batch shape, the explode for
frame sampling, partition-preserving execution — is real and oracle-checked.

Scale notes (100 TB):
- binary payloads stay in Arrow buffers end-to-end (no per-row Python
  object churn); ``maxPartitionBytes`` bounds decode-batch memory;
- frame sampling explodes rows inside the executor (mapInPandas), so the
  fan-out never crosses a shuffle boundary;
- metadata-only predicates (media_type, byte_len) are plain columns -> they
  push down to the parquet scan and prune payload reads entirely (parquet
  column pruning skips the heavy binary column when not selected).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssiintegrateddatapipeline_spark.sources.batch import load_table

# ---------------------------------------------------------------------------
# Ingest: documents -> multimodal table (binary payload + metadata struct)
# ---------------------------------------------------------------------------

_MEDIA_TYPES = ["image/png", "audio/wav", "video/mp4"]


def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multimodal stand-in: each document's utf-8 bytes become
    the opaque payload; media_type assigned round-robin by doc_id. The
    metadata struct is the typed, queryable face of the opaque blob."""
    docs = load_table(spark, sf_dir, "documents")
    media = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            media.alias("media_type"),
            F.octet_length("text").alias("byte_len"),
            F.sha2(F.encode("text", "utf-8"), 256).alias("sha256"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Decode kernels behind a capability probe: the real path runs when the
# payload actually parses — Pillow when importable, else a pure PNG
# IHDR-header parse (no library needed) for image dims, and
# soundfile-or-stdlib-wave for audio. Payloads that are not real media
# (the synthetic corpus is text bytes) take the deterministic fake path,
# which is what the SQL oracles replicate.
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# PNG color type -> sample channels (PNG spec, IHDR)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def image_codec_available() -> bool:
    """True iff Pillow is importable (full pixel decode); the IHDR header
    parse below works regardless for PNG metadata."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def audio_codec_available() -> bool:
    """True iff a real audio decoder exists: soundfile (any format) or the
    stdlib wave module (PCM WAV) — the latter is always present."""
    try:
        import soundfile  # noqa: F401

        return True
    except ImportError:
        try:
            import wave  # noqa: F401

            return True
        except ImportError:
            return False


def _decode_image_real(payload: bytes) -> tuple[int, int, int]:
    """Real image decode. PNG: dims + channels straight from the IHDR
    header (first chunk after the 8-byte magic — pure parsing, no
    library). Anything else: Pillow when importable. Raises
    NotImplementedError when no real path applies, which routes the
    payload to the deterministic fake."""
    import struct as _struct

    if payload[:8] == _PNG_MAGIC and len(payload) >= 26:
        width, height = _struct.unpack(">II", payload[16:24])
        color_type = payload[25]
        channels = _PNG_CHANNELS.get(color_type)
        if channels is None:
            raise NotImplementedError(f"unknown PNG color type {color_type}")
        return int(width), int(height), channels
    if image_codec_available():
        import io

        import PIL.Image

        try:
            with PIL.Image.open(io.BytesIO(payload)) as img:
                return img.width, img.height, len(img.getbands())
        except Exception as e:  # not an image Pillow can read
            raise NotImplementedError(str(e)) from e
    raise NotImplementedError("no image codec applies to this payload")


def _decode_image_fake(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in: dims derived from payload length and first
    byte — stable across engines, so the DuckDB oracle can reproduce it."""
    n = len(payload)
    first = payload[0] if n else 0
    width = 64 + (n % 512)
    height = 64 + (first * 7) % 512
    channels = 3
    return width, height, channels


def _decode_image(payload: bytes) -> tuple[int, int, int]:
    """Per-payload dispatch: real decode when the payload parses as media,
    deterministic fake otherwise."""
    try:
        return _decode_image_real(bytes(payload))
    except NotImplementedError:
        return _decode_image_fake(payload)


def decode_image_meta(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches in, decoded metadata out."""
    for pdf in batch_iter:
        payloads = pdf["payload"]
        dims = [_decode_image(p) for p in payloads]
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [d[0] for d in dims],
                "height": [d[1] for d in dims],
                "channels": [d[2] for d in dims],
                "byte_len": [len(p) for p in payloads],
            }
        )
        yield out


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("byte_len", T.IntegerType()),
    ]
)


def decode_images(mm: DataFrame) -> DataFrame:
    """Feature-extract every image payload (mapInPandas, Arrow-batched)."""
    images = mm.where(F.col("meta.media_type") == "image/png").select(
        "doc_id", "payload"
    )
    return images.mapInPandas(decode_image_meta, schema=_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# Frame sampling: one video payload -> N frame rows (executor-local fan-out)
# ---------------------------------------------------------------------------

def frame_sample_plan(mm: DataFrame, every_n: int = 10) -> DataFrame:
    """Sample every ``every_n``-th frame of each video. Fake frame count =
    byte_len div 100 (a real decoder would read the container header). The
    explode happens JVM-side — no Python in this path at all."""
    videos = mm.where(F.col("meta.media_type") == "video/mp4")
    n_frames = (F.col("meta.byte_len") / F.lit(100)).cast("int")
    return (
        videos.withColumn("n_frames", n_frames)
        .where(F.col("n_frames") > 0)
        .select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.round(F.col("frame_idx") / F.lit(25.0), 6).alias("ts_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Audio: chunk + feature-extract (stub kernel, real mapInPandas plumbing)
# ---------------------------------------------------------------------------

_AUDIO_CHUNK_BYTES = 256

_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _audio_features_real(chunk: bytes) -> list[float]:
    """Real audio decode for payloads that actually parse: soundfile when
    importable (any format), else stdlib wave for PCM WAV (RIFF magic).
    Features are [mean, min, max] over the decoded 16-bit samples —
    the same 3-slot shape as the fake path. Non-media payloads raise
    NotImplementedError and fall through to the fake."""
    chunk = bytes(chunk)
    if chunk[:4] != b"RIFF":
        raise NotImplementedError("not a RIFF/WAV payload")
    import io

    try:
        import soundfile

        data, _rate = soundfile.read(io.BytesIO(chunk), dtype="int16")
        samples = [int(x) for x in data.reshape(-1)]
    except ImportError:
        import wave

        try:
            with wave.open(io.BytesIO(chunk), "rb") as w:
                raw = w.readframes(w.getnframes())
                width = w.getsampwidth()
        except Exception as e:
            raise NotImplementedError(str(e)) from e
        if width != 2:
            raise NotImplementedError(f"unsupported sample width {width}")
        import struct as _struct

        samples = list(_struct.unpack(f"<{len(raw) // 2}h", raw))
    if not samples:
        raise NotImplementedError("empty audio stream")
    return [
        sum(samples) / len(samples),
        float(min(samples)),
        float(max(samples)),
    ]


def _audio_features_fake(chunk: bytes) -> list[float]:
    """Deterministic stand-in spectral stats from raw bytes (exact in the
    SQL oracle: mean/min/max of byte values). The mean stays UNROUNDED:
    int-sum / len is the identical IEEE double in Python and SQL, while
    rounding would diverge on the frequent exact .5 ties of n/256."""
    return [
        sum(chunk) / len(chunk),
        float(min(chunk)),
        float(max(chunk)),
    ]


def audio_chunk_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: split each audio payload into fixed-size chunks
    and emit one feature row per chunk — the fan-out stays executor-local,
    exactly like frame sampling."""
    for pdf in batch_iter:
        rows = {"doc_id": [], "chunk_idx": [], "n_bytes": [], "features": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            raw = bytes(payload)
            for idx in range(0, (len(raw) + _AUDIO_CHUNK_BYTES - 1) // _AUDIO_CHUNK_BYTES):
                chunk = raw[idx * _AUDIO_CHUNK_BYTES : (idx + 1) * _AUDIO_CHUNK_BYTES]
                try:
                    feats = _audio_features_real(chunk)
                except NotImplementedError:
                    feats = _audio_features_fake(chunk)
                rows["doc_id"].append(doc_id)
                rows["chunk_idx"].append(idx)
                rows["n_bytes"].append(len(chunk))
                rows["features"].append(feats)
        yield pd.DataFrame(rows)


def audio_chunks(mm: DataFrame) -> DataFrame:
    audio = mm.where(F.col("meta.media_type") == "audio/wav").select("doc_id", "payload")
    return audio.mapInPandas(audio_chunk_kernel, schema=_AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# Resize: metadata-level transform (vectorized pandas over decoded dims)
# ---------------------------------------------------------------------------

def resize_meta(decoded: DataFrame, max_side: int = 256) -> DataFrame:
    """Compute target dims preserving aspect ratio; pure column math (the
    real pixel resample would live in the same mapInPandas as the decode)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side) / F.greatest(F.col("width"), F.col("height")),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.greatest(F.lit(1), F.floor(F.col("width") * scale)).cast("int").alias("out_w"),
        F.greatest(F.lit(1), F.floor(F.col("height") * scale)).cast("int").alias("out_h"),
    )


# ---------------------------------------------------------------------------
# Driver-contract entries
# ---------------------------------------------------------------------------

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal_table(spark, sf_dir)
    return mm.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.sha256").alias("sha256"),
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_images(multimodal_table(spark, sf_dir))


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample_plan(multimodal_table(spark, sf_dir))


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_meta(decode_images(multimodal_table(spark, sf_dir)))


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_chunks(multimodal_table(spark, sf_dir))


AHASH_SEGMENTS = 32  # signature width (bits); 8-bit prefix blocks pairs
AHASH_MAX_HAMMING = 8  # well below the ~16 mean of unrelated 32-bit hashes


def ahash_signatures(mm: DataFrame) -> DataFrame:
    """Average-hash perceptual signature over the image payload BYTES:
    fold the byte stream round-robin into AHASH_SEGMENTS accumulators,
    bit_k = (segment-k mean > global mean) — the 1-D form of the classic
    8x8 aHash (with a real pixel decoder the segments would be luma
    blocks; the byte-stream form is the same plumbing and is what the
    deterministic fake-decode path exposes). All pure JVM expressions:
    hex() the payload once, explode positions, two hash aggregations;
    the mean comparison is cross-multiplied exact integers (no float)."""
    img = mm.where(F.col("meta.media_type") == "image/png").select(
        "doc_id",
        F.hex(F.col("payload")).alias("hx"),
        F.octet_length(F.col("payload")).alias("n"),
    )
    b = img.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("p"),
        "hx",
    ).select(
        "doc_id",
        (F.col("p") % AHASH_SEGMENTS).alias("seg"),
        F.conv(F.expr("substring(hx, p * 2 + 1, 2)"), 16, 10)
        .cast("long")
        .alias("val"),
    )
    per_seg = b.groupBy("doc_id", "seg").agg(
        F.sum("val").alias("s"), F.count("*").alias("c")
    )
    tot = per_seg.groupBy("doc_id").agg(
        F.sum("s").alias("gs"), F.sum("c").alias("gn")
    )
    bit = F.when(
        F.col("s") * F.col("gn") > F.col("gs") * F.col("c"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(seg AS INT))"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        per_seg.join(tot, "doc_id")
        .select("doc_id", bit.alias("bit"))
        .groupBy("doc_id")
        .agg(F.sum("bit").cast("long").alias("ahash"))
        .withColumn(
            "ahash_prefix", F.shiftright(F.col("ahash"), AHASH_SEGMENTS - 8)
        )
    )


def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicates by perceptual-hash hamming distance — the
    multimodal face of the dedup layer (same blocking discipline as
    ``dedup_simhash_pairs``: candidates only form inside an 8-bit prefix
    bucket, turning n^2 into a sum of bucket^2; hamming is bit_count of
    the XOR). Signatures persist before the self-join so the explode +
    double aggregation isn't inlined into both branches."""
    from ssiintegrateddatapipeline_spark.caches import track

    sigs = track(ahash_signatures(multimodal_table(spark, sf_dir)).persist())
    a = sigs.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("ahash").alias("ah_a"),
        "ahash_prefix",
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("ahash").alias("ah_b"),
        "ahash_prefix",
    )
    hamming = F.bit_count(F.col("ah_a").bitwiseXOR(F.col("ah_b")))
    return (
        a.join(b, "ahash_prefix")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= AHASH_MAX_HAMMING)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Video scene-cut detection — the shot-boundary pass a video curation
# pipeline runs before frame sampling (sample around cuts, not blindly
# every Nth frame). The classic detector thresholds the inter-frame mean-
# luma delta; here each fake "frame" is a 100-byte payload window (the
# frame_sample_plan convention) and its luma proxy is the exact integer
# byte sum, so cut decisions are pure integer comparisons
# (|sum_k − sum_{k−1}| ≥ 100·Δ). The per-frame sum is a per-row
# transform/aggregate over the hex string — only frames explode (n/100
# rows per video), positions never do; the lag window is per-video over
# its bounded frame list. With a real decoder the byte sum becomes the
# decoded luma mean — identical plan shape.
# ---------------------------------------------------------------------------

SCENE_FRAME_BYTES = 100
SCENE_CUT_DELTA = 8  # mean byte-value delta threshold per frame


def scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = multimodal_table(spark, sf_dir)
    vids = mm.where(F.col("meta.media_type") == "video/mp4").select(
        "doc_id",
        F.hex(F.col("payload")).alias("hx"),
        (F.col("meta.byte_len") / SCENE_FRAME_BYTES).cast("int").alias(
            "n_frames"
        ),
    ).where(F.col("n_frames") > 0)
    frames = vids.select(
        "doc_id",
        "n_frames",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("f"),
        "hx",
    )
    byte_at = lambda i: F.conv(  # noqa: E731
        F.col("hx").substr(
            ((F.col("f") * SCENE_FRAME_BYTES) + i) * 2 + 1, F.lit(2)
        ),
        16,
        10,
    ).cast("long")
    frame_sum = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.lit(SCENE_FRAME_BYTES - 1)), byte_at),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    summed = frames.select(
        "doc_id", "n_frames", "f", frame_sum.alias("luma_sum")
    )
    w = Window.partitionBy("doc_id").orderBy("f")
    deltas = summed.select(
        "doc_id",
        "n_frames",
        "f",
        F.abs(F.col("luma_sum") - F.lag("luma_sum").over(w)).alias("d"),
    )
    cut = F.col("d") >= SCENE_FRAME_BYTES * SCENE_CUT_DELTA
    return deltas.groupBy("doc_id").agg(
        F.max("n_frames").alias("n_frames"),
        F.sum(F.coalesce(cut.cast("long"), F.lit(0))).alias("n_cuts"),
        F.min(F.when(cut, F.col("f"))).alias("first_cut_frame"),
        F.max("d").alias("max_abs_delta"),
    )


_SCENE_ORACLE = f"""
    WITH vids AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               (octet_length(encode(text)) // {SCENE_FRAME_BYTES})::INT
                   AS n_frames
        FROM documents
        WHERE doc_id % 3 = 2
          AND octet_length(encode(text)) >= {SCENE_FRAME_BYTES}
    ),
    frames AS (
        SELECT doc_id, n_frames,
               unnest(generate_series(0, n_frames - 1)) AS f, hx
        FROM vids
    ),
    summed AS (
        SELECT doc_id, n_frames, f,
               list_sum(list_transform(generate_series(0, {SCENE_FRAME_BYTES - 1}),
                   i -> ('0x' || substr(hx,
                       (f * {SCENE_FRAME_BYTES} + i) * 2 + 1, 2))::BIGINT
               ))::BIGINT AS luma_sum
        FROM frames
    ),
    deltas AS (
        SELECT doc_id, n_frames, f,
               abs(luma_sum - lag(luma_sum) OVER
                   (PARTITION BY doc_id ORDER BY f)) AS d
        FROM summed
    )
    SELECT doc_id, max(n_frames)::INT AS n_frames,
           sum(CASE WHEN d >= {SCENE_FRAME_BYTES * SCENE_CUT_DELTA}
                    THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
           min(CASE WHEN d >= {SCENE_FRAME_BYTES * SCENE_CUT_DELTA}
                    THEN f END)::INT AS first_cut_frame,
           max(d)::BIGINT AS max_abs_delta
    FROM deltas GROUP BY doc_id
"""


QUERIES = {
    "multimodal_scene_cuts": scene_cuts,
    "multimodal_phash_pairs": multimodal_phash_pairs,
    "multimodal_meta": multimodal_meta,
    "multimodal_decode": multimodal_decode,
    "multimodal_frames": multimodal_frames,
    "multimodal_resize": multimodal_resize,
    "multimodal_audio_chunks": multimodal_audio_chunks,
}

# The fake decode is deterministic byte math, so every op has an exact
# SQL oracle: width = 64 + n%512, height = 64 + (first_byte*7)%512.
_DECODED = """
  SELECT doc_id,
         CAST(64 + (strlen(text) % 512) AS INT) AS width,
         CAST(64 + ((ord(text[1]) * 7) % 512) AS INT) AS height,
         3 AS channels,
         CAST(strlen(text) AS INT) AS byte_len
  FROM documents
  WHERE doc_id % 3 = 0
"""

ORACLES = {
    "multimodal_scene_cuts": _SCENE_ORACLE,
    "multimodal_phash_pairs": f"""
        WITH img AS (
            SELECT doc_id, hex(encode(text)) AS hx,
                   octet_length(encode(text)) AS n
            FROM documents WHERE doc_id % 3 = 0
        ),
        pos AS (
            SELECT doc_id, hx,
                   unnest(generate_series(0, n - 1)) AS p
            FROM img
        ),
        b AS (
            SELECT doc_id, p % {AHASH_SEGMENTS} AS seg,
                   ('0x' || substr(hx, p * 2 + 1, 2))::INT AS val
            FROM pos
        ),
        per_seg AS (
            SELECT doc_id, seg, sum(val) AS s, count(*) AS c
            FROM b GROUP BY 1, 2
        ),
        tot AS (
            SELECT doc_id, sum(s) AS gs, sum(c) AS gn
            FROM per_seg GROUP BY 1
        ),
        sigs AS (
            SELECT p.doc_id,
                   sum(CASE WHEN p.s * t.gn > t.gs * p.c
                            THEN (1::BIGINT << p.seg) ELSE 0 END)::BIGINT
                       AS ahash
            FROM per_seg p JOIN tot t USING (doc_id)
            GROUP BY p.doc_id
        ),
        blocked AS (
            SELECT doc_id, ahash, ahash >> {AHASH_SEGMENTS - 8} AS pre
            FROM sigs
        )
        SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
               bit_count(xor(x.ahash, y.ahash))::BIGINT AS hamming
        FROM blocked x JOIN blocked y ON x.pre = y.pre
        WHERE x.doc_id < y.doc_id
          AND bit_count(xor(x.ahash, y.ahash)) <= {AHASH_MAX_HAMMING}
    """,
    "multimodal_meta": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               strlen(text) AS byte_len,
               sha256(text) AS sha256
        FROM documents
    """,
    "multimodal_decode": _DECODED,
    "multimodal_frames": """
        WITH videos AS (
          SELECT doc_id, CAST(strlen(text) // 100 AS INT) AS n_frames
          FROM documents
          WHERE doc_id % 3 = 2 AND strlen(text) // 100 > 0
        )
        SELECT v.doc_id,
               CAST(f.frame_idx AS INT) AS frame_idx,
               round(f.frame_idx / 25.0, 6) AS ts_sec
        FROM videos v,
             LATERAL (SELECT unnest(generate_series(0, v.n_frames - 1, 10)) AS frame_idx) f
    """,
    "multimodal_audio_chunks": """
        WITH audio AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
        ),
        chunks AS (
            SELECT doc_id, i AS chunk_idx,
                   substr(text, i * 256 + 1, 256) AS s
            FROM audio,
                 LATERAL (SELECT unnest(generate_series(0,
                     CAST(ceil(strlen(text) / 256.0) AS INT) - 1)) AS i)
        ),
        byted AS (
            SELECT doc_id, chunk_idx, s,
                   list_transform(generate_series(1, strlen(s)),
                                  j -> ord(substr(s, j, 1))) AS bs
            FROM chunks
        )
        SELECT doc_id,
               CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(strlen(s) AS INT) AS n_bytes,
               [list_aggregate(bs, 'avg'),
                list_aggregate(bs, 'min')::DOUBLE,
                list_aggregate(bs, 'max')::DOUBLE] AS features
        FROM byted
    """,
    "multimodal_resize": f"""
        WITH decoded AS ({_DECODED})
        SELECT doc_id, width, height,
               CAST(greatest(1, floor(width * least(1.0, 256.0 / greatest(width, height)))) AS INT) AS out_w,
               CAST(greatest(1, floor(height * least(1.0, 256.0 / greatest(width, height)))) AS INT) AS out_h
        FROM decoded
    """,
}
