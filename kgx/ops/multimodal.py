"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing — schemas, Arrow batch shapes, mapInPandas signatures,
partitioning — is real and tested; the actual media decoding is STUBBED with a
deterministic fake (this container has no PIL/ffmpeg/torchaudio), behind an
import-try so a real decoder drops in per-worker without touching the plan:

    def _decode_real(payload: bytes) -> np.ndarray:   # pragma: no cover
        from PIL import Image                         # not in this container
        ...

Every operator is an iterator-of-batches mapInPandas (model/decoder loads once
per worker, SURVEY.md §2.11 'Model inference' row), never per-row Python.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx.util import local_frame

ASSETS = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_s", T.DoubleType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

try:  # pragma: no cover — the real decoder path, absent in this container
    import PIL.Image  # noqa: F401

    HAVE_REAL_DECODER = True
except ImportError:
    HAVE_REAL_DECODER = False


def synth_assets(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media corpus (seeded payload bytes + plausible meta)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        meta = {
            "width": 64 + 16 * (i % 8) if kind != "audio" else None,
            "height": 48 + 16 * (i % 6) if kind != "audio" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_s": round(rng.uniform(1, 30), 2) if kind != "image" else None,
            "codec": {"image": "png", "audio": "pcm16", "video": "h264"}[kind],
        }
        rows.append((i, kind, payload, meta))
    return local_frame(spark, rows, ASSETS)


def _fake_decode(payload: bytes, meta: dict) -> np.ndarray:
    """Deterministic stand-in for image decode: seeded uint8 HxWx3 buffer."""
    w, h = meta["width"], meta["height"]
    seed = zlib.crc32(payload) & 0xFFFFFFFF
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _real_decode(payload: bytes, meta: dict) -> np.ndarray:  # pragma: no cover
    """PIL decode path — active automatically when PIL is importable.

    Undecodable payloads (synthetic fixtures, corrupt files — a certainty in
    any web-scale corpus) fall back to the deterministic fake rather than
    killing the task: at 100 TB a job must skip bad media, not die on it.
    """
    import io

    import PIL.Image

    try:
        return np.asarray(PIL.Image.open(io.BytesIO(payload)).convert("RGB"))
    except Exception:
        return _fake_decode(payload, meta)


DECODED = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixels", T.BinaryType(), False),  # HxWx3 uint8, row-major
    ]
)


def decode_images(assets: DataFrame, decoder=None) -> DataFrame:
    """image assets -> raw pixel buffers.

    The decoder is resolved ON THE DRIVER (closure-captured into the batch
    fn): the real PIL path when PIL is importable, else the deterministic
    fake — installing a real decoder activates it without touching the plan.
    ``decoder`` overrides for tests / custom codecs: (payload, meta) -> HxWx3
    uint8 array.
    """
    decode = decoder or (_real_decode if HAVE_REAL_DECODER else _fake_decode)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a heavier decoder would construct its state ONCE here, per worker
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "pixels": []}
            for row in pdf.itertuples(index=False):
                img = decode(bytes(row.payload), row.meta)
                out["asset_id"].append(row.asset_id)
                out["width"].append(int(img.shape[1]))
                out["height"].append(int(img.shape[0]))
                out["pixels"].append(img.tobytes())
            yield pd.DataFrame(out)

    return (
        assets.filter(F.col("kind") == "image")
        .select("asset_id", "payload", "meta")
        .mapInPandas(gen, schema=DECODED)
    )


def resize_images(decoded: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize on raw buffers — numpy-vectorized per batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "pixels": []}
            for row in pdf.itertuples(index=False):
                img = np.frombuffer(bytes(row.pixels), dtype=np.uint8).reshape(
                    row.height, row.width, 3
                )
                ys = (np.arange(out_h) * row.height // out_h).clip(0, row.height - 1)
                xs = (np.arange(out_w) * row.width // out_w).clip(0, row.width - 1)
                res = img[ys][:, xs]
                out["asset_id"].append(row.asset_id)
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["pixels"].append(res.tobytes())
            yield pd.DataFrame(out)

    return decoded.mapInPandas(gen, schema=DECODED)


EMBED = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def image_embeddings(decoded: DataFrame, dim: int = 32) -> DataFrame:
    """Feature extraction seam: mean-pooled channel histogram (deterministic
    fake for a vision encoder; a real model loads once per worker)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, vecs = [], []
            for row in pdf.itertuples(index=False):
                img = np.frombuffer(bytes(row.pixels), dtype=np.uint8)
                hist, _ = np.histogram(img, bins=dim, range=(0, 256))
                v = hist.astype(np.float64)
                n = np.linalg.norm(v)
                vecs.append((v / n if n else v).astype(np.float32).tolist())
                ids.append(row.asset_id)
            yield pd.DataFrame({"asset_id": ids, "embedding": vecs})

    return decoded.mapInPandas(gen, schema=EMBED)


FRAMES = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def _digest_frame(payload: bytes, k: int) -> bytes:
    """Default frame synthesizer: content-addressed fake frame bytes."""
    return hashlib.sha256(payload + k.to_bytes(4, "big")).digest()


def sample_frames(assets: DataFrame, fps: float = 1.0, frame_fn=None) -> DataFrame:
    """video assets -> one fake frame per sampled timestamp (UDTF shape:
    one input row fans out to duration*fps output rows inside the batch).

    ``frame_fn(payload, k) -> bytes`` overrides the frame synthesizer —
    resolved on the driver and closure-captured, like decode_images'
    ``decoder`` — so tests and the oracle query can substitute a closed-form
    frame an independent engine can recompute."""
    synth = frame_fn or _digest_frame

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "frame": []}
            for row in pdf.itertuples(index=False):
                n_frames = max(1, int((row.meta["duration_s"] or 1) * fps))
                for k in range(n_frames):
                    out["asset_id"].append(row.asset_id)
                    out["frame_idx"].append(k)
                    out["frame"].append(synth(bytes(row.payload), k))
            yield pd.DataFrame(out)

    return (
        assets.filter(F.col("kind") == "video")
        .select("asset_id", "payload", "meta")
        .mapInPandas(gen, schema=FRAMES)
    )


# --- m01: DuckDB-oracled decode statistics (driver contract entry) -------------------- #
def _cyclic_decode(payload: bytes, meta: dict) -> np.ndarray:
    """SQL-mirrorable decoder: pixel i = payload[i mod len(payload)]. Unlike
    _fake_decode (PCG-seeded noise, not expressible in SQL) this gives the
    decode -> feature chain a closed form an independent engine can verify,
    so the multimodal mapInPandas plumbing gets a value-exact oracle row like
    every other op family."""
    w, h = meta["width"], meta["height"]
    buf = np.frombuffer(payload, dtype=np.uint8)
    idx = np.arange(h * w * 3, dtype=np.int64) % len(buf)
    return buf[idx].reshape(h, w, 3)


def _doc_assets(spark: SparkSession, sf: str, kind: str) -> DataFrame:
    """Synthetic assets derived deterministically from the documents table:
    payload = UTF-8 bytes of the (ASCII-sanitized) first 256 chars of each
    document, dims (8+id%8) x (4+id%4), video duration 1+id%7 seconds — all
    closed-form so an independent SQL engine can reconstruct every byte."""
    from kgx.ops import load

    d = load(spark, sf, "documents")
    s = F.regexp_replace(F.substring("text", 1, 256), "[^ -~]", "")
    return (
        d.filter(F.col("doc_id") < 64)
        .select(F.col("doc_id").alias("asset_id"), s.alias("s"))
        .filter(F.length("s") > 0)
        .select(
            "asset_id",
            F.lit(kind).alias("kind"),
            F.encode(F.col("s"), "UTF-8").alias("payload"),
            F.struct(
                (F.lit(8) + F.col("asset_id") % 8).cast("int").alias("width"),
                (F.lit(4) + F.col("asset_id") % 4).cast("int").alias("height"),
                F.lit(None).cast("int").alias("sample_rate"),
                (
                    (F.lit(1) + F.col("asset_id") % 7).cast("double")
                    if kind == "video"
                    else F.lit(None).cast("double")
                ).alias("duration_s"),
                F.lit({"image": "raw", "video": "h264"}.get(kind, kind)).alias("codec"),
            ).alias("meta"),
        )
    )


def _asset_lens(assets: DataFrame) -> DataFrame:
    return assets.select(
        "asset_id", F.octet_length("payload").cast("long").alias("n_bytes")
    )


def _pixel_stats(dec: DataFrame) -> DataFrame:
    """(asset_id, width, height, pixels) -> integer pixel_sum per image."""

    def stats_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "width": [], "height": [], "pixel_sum": []}
            for row in pdf.itertuples(index=False):
                buf = np.frombuffer(bytes(row.pixels), dtype=np.uint8)
                out["asset_id"].append(row.asset_id)
                out["width"].append(int(row.width))
                out["height"].append(int(row.height))
                out["pixel_sum"].append(int(buf.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return dec.mapInPandas(
        stats_gen, schema="asset_id long, width long, height long, pixel_sum long"
    )


def m01_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> synthetic image assets -> decode_images -> per-image pixel
    statistics, end-to-end through the real multimodal plumbing (binary
    payloads, meta struct, Arrow batch decode), with a value-exact DuckDB
    oracle: the cyclic decode makes pixel_sum = full_cycles * byte_sum +
    prefix_byte_sum — pure integer arithmetic both engines compute exactly."""
    assets = _doc_assets(spark, sf, "image")
    st = _pixel_stats(decode_images(assets, decoder=_cyclic_decode))
    return st.join(F.broadcast(_asset_lens(assets)), "asset_id").select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        "n_bytes",
        "pixel_sum",
        F.round(
            F.col("pixel_sum") / (F.col("width") * F.col("height") * 3), 6
        ).alias("mean_pixel"),
    )


M01_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(substring(text, 1, 256), '[^ -~]', '', 'g') AS s
  FROM documents
  WHERE doc_id < 64
),
v AS (
  SELECT doc_id, s, length(s) AS L,
         8 + doc_id % 8 AS width, 4 + doc_id % 4 AS height
  FROM t WHERE length(s) > 0
),
x AS (
  SELECT doc_id, width, height, L,
         width * height * 3 AS npix,
         COALESCE(list_sum(list_transform(string_split(s, ''), c -> unicode(c))), 0) AS tot,
         CASE WHEN (width * height * 3) % L = 0 THEN 0
              ELSE COALESCE(list_sum(list_transform(
                       string_split(substring(s, 1, (width * height * 3) % L), ''),
                       c -> unicode(c))), 0)
         END AS pre
  FROM v
)
SELECT doc_id, width, height,
       CAST(L AS BIGINT) AS n_bytes,
       CAST((npix // L) * tot + pre AS BIGINT) AS pixel_sum,
       ROUND(CAST((npix // L) * tot + pre AS DOUBLE) / npix, 6) AS mean_pixel
FROM x
"""

# --- m02: DuckDB-oracled frame sampling (UDTF fan-out) ------------------------------- #
_FRAME_LEN = 32
_FRAME_STRIDE = 7


def _cyclic_frame(payload: bytes, k: int) -> bytes:
    """SQL-mirrorable frame synthesizer: frame k = the 32 payload bytes
    starting at offset 7k (cyclic). Unlike the default sha-digest frame this
    has a closed form, so the fan-out AND the frame contents get a
    value-exact oracle."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    idx = (k * _FRAME_STRIDE + np.arange(_FRAME_LEN, dtype=np.int64)) % len(buf)
    return buf[idx].tobytes()


def m02_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> synthetic video assets -> sample_frames -> per-frame byte
    sums. Exercises the UDTF shape (one asset row fans out to duration*fps
    frame rows inside the Arrow batch) end-to-end: the oracle independently
    reconstructs both the fan-out (1 + doc_id % 7 frames at fps=1) and every
    frame's bytes (cyclic 32-byte windows at stride 7), so a wrong frame
    count, index, or slice all break the hash."""
    assets = _doc_assets(spark, sf, "video")
    frames = sample_frames(assets, fps=1.0, frame_fn=_cyclic_frame)

    def sum_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "frame_sum": []}
            for row in pdf.itertuples(index=False):
                buf = np.frombuffer(bytes(row.frame), dtype=np.uint8)
                out["asset_id"].append(row.asset_id)
                out["frame_idx"].append(int(row.frame_idx))
                out["frame_sum"].append(int(buf.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    st = frames.mapInPandas(
        sum_gen, schema="asset_id long, frame_idx long, frame_sum long"
    )
    return st.join(F.broadcast(_asset_lens(assets)), "asset_id").select(
        F.col("asset_id").alias("doc_id"),
        "frame_idx",
        (F.lit(1) + F.col("asset_id") % 7).cast("long").alias("n_frames"),
        "n_bytes",
        "frame_sum",
    )


M02_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(substring(text, 1, 256), '[^ -~]', '', 'g') AS s
  FROM documents
  WHERE doc_id < 64
),
v AS (
  SELECT doc_id, s, length(s) AS L, 1 + doc_id % 7 AS n_frames
  FROM t WHERE length(s) > 0
),
g AS (
  SELECT doc_id, s, L, n_frames, k
  FROM v, range(0, 7) tk(k)
  WHERE k < n_frames
)
SELECT doc_id,
       CAST(k AS BIGINT) AS frame_idx,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(L AS BIGINT) AS n_bytes,
       CAST(SUM(unicode(substring(s, ((k * 7 + i) % L) + 1, 1))) AS BIGINT)
           AS frame_sum
FROM g, range(0, 32) ti(i)
GROUP BY doc_id, k, n_frames, L
"""


# --- m03: DuckDB-oracled nearest-neighbor resize -------------------------------------- #
_RESIZE_W = 8
_RESIZE_H = 6


def m03_resize_stats(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> image assets -> cyclic decode -> resize_images(8x6,
    nearest-neighbor) -> pixel statistics. The oracle recomputes every
    resized pixel as payload[((y*sh//6)*sw + (x*sw//8))*3 + c mod L]: the
    integer source-index arithmetic IS the nearest-neighbor resize, so a
    wrong index map (off-by-one, x/y swap, channel misorder) breaks the
    value hash."""
    assets = _doc_assets(spark, sf, "image")
    dec = decode_images(assets, decoder=_cyclic_decode)
    st = _pixel_stats(resize_images(dec, _RESIZE_W, _RESIZE_H))
    return st.join(F.broadcast(_asset_lens(assets)), "asset_id").select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        "n_bytes",
        "pixel_sum",
        F.round(
            F.col("pixel_sum") / (F.lit(_RESIZE_W * _RESIZE_H * 3)), 6
        ).alias("mean_pixel"),
    )


M03_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(substring(text, 1, 256), '[^ -~]', '', 'g') AS s
  FROM documents
  WHERE doc_id < 64
),
v AS (
  SELECT doc_id, s, length(s) AS L,
         8 + doc_id % 8 AS sw, 4 + doc_id % 4 AS sh
  FROM t WHERE length(s) > 0
),
g AS (
  SELECT doc_id, L,
         SUM(unicode(substring(
             s,
             ((((y * sh) // 6) * sw + ((x * sw) // 8)) * 3 + c) % L + 1,
             1))) AS ps
  FROM v, range(0, 6) ty(y), range(0, 8) tx(x), range(0, 3) tc(c)
  GROUP BY doc_id, L
)
SELECT doc_id,
       CAST(8 AS BIGINT) AS width,
       CAST(6 AS BIGINT) AS height,
       CAST(L AS BIGINT) AS n_bytes,
       CAST(ps AS BIGINT) AS pixel_sum,
       ROUND(CAST(ps AS DOUBLE) / 144, 6) AS mean_pixel
FROM g
"""


# --- m04: DuckDB-oracled embedding (normalized 32-bin histogram) ---------------------- #
def m04_embed_hist(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> image assets -> cyclic decode -> image_embeddings (the
    mean-pooled 32-bin channel histogram, L2-normalized) -> long format
    (doc_id, bin, weight). The oracle reconstructs each histogram bin from
    the payload's byte distribution (pixel j = byte (j mod L), so bin counts
    are cycle-count arithmetic over the 256 byte positions), then mirrors the
    exact float pipeline: integer counts -> float64 norm (exact: integer
    sums < 2^53) -> float32 quantization -> round 6."""
    assets = _doc_assets(spark, sf, "image")
    dec = decode_images(assets, decoder=_cyclic_decode)
    emb = image_embeddings(dec, dim=32)
    return emb.select(
        F.col("asset_id").alias("doc_id"),
        F.posexplode("embedding").alias("bin", "w32"),
    ).select(
        "doc_id",
        F.col("bin").cast("long").alias("bin"),
        F.round(F.col("w32").cast("double"), 6).alias("weight"),
    )


M04_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(substring(text, 1, 256), '[^ -~]', '', 'g') AS s
  FROM documents
  WHERE doc_id < 64
),
v AS (
  SELECT doc_id, s, length(s) AS L,
         (8 + doc_id % 8) * (4 + doc_id % 4) * 3 AS npix
  FROM t WHERE length(s) > 0
),
bytes AS (
  SELECT doc_id,
         unicode(substring(s, p + 1, 1)) // 8 AS bin,
         npix // L + CASE WHEN p < npix % L THEN 1 ELSE 0 END AS cnt
  FROM v, range(0, 256) tp(p)
  WHERE p < L
),
grid AS (
  SELECT b.doc_id, tb.bin
  FROM (SELECT DISTINCT doc_id FROM v) b, range(0, 32) tb(bin)
),
hist AS (
  SELECT g.doc_id, g.bin, COALESCE(SUM(y.cnt), 0) AS h
  FROM grid g
  LEFT JOIN bytes y ON y.doc_id = g.doc_id AND y.bin = g.bin
  GROUP BY g.doc_id, g.bin
),
norms AS (
  SELECT doc_id, sqrt(SUM(CAST(h AS DOUBLE) * h)) AS nrm FROM hist GROUP BY doc_id
)
SELECT hist.doc_id,
       CAST(hist.bin AS BIGINT) AS bin,
       ROUND(CAST(CAST(CAST(hist.h AS DOUBLE) / norms.nrm AS REAL) AS DOUBLE), 6)
           AS weight
FROM hist JOIN norms ON hist.doc_id = norms.doc_id
"""


QUERIES = {
    "m01_decode_stats": (m01_decode_stats, M01_SQL),
    "m02_frame_sample": (m02_frame_sample, M02_SQL),
    "m03_resize_stats": (m03_resize_stats, M03_SQL),
    "m04_embed_hist": (m04_embed_hist, M04_SQL),
}
