"""Multimodal columns: image/audio/video as opaque `binary` columns with
typed metadata, processed through Arrow-batched Pandas plumbing
(mapInPandas) — the shape a 100 TB media pipeline needs.

What's REAL here (and tested): the schema contract (binary payload +
metadata struct), hash-partitioning of media rows, the mapInPandas batch
path (Arrow transfer, per-batch vectorized work, stable output schema),
a deterministic fake "decode" whose outputs a DuckDB oracle can
reproduce, AND a real container decode path:

- WAV audio is fully decoded with the stdlib `wave` module (channels,
  sample rate, frame count, duration) plus an RMS amplitude over the
  raw PCM frames — no external library needed.
- PNG / GIF / BMP / JPEG dimensions are parsed from the container
  headers in pure Python (struct/byte scanning).
- Full pixel decode (mean luma) runs only when PIL is importable; the
  probe happens at runtime inside the executor batch function.

What's STUBBED: nothing raises anymore — the only boundary left is
library absence: `pixel_mean` is null without PIL, and unrecognized
containers are routed to a `decode_error` column instead of failing the
job (same route-don't-crash philosophy as the CSV dead-letter queue).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import Query

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_md5_8", T.StringType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)

# Real container decode: one wide row per media item; image-only and
# audio-only fields are null for the other modality, errors are routed
# to decode_error instead of raised (a 100 TB decode job must not die
# on one corrupt blob).
REAL_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("container", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_mean", T.DoubleType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate_hz", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms_amplitude", T.DoubleType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from the documents table: payload =
    UTF-8 bytes of the text (an opaque blob as far as the pipeline is
    concerned), typed as image/audio by doc_id parity."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias(
            "media_type"
        ),
        "source",
    )


# ---------------------------------------------------------------------------
# Real container parsers (pure Python / stdlib; run inside executor batches)
# ---------------------------------------------------------------------------


def _sniff_container(b: bytes) -> str:
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if b[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if b[:2] == b"BM":
        return "bmp"
    if b[:2] == b"\xff\xd8":
        return "jpeg"
    return "unknown"


def _image_dims(container: str, b: bytes) -> tuple[int, int]:
    """Width/height from container headers, no image library needed."""
    if container == "png":
        # signature(8) + IHDR length(4) + 'IHDR'(4) + width(4) height(4)
        if b[12:16] != b"IHDR":
            raise ValueError("png missing IHDR")
        w, h = struct.unpack(">II", b[16:24])
        return w, h
    if container == "gif":
        w, h = struct.unpack("<HH", b[6:10])
        return w, h
    if container == "bmp":
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h)  # negative height = top-down DIB
    if container == "jpeg":
        # scan markers for a start-of-frame (SOF0..SOF15 except DHT/DAC/RST)
        i = 2
        n = len(b)
        while i + 9 < n:
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return w, h
            i += 2 + seg_len
        raise ValueError("jpeg has no SOF marker")
    raise ValueError(f"not an image container: {container}")


def _wav_decode(b: bytes) -> tuple[int, int, int, float, float]:
    """Fully decode a WAV: (channels, rate, frames, duration_ms, rms).

    Real decode via the stdlib wave module; RMS computed over the raw
    PCM samples (16-bit little-endian path vectorized via struct)."""
    with wave.open(io.BytesIO(b)) as w:
        channels = w.getnchannels()
        rate = w.getframerate()
        frames = w.getnframes()
        width = w.getsampwidth()
        pcm = w.readframes(frames)
    duration_ms = frames * 1000.0 / rate if rate else 0.0
    rms = 0.0
    if width == 2 and len(pcm) >= 2:
        n = len(pcm) // 2
        samples = struct.unpack(f"<{n}h", pcm[: n * 2])
        rms = (sum(s * s for s in samples) / n) ** 0.5
    return channels, rate, frames, duration_ms, rms


def _probe_pil():
    """Runtime probe for PIL — returns the Image module or None."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _decode_one(b: bytes, pil_image) -> dict:
    out = {
        "container": _sniff_container(bytes(b)),
        "byte_len": len(b),
        "width": None,
        "height": None,
        "pixel_mean": None,
        "channels": None,
        "sample_rate_hz": None,
        "n_frames": None,
        "duration_ms": None,
        "rms_amplitude": None,
        "decode_error": None,
    }
    try:
        c = out["container"]
        if c == "wav":
            ch, rate, frames, dur, rms = _wav_decode(bytes(b))
            out.update(
                channels=ch,
                sample_rate_hz=rate,
                n_frames=frames,
                duration_ms=dur,
                rms_amplitude=rms,
            )
        elif c in ("png", "gif", "bmp", "jpeg"):
            w, h = _image_dims(c, bytes(b))
            out.update(width=w, height=h)
            if pil_image is not None:  # full pixel decode only with PIL
                img = pil_image.open(io.BytesIO(bytes(b))).convert("L")
                px = list(img.getdata())
                out["pixel_mean"] = sum(px) / len(px) if px else 0.0
        else:
            out["decode_error"] = "unrecognized container"
    except Exception as e:  # corrupt blob → routed, not raised
        out["decode_error"] = f"{type(e).__name__}: {e}"
    return out


def decode_media_real(media: DataFrame) -> DataFrame:
    """Real container decode via mapInPandas: WAV fully decoded with the
    stdlib wave module, image dimensions parsed from PNG/GIF/BMP/JPEG
    headers, pixel stats when PIL is importable (probed per executor at
    runtime).  Corrupt/unknown payloads get decode_error instead of
    failing the task."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pil_image = _probe_pil()  # probed on the executor, once per task
        for pdf in batches:
            rows = [_decode_one(b, pil_image) for b in pdf["payload"]]
            meta = pd.DataFrame(rows)
            meta.insert(0, "media_id", pdf["media_id"].values)
            meta.insert(1, "media_type", pdf["media_type"].values)
            yield meta.astype(
                {
                    "byte_len": "int64",
                    "width": "Int32",
                    "height": "Int32",
                    "channels": "Int32",
                    "sample_rate_hz": "Int32",
                    "n_frames": "Int64",
                }
            )

    return media.mapInPandas(  # no pre-shuffle: scan partitions are
        # already independent, size-bounded slices (r13 — the
        # repartition moved every payload byte for no semantic gain)
        
        _decode, schema=REAL_DECODED_SCHEMA
    )


def decode_media(
    media: DataFrame, use_deterministic_fake: bool = False
) -> DataFrame:
    """Decode/feature-extract media payloads via mapInPandas.

    use_deterministic_fake=True runs the oracle-checkable deterministic
    path (payload length, md5 prefix, fake dimensions).  Otherwise the
    REAL decode runs (see decode_media_real): stdlib WAV decode, pure-
    Python image header parse, PIL pixel stats when importable.
    """
    if not use_deterministic_fake:
        return decode_media_real(media)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one Arrow batch at a time — bounded memory
            payloads = pdf["payload"]
            digest = payloads.map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()[:8]
            )
            n = payloads.map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": n,
                    "content_md5_8": digest,
                    # fake dimensions derived from content length — stands
                    # in for decoded width/height deterministically
                    "fake_width": (n % 1920 + 1).astype("int32"),
                    "fake_height": (n % 1080 + 1).astype("int32"),
                }
            )

    return media.mapInPandas(  # no pre-shuffle: scan partitions are
        # already independent, size-bounded slices (r13 — the
        # repartition moved every payload byte for no semantic gain)
        
        _decode, schema=DECODED_SCHEMA
    )


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: documents -> binary media -> mapInPandas decode
    (deterministic fake) -> typed metadata."""
    return decode_media(
        media_from_documents(spark, sf_dir), use_deterministic_fake=True
    )


# DuckDB twin of the deterministic fake (md5 is identical in both engines;
# payload bytes == UTF-8 text bytes, so strlen/md5 over text match)
_DECODE_SQL = """
SELECT
  doc_id AS media_id,
  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
  strlen(text)::BIGINT AS byte_len,
  substr(md5(text), 1, 8) AS content_md5_8,
  (strlen(text) % 1920 + 1)::INT AS fake_width,
  (strlen(text) % 1080 + 1)::INT AS fake_height
FROM documents
"""

def multimodal_format_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asset inventory over the decoded metadata: per media type, the
    counts/bytes/dimension envelope a storage planner reads before
    sharding a multimodal corpus.  One aggregate over the Arrow-decoded
    frame — the Python stage emits typed columns and the rollup is
    JVM-side, so adding analytics on top of a mapInPandas decode costs
    one map-side-combined shuffle of |media_type| rows."""
    decoded = multimodal_decode(spark, sf_dir)
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum("byte_len").cast("long").alias("total_bytes"),
            (
                F.sum("byte_len").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_bytes"),
            F.countDistinct("content_md5_8")
            .cast("long")
            .alias("n_distinct_payloads"),
            F.max("fake_width").cast("long").alias("max_width"),
            F.max("fake_height").cast("long").alias("max_height"),
        )
        .orderBy("media_type")
    )


_FORMAT_ROLLUP_SQL = f"""
WITH decoded AS ({_DECODE_SQL})
SELECT media_type,
  COUNT(*)::BIGINT AS n_assets,
  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
  CAST(SUM(byte_len) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS avg_bytes,
  COUNT(DISTINCT content_md5_8)::BIGINT AS n_distinct_payloads,
  MAX(fake_width)::BIGINT AS max_width,
  MAX(fake_height)::BIGINT AS max_height
FROM decoded
GROUP BY media_type
ORDER BY media_type
"""

# ---------------------------------------------------------------------------
# video frame sampling (1 -> many mapInPandas) and resize planning
# ---------------------------------------------------------------------------
#
# The two remaining media-pipeline verbs: uniform frame sampling (the
# K-frames-per-clip policy every video training pipeline runs before
# feature extraction) and aspect-preserving resize planning.  As with
# decode, the DECODE of real codecs is environment-gated; what is real
# and tested is the Spark-side plumbing — the 1->many Arrow batch
# shape (one input clip emits K frame rows), hash partitioning, stable
# output schemas, and integer-exact sampling/resize math a DuckDB twin
# reproduces.  Swapping the fake framer for cv2/pyav touches only the
# body of the batch function.

FRAME_BYTES = 64  # fake codec: one "frame" per 64 payload bytes
FRAME_K = 4  # uniform sample size per clip
FRAME_MS = 100  # 10 fps
RESIZE_MAX = 256  # max output side


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_md5_8", T.StringType()),
    ]
)


def sample_frames(media: DataFrame) -> DataFrame:
    """Uniform K-frame sample per clip: indices floor(i*n/K), i<K,
    de-duplicated (short clips yield fewer than K).  Emits one row per
    sampled frame — the 1->many mapInPandas shape."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k.name: [] for k in FRAME_SCHEMA.fields
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b) // FRAME_BYTES
                if n == 0:
                    continue
                for idx in sorted({i * n // FRAME_K for i in range(FRAME_K)}):
                    frame = b[idx * FRAME_BYTES : (idx + 1) * FRAME_BYTES]
                    out["media_id"].append(mid)
                    out["n_frames"].append(n)
                    out["frame_idx"].append(idx)
                    out["frame_ts_ms"].append(idx * FRAME_MS)
                    out["frame_md5_8"].append(
                        hashlib.md5(frame).hexdigest()[:8]
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(  # no pre-shuffle: scan partitions are
        # already independent, size-bounded slices (r13 — the
        # repartition moved every payload byte for no semantic gain)
        
        _frames, schema=FRAME_SCHEMA
    )


def multimodal_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return sample_frames(media_from_documents(spark, sf_dir))


# ASCII ASSUMPTION: the Spark side slices the UTF-8 payload BYTES while
# this twin mixes byte-based strlen() with character-based substr();
# DuckDB cannot slice BLOBs, so the twin is only cell-exact when
# byte==character — i.e. pure-ASCII text.  The generated corpus is
# ASCII (guarded by tests/test_reference_data.py::test_documents_ascii);
# a non-ASCII corpus would shift frame boundaries and frame_md5_8 here
# while the Spark result stays byte-correct.
_FRAME_SQL = f"""
WITH clips AS (
  SELECT doc_id AS media_id, text,
    strlen(text) // {FRAME_BYTES} AS n
  FROM documents
  WHERE strlen(text) >= {FRAME_BYTES}
),
idx AS (
  SELECT media_id, text, n,
    unnest(list_distinct(list_transform(
      range(0, {FRAME_K}), i -> (i * n) // {FRAME_K}))) AS frame_idx
  FROM clips
)
SELECT media_id, n::BIGINT AS n_frames, frame_idx::BIGINT AS frame_idx,
  (frame_idx * {FRAME_MS})::BIGINT AS frame_ts_ms,
  substr(md5(substr(text, (frame_idx * {FRAME_BYTES})::INT + 1,
                    {FRAME_BYTES})), 1, 8) AS frame_md5_8
FROM idx
"""


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("target_w", T.IntegerType()),
        T.StructField("target_h", T.IntegerType()),
        T.StructField("resized", T.BooleanType()),
        T.StructField("out_pixels", T.LongType()),
    ]
)


def plan_resize(decoded: DataFrame) -> DataFrame:
    """Aspect-preserving resize plan over decoded dimensions: cap the
    longer side at RESIZE_MAX with INTEGER arithmetic only
    (side * RESIZE_MAX // max_side, floor at 1) so both engines agree
    bit-for-bit; pass-through when already inside the cap.  The pixel
    work itself is the environment-gated stage; the plan (and the
    Arrow batch plumbing) is what the engine owns."""

    def _plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["fake_width"].astype("int64")
            h = pdf["fake_height"].astype("int64")
            mx = w.where(w >= h, h)
            resized = mx > RESIZE_MAX
            tw = (w * RESIZE_MAX // mx).clip(lower=1).where(resized, w)
            th = (h * RESIZE_MAX // mx).clip(lower=1).where(resized, h)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "target_w": tw.astype("int32"),
                    "target_h": th.astype("int32"),
                    "resized": resized,
                    "out_pixels": (tw * th).astype("int64"),
                }
            )

    return decoded.mapInPandas(_plan, schema=RESIZE_SCHEMA)


def multimodal_resize_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return plan_resize(
        decode_media(
            media_from_documents(spark, sf_dir),
            use_deterministic_fake=True,
        )
    )


_RESIZE_SQL = f"""
WITH decoded AS ({_DECODE_SQL}),
dims AS (
  SELECT media_id, fake_width::BIGINT AS w, fake_height::BIGINT AS h,
    GREATEST(fake_width, fake_height)::BIGINT AS mx
  FROM decoded
)
SELECT media_id, w::INT AS width, h::INT AS height,
  CASE WHEN mx > {RESIZE_MAX}
       THEN GREATEST(w * {RESIZE_MAX} // mx, 1) ELSE w END::INT
    AS target_w,
  CASE WHEN mx > {RESIZE_MAX}
       THEN GREATEST(h * {RESIZE_MAX} // mx, 1) ELSE h END::INT
    AS target_h,
  mx > {RESIZE_MAX} AS resized,
  (CASE WHEN mx > {RESIZE_MAX}
        THEN GREATEST(w * {RESIZE_MAX} // mx, 1) ELSE w END
   * CASE WHEN mx > {RESIZE_MAX}
          THEN GREATEST(h * {RESIZE_MAX} // mx, 1) ELSE h END)::BIGINT
    AS out_pixels
FROM dims
"""


# ---------------------------------------------------------------------------
# content-hash dedup — the first pass of any media-corpus dedup
# ---------------------------------------------------------------------------
#
# Before any perceptual hashing, a 100 TB media pipeline removes
# byte-identical assets: group by the payload's full md5 (computed on
# the BINARY column JVM-side — the payload never crosses to Python),
# keep the smallest id, count the copies.  Map-side combinable
# hash-grain aggregate; only hashes shuffle, never payloads.


def multimodal_content_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(media_type, n_assets, n_distinct, n_dup_assets, bytes_total,
    bytes_after_dedup) — the storage win of payload-hash dedup per
    media type (exact byte accounting; keeper = one copy per hash)."""
    media = media_from_documents(spark, sf_dir)
    groups = (
        media.select(
            F.md5(F.col("payload")).alias("content_md5"),
            "media_type",
            F.length(F.col("payload")).cast("long").alias("nbytes"),
        )
        .groupBy("content_md5", "media_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.sum("nbytes").cast("long").alias("bytes_all"),
            F.min("nbytes").cast("long").alias("bytes_one"),
        )
    )
    return (
        groups.groupBy("media_type")
        .agg(
            F.sum("n_copies").cast("long").alias("n_assets"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("n_copies") - 1).cast("long").alias("n_dup_assets"),
            F.sum("bytes_all").cast("long").alias("bytes_total"),
            F.sum("bytes_one").cast("long").alias("bytes_after_dedup"),
        )
        .orderBy("media_type")
    )


_CONTENT_DEDUP_SQL = """
WITH groups AS (
  SELECT md5(text) AS content_md5,
    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
      AS media_type,
    COUNT(*)::BIGINT AS n_copies,
    CAST(SUM(strlen(text)) AS BIGINT) AS bytes_all,
    CAST(MIN(strlen(text)) AS BIGINT) AS bytes_one
  FROM documents
  GROUP BY 1, 2
)
SELECT media_type,
  CAST(SUM(n_copies) AS BIGINT) AS n_assets,
  COUNT(*)::BIGINT AS n_distinct,
  CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_assets,
  CAST(SUM(bytes_all) AS BIGINT) AS bytes_total,
  CAST(SUM(bytes_one) AS BIGINT) AS bytes_after_dedup
FROM groups GROUP BY media_type
ORDER BY media_type
"""


QUERIES = {
    "multimodal_decode": Query(multimodal_decode, _DECODE_SQL),
    "multimodal_content_dedup": Query(
        multimodal_content_dedup, _CONTENT_DEDUP_SQL
    ),
    "multimodal_format_rollup": Query(
        multimodal_format_rollup, _FORMAT_ROLLUP_SQL
    ),
    "multimodal_frame_sample": Query(multimodal_frame_sample, _FRAME_SQL),
    "multimodal_resize_plan": Query(multimodal_resize_plan, _RESIZE_SQL),
}
