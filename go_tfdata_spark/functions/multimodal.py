"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference ships real image codecs on its typed rows (AddImage PNG
encode, GetImage JPEG/PNG/GIF decode — tfdata/core/example.go:131-146).
The full GetImage format set is decoded FOR REAL here by dependency-free
codecs: PNG/PPM (functions/png.py — stdlib zlib + numpy, all five filters),
GIF (functions/gif.py — LZW both directions, interlace, transparency) and
JPEG (functions/jpeg.py — T.81 baseline and progressive, restart markers,
arbitrary chroma subsampling, vectorized IDCT). Audio decodes FOR REAL too
(functions/wav.py — RIFF/WAVE, PCM 8/16/24/32-bit + IEEE float +
EXTENSIBLE), and video as well (functions/avi.py — AVI container with raw
DIB and MJPEG frame codings, the latter through the same JPEG entropy
decoder). The deterministic stub is the FALLBACK only — corrupt/truncated
payloads and codecs outside the set (mp3/ogg, H.264, arithmetic-coded
JPEG) degrade to it instead of failing the ingest task, so the Spark-side
plumbing — schema, Arrow batch shape, mapInPandas partitioning — always
completes, and swapping the stub for PIL/torchaudio/ffmpeg changes one
function body, not the pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_tfdata_spark.worker import release_zip_finders

# media row: opaque payload + typed metadata (FIXTURES-style open schema)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for codecs this container cannot carry
    (JPEG/GIF/audio): derive an 8x8 'pixel' grid from the payload bytes."""
    if payload is None:
        payload = b""
    arr = np.frombuffer((payload * (64 // max(len(payload), 1) + 1))[:64], dtype=np.uint8)
    return arr.reshape(8, 8).astype(np.float32) / 255.0


def _decode_any(payload: bytes) -> np.ndarray:
    """PNG/PPM/GIF/JPEG (baseline + progressive) -> real pixels
    (functions/png.py, gif.py, jpeg.py — the GetImage format set);
    unrecognized or undecodable payloads (corrupt files, arithmetic-coded
    JPEG) -> the deterministic stub, so one bad image degrades to a
    placeholder instead of failing the whole ingest task. Returns float32
    greyscale in [0,1]."""
    from go_tfdata_spark.functions.png import decode_image, sniff_format

    if sniff_format(payload) in ("png", "ppm", "gif", "jpeg"):
        try:
            img = decode_image(payload).astype(np.float32) / 255.0
        except Exception:
            # any malformed payload (truncated header -> struct.error,
            # bad LZW/Huffman stream -> IndexError/KeyError/StopIteration,
            # zlib.error, ValueError from the decoders' own validation)
            # degrades to the stub — one bad image must never fail the task
            return _fake_decode(payload)
        if img.ndim == 3:  # luminance fold, BT.601-ish
            if img.shape[2] == 2:  # grey+alpha: luminance is channel 0 alone
                img = img[..., 0]
            else:
                w = np.array([0.299, 0.587, 0.114, 0.0], dtype=np.float32)[: img.shape[2]]
                img = img @ (w / max(w.sum(), 1e-6))
        return img
    return _fake_decode(payload)


def _grid8(img: np.ndarray) -> np.ndarray:
    """8x8 summary grid by evenly-spaced sampling (deterministic)."""
    h, w = img.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(8) * w // 8).clip(0, w - 1)
    return img[np.ix_(ys, xs)]


def decode_and_featurize(df: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """mapInPandas stage: binary payload -> (dims, n_bytes, 16-dim feature).

    Real plumbing AND (for PNG/PPM) a real decode: Arrow batches of binary
    columns in, typed struct rows out; runs fully parallel per input
    partition, no driver involvement. width/height are the true pixel
    dimensions for decoded formats; the 16-dim feature is row+column means
    of an 8x8 luminance summary grid."""

    def _featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            imgs = [_decode_any(p) for p in pdf["payload"]]
            grids = [_grid8(im) for im in imgs]
            feats = [g.mean(axis=0).tolist() + g.mean(axis=1).tolist() for g in grids]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [im.shape[1] for im in imgs],
                    "height": [im.shape[0] for im in imgs],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return df.mapInPandas(_featurize, FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """mapInPandas stage: WAV payloads -> real decoded features (rate,
    channels, duration, RMS, zero-crossings — functions/wav.py); payloads
    outside the decodable set (mp3/ogg/corrupt) degrade to a deterministic
    byte-derived stub with decoded=False, same contract as the image path —
    one bad file never fails the ingest task."""
    from go_tfdata_spark.functions.wav import wav_features

    def _stub(payload: bytes | None) -> dict:
        b = payload or b"\x00"
        return {
            "sample_rate": 8000,
            "channels": 1,
            "n_samples": len(b),
            "duration_ms": len(b) * 1000.0 / 8000.0,
            "rms": (sum(b) % 1000) / 1000.0,
            "zero_crossings": len(b) // 2,
        }

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    f, ok = wav_features(payload), True
                except Exception:
                    f, ok = _stub(payload), False
                rows.append(
                    {
                        "media_id": mid,
                        "sample_rate": f["sample_rate"],
                        "channels": f["channels"],
                        "n_samples": f["n_samples"],
                        "duration_ms": f["duration_ms"],
                        "rms": f["rms"],
                        "zero_crossings": f["zero_crossings"],
                        "decoded": ok,
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(_feat, AUDIO_FEATURE_SCHEMA)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("f0", T.DoubleType(), True),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)

_BT601 = np.array([0.299, 0.587, 0.114], dtype=np.float32)


def video_frames(df: DataFrame, every_nth: int = 1) -> DataFrame:
    """mapInPandas stage: AVI payloads -> one row per sampled video frame
    with real decoded dimensions and a luminance summary feature (f0 = the
    first row-mean of the 8x8 grid — same statistic as the image path).
    DIB and MJPEG frame codings decode for real (functions/avi.py);
    payloads outside that set degrade to ONE deterministic stub row
    (frame_idx -1, stub feature, decoded=False) so a bad file never fails
    the task. `every_nth` subsamples frames at decode time — skipped
    frames never materialize as rows."""
    from go_tfdata_spark.functions.avi import decode_avi_frames

    def _rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rows = []
                try:
                    for idx, fr in decode_avi_frames(payload):
                        if idx % every_nth:
                            continue
                        lum = (fr.astype(np.float32) / 255.0) @ (_BT601 / _BT601.sum())
                        g = _grid8(lum)
                        rows.append(
                            {
                                "media_id": mid,
                                "frame_idx": idx,
                                "width": fr.shape[1],
                                "height": fr.shape[0],
                                "f0": float(g.mean(axis=0)[0]),
                                "decoded": True,
                            }
                        )
                except Exception:
                    # all-or-nothing per payload: a mid-stream decode
                    # failure must not emit a partial frame set
                    g = _grid8(_fake_decode(payload))
                    rows = [
                        {
                            "media_id": mid,
                            "frame_idx": -1,
                            "width": 8,
                            "height": 8,
                            "f0": float(g.mean(axis=0)[0]),
                            "decoded": False,
                        }
                    ]
                out.extend(rows)
            yield pd.DataFrame(
                out,
                columns=[f.name for f in VIDEO_FRAME_SCHEMA],
            )

    return df.mapInPandas(_rows, VIDEO_FRAME_SCHEMA)


def frame_sample(df: DataFrame, every_nth: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: explode a synthetic frame index from
    metadata (`meta['n_frames']`), keep every nth — the decode of each
    frame would plug into `decode_and_featurize`."""
    n_frames = F.coalesce(F.element_at("meta", F.lit("n_frames")).cast("int"), F.lit(0))
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .filter(F.pmod(F.col("frame_idx"), F.lit(every_nth)) == 0)
    )


def synthetic_media(spark, n: int = 100, seed: int = 3) -> DataFrame:
    """Deterministic fake media table (payload = md5-derived bytes)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.unhex(F.md5(F.concat(F.lit("m"), F.col("id").cast("string")))).alias("payload"),
        F.create_map(
            F.lit("n_frames"), (F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(50)) + 1).cast("string")
        ).alias("meta"),
    )
