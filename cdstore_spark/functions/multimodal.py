"""Multimodal binary-column plumbing: opaque media bytes + typed metadata.

The audio path is fully real in this repo (kernels/codec.py decodes G.711 +
PCM in NumPy). For modalities whose codec libraries do not exist in this
sandbox (image/video), the *decode kernel* is a clearly marked stub, while
everything Spark-side — schema, Arrow batch shape, partitioning, UDF
signature — is real and tested, so swapping in a real decoder (PIL/ffmpeg)
on a production cluster is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

def binary_meta(df: DataFrame, id_col: str = "clip_id",
                bin_col: str = "bytes") -> DataFrame:
    """Cheap typed metadata over an opaque binary column — pure built-ins
    (octet_length/md5 run JVM-side; nothing crosses to Python)."""
    return df.select(
        F.col(id_col).alias("clip_id"),
        F.octet_length(F.col(bin_col)).cast("long").alias("n_bytes"),
        # md5 over the lowercase hex of the payload (not the raw blob):
        # DuckDB 1.0's md5 only accepts VARCHAR, so the oracle and the
        # engine agree on a canonical text rendering of the bytes
        F.md5(F.lower(F.hex(F.col(bin_col)))).alias("content_md5"),
        F.conv(F.substring(F.hex(F.col(bin_col)), 1, 8), 16, 10)
        .cast("long").alias("header_u32"))


FRAME_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_rms", T.DoubleType()),
    T.StructField("frame_peak", T.DoubleType()),
])


def frame_sample_audio(df: DataFrame, frame_ms: int = 100) -> DataFrame:
    """Frame-sampling feature extraction over the real audio decode path:
    decode → fixed frames → per-frame RMS/peak (the audio analog of video
    frame sampling). Arrow-batched, vectorized per clip."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import codec as K_codec
        from ..kernels import features as K_feat
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, idxs, rmss, peaks = [], [], [], []
            srs = pdf["sr_hz"].to_numpy()
            codecs = pdf["codec"].to_numpy()
            cids = pdf["clip_id"].to_numpy()
            for i, raw in enumerate(pdf["bytes"].to_numpy()):
                x = K_codec.decode_float(raw, str(codecs[i]))
                rms, peak = K_feat.frame_rms_peak(x, int(srs[i]), frame_ms)
                if rms.shape[0] == 0:
                    continue
                ids.extend([cids[i]] * rms.shape[0])
                idxs.extend(range(rms.shape[0]))
                rmss.extend(rms)
                peaks.extend(peak)
            yield pd.DataFrame({"clip_id": ids, "frame_idx": idxs,
                                "frame_rms": rmss, "frame_peak": peaks})

    return df.mapInPandas(fn, FRAME_SCHEMA)


RESAMPLE_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("sr_from", T.IntegerType()),
    T.StructField("sr_to", T.IntegerType()),
    T.StructField("n_samples_out", T.LongType()),
    T.StructField("rms_out", T.DoubleType()),
])


def resample_audio_stats(df: DataFrame, target_hz: int = 8000) -> DataFrame:
    """Decode → linear resample to target_hz (the audio analog of image
    resize) → per-clip output stats. Arrow-batched over the shared
    resample kernel; the full resampled PCM never leaves the worker —
    at lake scale you'd write it back columnar, here the stats are the
    verifiable contract surface."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import codec as K_codec
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for cid, raw, sr, codec in zip(pdf["clip_id"].to_numpy(),
                                           pdf["bytes"].to_numpy(),
                                           pdf["sr_hz"].to_numpy(),
                                           pdf["codec"].to_numpy()):
                x = K_codec.decode_float(raw, str(codec))
                n_out, rms6 = K_codec.resample_stats(x, int(sr), target_hz)
                recs.append((cid, int(sr), target_hz, n_out, rms6))
            yield pd.DataFrame(recs, columns=["clip_id", "sr_from", "sr_to",
                                              "n_samples_out", "rms_out"])

    return (df.select("clip_id", "bytes", "sr_hz", "codec")
            .mapInPandas(fn, RESAMPLE_SCHEMA))


def decode_image_stub(raw: bytes) -> tuple[int, int, np.ndarray]:
    """STUB — image codecs (PIL/libjpeg) are not available in this sandbox.

    Production: replace the body with a real decoder returning
    (width, height, float32 feature vector). The deterministic fake below
    keeps the Spark plumbing (schema, batching, partitioning) testable:
    dims and features are a pure function of the content hash.
    """
    h = hashlib.blake2b(raw, digest_size=16).digest()
    w = 64 + h[0] % 192
    ht = 64 + h[1] % 192
    feat = (np.frombuffer(h, dtype=np.uint8).astype(np.float32) / 255.0)
    return w, ht, feat


IMAGE_SUMMARY_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("feature_md5", T.StringType()),
    T.StructField("feature_mean", T.DoubleType()),
])


def image_summary_record(raw: bytes) -> tuple[int, int, str, float]:
    """(width, height, md5 of float32 feature bytes, 6-dp mean) for one
    payload — the shared record body of image_feature_summary and the
    golden mirror (one implementation on both sides)."""
    import hashlib as _hl
    w, h, feat = decode_image_stub(raw)
    f32 = np.ascontiguousarray(feat, dtype=np.float32)
    return (w, h, _hl.md5(f32.tobytes()).hexdigest(),
            float(np.floor(f32.astype(np.float64).mean() * 1e6 + 0.5)
                  / 1e6))


def image_feature_summary(df: DataFrame, id_col: str = "clip_id",
                          bin_col: str = "bytes") -> DataFrame:
    """Image decode + feature extraction over binary columns, projected to
    scalars for contract/oracle comparison: the stubbed decoder's feature
    vector is summarized as the md5 of its float32 bytes + its 6-dp mean,
    so the result is pure scalar columns end to end."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = [(cid, *image_summary_record(bytes(raw)))
                    for cid, raw in zip(pdf[id_col].to_numpy(),
                                        pdf[bin_col].to_numpy())]
            yield pd.DataFrame(recs, columns=["clip_id", "width", "height",
                                              "feature_md5", "feature_mean"])

    return df.select(id_col, bin_col).mapInPandas(fn, IMAGE_SUMMARY_SCHEMA)
