"""S1 ingest + S2–S5 featurize: clips table → per-clip sketch row.

Ingest is a plain columnar scan (Catalyst prunes `bytes` out of every stage
that doesn't decode — asserted in tests via explain()). Featurize runs the
shared NumPy kernel batch-at-a-time through mapInPandas (Arrow transfer,
zero per-row Python); its output drops `bytes`, so everything downstream of
S2 moves only sketches + event streams (~KB/clip instead of ~50 KB/clip) —
the same traffic-shaping idea as CDStore's client-side intra-user dedup
before upload (SURVEY.md §2.A op 8).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..config import DEFAULT, PipelineConfig

CLIP_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("sr_hz", T.IntegerType()),
    T.StructField("dur_ms", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("transcript", T.StringType()),
])

_RAW_FEATURE_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType()),
    T.StructField("n_events", T.IntegerType()),
    # events + event_ms + event_zcr packed into ONE binary blob
    # (kernels/clipfeat.py::pack_events): three ListType columns cost far
    # more on the Arrow boundary (per-row offsets + Python list
    # materialization) than a single BinaryType column of the same bytes —
    # verify unpacks with zero-copy np.frombuffer
    T.StructField("vpack", T.BinaryType()),
    T.StructField("n_shingles_audio", T.IntegerType()),
    T.StructField("n_shingles_text", T.IntegerType()),
    # NOTE: the full 128-slot MinHash signatures are deliberately NOT in
    # the engine's feature schema — band hashes already encode everything
    # downstream stages consume, and the 2 KB/clip of signature arrays
    # doubled the Python→JVM Arrow traffic of the featurize stage
    T.StructField("simhash_audio", T.LongType()),
    T.StructField("simhash_text", T.LongType()),
    T.StructField("bands_audio", T.ArrayType(T.LongType())),
    T.StructField("bands_text", T.ArrayType(T.LongType())),
    T.StructField("n_samples", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("pcm_sha256", T.StringType()),
    T.StructField("transcript", T.StringType()),
])

#: public feature schema = kernel output + the 16-byte CONTENT KEYS
#: (md5 of the packed event stream / of the transcript), computed ONCE
#: here, fused into the featurize stage's output projection (JVM md5, no
#: extra stage) — verify's per-content-pair memos key on them directly;
#: computing them lazily in verify instead re-scans the multi-KB cached
#: payload columns once per consumer (measured: ~150 task-seconds across
#: three scans at the 400k tier).
FEATURE_SCHEMA = T.StructType(
    _RAW_FEATURE_SCHEMA.fields
    + [T.StructField("vk", T.StringType()),
       T.StructField("tk", T.StringType())])


def _with_content_keys(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F
    return (df.withColumn("vk", F.md5("vpack"))
            .withColumn("tk", F.md5("transcript")))


def load_clips(spark: SparkSession, path: str) -> DataFrame:
    """S1: columnar scan of the clips table, a parquet path (the only
    storage backend; see engine/snapshot.py)."""
    return spark.read.schema(CLIP_SCHEMA).parquet(path)


def featurize(clips: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """S2–S5 in one Arrow pass: decode → events → CDC shingles → MinHash /
    SimHash / LSH band hashes, per clip. Transcript is passed through for
    the verify stage; `bytes` is dropped here and never shuffled.

    Generic variant for arbitrary DataFrames. For parquet-backed clip
    tables prefer featurize_from_parquet (payload-local reads): Spark's
    JVM→Arrow serialization of wide BinaryType rows is super-linear in
    batch size and caps out around 100 MB/s/core even tuned, which
    dominates the whole pipeline (measured in this repo's tuning runs)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # heavy imports inside the worker, once per task
        from ..kernels.clipfeat import featurize_batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _engine_frame(featurize_batch(pdf, cfg), pdf)

    return _with_content_keys(clips.mapInPandas(fn, _RAW_FEATURE_SCHEMA))


def _engine_frame(out: pd.DataFrame, src: pd.DataFrame) -> pd.DataFrame:
    """Kernel output → engine feature row: event arrays packed to vpack."""
    from ..kernels.clipfeat import pack_events
    out["vpack"] = [
        pack_events(ev, ms, zc) for ev, ms, zc in
        zip(out["events"], out["event_ms"], out["event_zcr"])]
    out = out.drop(columns=["events", "event_ms", "event_zcr"])
    out["transcript"] = src["transcript"].astype(str).to_numpy()
    return out


def parquet_row_groups(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Enumerate (file, row_group) work units of a parquet file/directory —
    the scheduling granularity for payload-local featurize."""
    import pyarrow.parquet as pq
    files: list[str]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith(".parquet") or (f.startswith("part-")
                                          and not f.endswith(".crc")))
    else:
        files = [path]
    units: list[tuple[str, int]] = []
    for f in files:
        for g in range(pq.ParquetFile(f).num_row_groups):
            units.append((f, g))
    return units


def featurize_from_parquet(spark: SparkSession, path: str,
                           cfg: PipelineConfig = DEFAULT,
                           unit_filter=None) -> DataFrame:
    """Payload-local S2–S5: Spark schedules (file, row-group) work units;
    each Python worker reads its row groups straight from storage with
    pyarrow (~native I/O speed) and runs the shared kernel. The ~50 KB/clip
    audio payload never crosses the JVM→Python socket — only the compact
    feature rows come back. Same pattern a 1000-executor cluster uses
    against object storage (data-local parquet reads inside the UDF).

    unit_filter: optional callable (index, n_units) -> bool for resume
    chunking — membership is deterministic in the unit index.
    """
    units = parquet_row_groups(spark, path)
    if unit_filter is not None:
        n = len(units)
        units = [u for i, u in enumerate(units) if unit_filter(i, n)]
    if not units:
        return spark.createDataFrame([], FEATURE_SCHEMA)  # keys included
    # pack several row-group units per task: each mapInPandas task carries
    # ~0.2-0.3 s of fixed Arrow/python-eval setup, so hundreds of one-unit
    # tasks burn more core-time on overhead than on work (measured); a few
    # units per task keeps full parallelism with 4 waves for stragglers
    n_tasks = max(1, min(len(units),
                         4 * spark.sparkContext.defaultParallelism))
    unit_df = (spark.createDataFrame(units, "file string, rg int")
               .repartition(n_tasks))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq
        from ..kernels.clipfeat import featurize_batch
        for pdf in batches:
            for file, rg in zip(pdf["file"], pdf["rg"]):
                tbl = pq.ParquetFile(file).read_row_group(
                    int(rg), columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                                      "codec", "transcript"])
                cpdf = tbl.to_pandas()
                if len(cpdf) == 0:
                    continue
                yield _engine_frame(featurize_batch(cpdf, cfg), cpdf)

    return _with_content_keys(unit_df.mapInPandas(fn, _RAW_FEATURE_SCHEMA))
