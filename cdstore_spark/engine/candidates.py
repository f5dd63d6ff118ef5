"""S5–S6: LSH band explode → per-bucket member aggregation with explicit
skew-key splitting → canonical candidate pairs.

This is the shuffle heart of the pipeline — the graft analog of CDStore's
fingerprint-batch → server-index lookup (SURVEY.md §2.A ops 9–10), where the
network round-trip becomes a shuffle on the band key.

Skew is handled explicitly, as the north rule demands, in two layers —
both implemented once in bucket_pairs.capped_bucket_pairs and shared with
the document-channel MinHash-LSH / SimHash candidate joins:

1. **Sub-bucket split + representative chain** (bucket_cap): a (channel,
   band, hash) bucket of m members is partitioned — in deterministic
   clip_id order — into sub-buckets of <= bucket_cap; pairs are enumerated
   within each sub-bucket, and the first member of sub-bucket 0 is paired
   with the first member of every other sub-bucket. Pair count is
   O(m * cap) — LINEAR in bucket size instead of quadratic — while a true
   duplicate block (e.g. a template/jingle repeated millions of times)
   still forms ONE connected component after verify + union-find. At
   10^12-row scale a hot bucket therefore cannot produce an O(m²) shuffle
   explosion, and nothing is silently dropped: skew_stats reports bucket
   maxima and split counts.
2. **Hot-bucket spread** (bucket_soft): a bucket of <= `bucket_soft`
   members enumerates its pairs in place, in the partition that
   aggregated it. A bucket above `bucket_soft` becomes one row per
   sub-bucket, and a repartition pinned at 2×defaultParallelism hashes
   those rows on (channel, sub-bucket head, sub-bucket index) — the salt
   of the north rule's salted repartition — so one hot bucket fans out
   over all cores instead of landing on the one reducer that aggregated
   it. Each pair is still enumerated once per bucket. The skew_stats
   column `buckets_block_split` keeps its name and still counts the
   buckets above `bucket_soft`: they are the buckets that take this
   spread path.

Both layers use the same deterministic member order as the single-node
oracle (sorted clip_id), so engine and oracle enumerate identical candidate
sets by construction (oracle.py::candidate_pairs_from_feats mirrors this
logic in plain Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, PipelineConfig
from .bucket_pairs import capped_bucket_pairs


def explode_bands(feats: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Feature rows → (channel, band_idx, band_hash, clip_id) band rows.

    Clips with empty shingle sets on a channel emit no rows for it —
    empty sets never generate candidates (matches the oracle).

    ONE scan, one Generate (round 6): the channel band rows are built as
    a per-row struct array (transform carries the band index) and both
    channels explode from the same pass — the previous two-branch union
    scanned the (payload-wide, often cached) feature table once per
    channel, which was the single largest cost of the candidates stage
    (REST stage metrics: 2x197 MB cache reads, 147 of 334 CPU-s at the
    100k tier). Row set identical by construction.
    """
    def chan(name: str, bands_col: str, n_col: str):
        rows = F.transform(
            F.col(bands_col),
            lambda x, i: F.struct(F.lit(name).alias("channel"),
                                  i.alias("band_idx"),
                                  x.alias("band_hash")))
        empty = F.array().cast(
            "array<struct<channel:string,band_idx:int,band_hash:bigint>>")
        return F.when(F.col(n_col) > 0, rows).otherwise(empty)

    arr = F.concat(chan("audio", "bands_audio", "n_shingles_audio"),
                   chan("text", "bands_text", "n_shingles_text"))
    return (feats.select(F.explode(arr).alias("r"), "clip_id")
            .select("r.channel", "r.band_idx", "r.band_hash", "clip_id"))


def candidate_pairs(feats: DataFrame, cfg: PipelineConfig = DEFAULT
                    ) -> tuple[DataFrame, DataFrame]:
    """Returns (pairs, skew_stats).

    pairs: a, b (a < b), from_audio, from_text — deduped across bands.
    skew_stats: per-channel bucket-size distribution + dropped-row counts
    (the explicit, logged record of what the cap removed).
    """
    bands = explode_bands(feats, cfg)
    key = ["channel", "band_idx", "band_hash"]

    # skew stats need per-bucket sizes only — a two-level hash aggregation
    # (map-side partial combine), independent of the pair path below.
    # Left-join onto a literal two-row channel frame: a channel whose band
    # set is empty (e.g. a corpus with no text shingles) must still emit a
    # zero row, matching the oracle (skew_stats_from_feats always emits
    # one row per channel) on degenerate inputs.
    bucket_sizes = bands.groupBy(*key).agg(F.count(F.lit(1)).alias("cnt"))
    per_channel = (bucket_sizes
                   .groupBy("channel")
                   .agg(F.count(F.lit(1)).alias("n_buckets"),
                        F.max("cnt").alias("max_bucket"),
                        F.sum(F.when(F.col("cnt") > cfg.bucket_cap,
                                     F.ceil(F.col("cnt") / cfg.bucket_cap) - 1)
                              .otherwise(F.lit(0))).alias("subbucket_splits"),
                        F.sum(F.when(F.col("cnt") > cfg.bucket_soft, 1)
                              .otherwise(0)).alias("buckets_block_split")))
    channels = feats.sparkSession.createDataFrame(
        [("audio",), ("text",)], "channel string")
    zero = F.lit(0).cast("long")
    skew_stats = (channels.join(per_channel, "channel", "left")
                  .select("channel",
                          F.coalesce("n_buckets", zero).alias("n_buckets"),
                          F.coalesce("max_bucket", zero).alias("max_bucket"),
                          F.coalesce("subbucket_splits", zero)
                          .alias("subbucket_splits"),
                          F.coalesce("buckets_block_split", zero)
                          .alias("buckets_block_split")))

    # the two-layer skew split itself lives in bucket_pairs.py (shared with
    # the document MinHash-LSH / SimHash joins). Per-bucket member ranking
    # is groupBy + sort_array: one hash aggregation with per-group array
    # sorts, measured ~1.6x faster than the equivalent double window at
    # 6.4M band rows — members come out in sorted clip_id order, matching
    # the oracle's capping order. Memory bound: collect_list buffers one
    # bucket's members in one agg buffer (~10 B/member) — fine to ~10^7
    # members/bucket; a bucket hot enough to breach that is already
    # generating O(m*cap) pairs and needs an upstream policy cap, not a
    # sort.
    # dedup_key=["channel"]: the groupBy below collapses (band_idx,
    # band_hash) anyway, so hot buckets repeating the same member set
    # across bands (the near-silence sentinel bucket fills one identical
    # bucket in EVERY band of a channel) are enumerated once per channel
    # instead of once per band — the pair set per channel is unchanged.
    raw = capped_bucket_pairs(bands, key, "clip_id",
                              cap=cfg.bucket_cap, soft=cfg.bucket_soft,
                              dedup_key=["channel"])
    pairs = (raw.groupBy("a", "b")
             .agg(F.max(F.when(F.col("channel") == "audio", True)
                        .otherwise(False)).alias("from_audio"),
                  F.max(F.when(F.col("channel") == "text", True)
                        .otherwise(False)).alias("from_text")))
    return pairs, skew_stats
