"""Similarity search over the `embeddings` table
(vec_id bigint, embedding array<float>, label int).

Two tiers, per the usual ANN playbook:
  * brute-force cosine top-k — exact baseline, JVM-side arithmetic only
    (F.aggregate/zip_with fold over the array; no Python anywhere), fine up
    to ~10^7 rows per query on a cluster;
  * random-hyperplane LSH bucketing — the scale path: 2^P sign-pattern
    buckets from P fixed hyperplanes (deterministic from the master seed);
    queries probe only their own bucket (+ optional Hamming-1 neighbors),
    turning a full scan into a 1/2^P partition read.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..artifacts import publish, reusable
from ..config import DEFAULT, PipelineConfig

EMBED_DIM = 64  # driver testdata embeddings are fixed-width


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(df: DataFrame, query_vec: list[float]) -> DataFrame:
    """Append exact cosine similarity to a fixed query vector — built-in
    higher-order functions only (whole-stage codegen, no UDF)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    e = F.col("embedding").cast("array<double>")
    sim = _dot(e, q) / (_norm(e) * _norm(q))
    # floor-based HALF_UP rounding — matches the DuckDB oracle exactly
    return df.withColumn(
        "cos_sim", F.floor(sim * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))


def topk_bruteforce(df: DataFrame, query_vec: list[float], k: int = 10,
                    exclude_vec_id: int | None = None) -> DataFrame:
    """Exact top-k by cosine; deterministic ordering (cos desc, vec_id)."""
    out = with_cosine(df, query_vec)
    if exclude_vec_id is not None:
        out = out.where(F.col("vec_id") != exclude_vec_id)
    return (out.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
            .select("vec_id", "cos_sim")
            .limit(k))


def hyperplanes(n_planes: int, dim: int = EMBED_DIM,
                cfg: PipelineConfig = DEFAULT) -> np.ndarray:
    rng = np.random.default_rng((cfg.seed, 6001))
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


_BUCKET_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("bucket", T.IntegerType()),
])


def sign_buckets(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, d) vectors → (n,) int32 sign-pattern bucket ids — the shared
    bucketing math of lsh_buckets, topk_lsh's query-side probe and the
    golden mirror (one implementation on all sides)."""
    signs = (np.asarray(mat, dtype=np.float64) @ planes.T) > 0    # (n, P)
    return (signs.astype(np.int32)
            << np.arange(planes.shape[0], dtype=np.int32)).sum(
        axis=1).astype(np.int32)


def lsh_buckets(df: DataFrame, n_planes: int = 8,
                cfg: PipelineConfig = DEFAULT, dim: int = EMBED_DIM
                ) -> DataFrame:
    """Random-hyperplane sign buckets (vectorized whole-batch matmul)."""
    planes = hyperplanes(n_planes, dim=dim, cfg=cfg)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].astype(np.int64),
                                "bucket": sign_buckets(mat, planes)})

    return df.select("vec_id", "embedding").mapInPandas(fn, _BUCKET_SCHEMA)


def topk_lsh(df: DataFrame, query_vec: list[float], k: int = 10,
             n_planes: int = 8, cfg: PipelineConfig = DEFAULT,
             exclude_vec_id: int | None = None,
             multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: score only the query's sign bucket.

    multiprobe=r additionally probes every bucket within Hamming
    distance <= r of the query's sign pattern (the standard multi-probe
    LSH recall/scan-fraction dial: r=1 scans (1+P)/2^P of the data
    instead of 1/2^P while catching neighbors that flip one hyperplane).
    Recall vs brute force depends on bucket granularity; tests report it.
    """
    from itertools import combinations

    planes = hyperplanes(n_planes, dim=len(query_vec), cfg=cfg)
    qv = np.asarray(query_vec, dtype=np.float64)
    qbucket = int(sign_buckets(qv[None, :], planes)[0])
    probe = {qbucket}
    for r in range(1, multiprobe + 1):
        for bits in combinations(range(n_planes), r):
            flip = qbucket
            for b in bits:
                flip ^= 1 << b
            probe.add(flip)
    buckets = lsh_buckets(df, n_planes, cfg, dim=len(query_vec))
    cand = df.join(buckets.where(F.col("bucket").isin(sorted(probe))),
                   "vec_id", "leftsemi")
    return topk_bruteforce(cand, query_vec, k, exclude_vec_id)


def cosine_pairs_exact(df: DataFrame, threshold: float = 0.4,
                       n_blocks: int = 8) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cos >= threshold).

    All-pairs cosine is inherently quadratic; the scale question is only
    how the O(n^2/2) work is SPREAD. Triangle block-pair enumeration: each
    vector lands in block vec_id % B, every (i <= j) block pair becomes
    one join key, so the work fans out over B(B+1)/2 balanced shuffle
    partitions instead of one reducer — no cartesian product node, no
    skew. Cosine itself is JVM-side higher-order-function arithmetic
    (zip_with fold), no Python. For corpora where n^2 is genuinely too
    much, the approximate tier is topk_lsh / the IVF index; this operator
    is the exact baseline the brief's "embedding-cosine near-dup" names.
    """
    e = df.select("vec_id", "embedding",
                  F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
                  .alias("blk"))
    left = (e.withColumn("j", F.explode(F.sequence(F.col("blk"),
                                                   F.lit(n_blocks - 1))))
            .select(F.col("blk").alias("i"), "j",
                    F.col("vec_id").alias("vid_l"),
                    F.col("embedding").alias("emb_l")))
    right = (e.withColumn("i", F.explode(F.sequence(F.lit(0),
                                                    F.col("blk"))))
             .select("i", F.col("blk").alias("j"),
                     F.col("vec_id").alias("vid_r"),
                     F.col("embedding").alias("emb_r")))
    el = F.col("emb_l").cast("array<double>")
    er = F.col("emb_r").cast("array<double>")
    sim = _dot(el, er) / (_norm(el) * _norm(er))
    # dot/norm are symmetric bit-for-bit (elementwise products commute,
    # fold order equal), so the duplicate orientations a same-block pair
    # produces collapse in the final distinct()
    return (left.join(right, ["i", "j"])
            .where(F.col("vid_l") != F.col("vid_r"))
            .where(sim >= F.lit(threshold))
            .select(F.least("vid_l", "vid_r").alias("a"),
                    F.greatest("vid_l", "vid_r").alias("b"),
                    (F.floor(sim * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                    .alias("cos_sim"))
            .distinct())


_ASSIGN_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("list_id", T.IntegerType()),
])

#: k-means fit sample cap: the driver-side fit sees at most this many
#: vectors (deterministic modulo-sample above it); assignment stays fully
#: distributed, so the index itself has no scale ceiling
IVF_FIT_SAMPLE_MAX = 100_000


def ann_index_build(spark, df: DataFrame, index_dir: str, k: int = 16,
                    iters: int = 10) -> str:
    """Persisted IVF (inverted-file) ANN index.

    Fit: spherical k-means centroids on a deterministic sample (collected
    to the driver — centroids are tiny). Assign: every vector labeled with
    its nearest-centroid list via a vectorized Arrow batch matmul. Write:
    vectors parquet PARTITIONED BY list_id, plus a centroids parquet — so
    a probe reads only its nprobe list partitions (partition pruning),
    never the full table. This is the persisted-index answer to
    recomputing LSH buckets per query.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..kernels import ann as K_ann

    n = df.count()
    sample = df
    if n > IVF_FIT_SAMPLE_MAX:
        step = (n + IVF_FIT_SAMPLE_MAX - 1) // IVF_FIT_SAMPLE_MAX
        sample = df.where(F.pmod(F.col("vec_id"), F.lit(step)) == 0)
    fit = (sample.select("vec_id", "embedding")
           .orderBy("vec_id").toPandas())
    mat = np.stack(fit["embedding"].to_numpy()).astype(np.float64)
    cents = K_ann.kmeans_fit(mat, k, iters)

    os.makedirs(index_dir, exist_ok=True)
    pq.write_table(pa.table({
        "list_id": np.arange(cents.shape[0], dtype=np.int32),
        "centroid": list(cents)}),
        os.path.join(index_dir, "centroids.parquet"))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import ann as K
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].astype(np.int64),
                                "list_id": K.assign_lists(m, cents)})

    lists = df.select("vec_id", "embedding").mapInPandas(
        assign, _ASSIGN_SCHEMA)
    (df.join(lists, "vec_id")
     .write.mode("overwrite").partitionBy("list_id")
     .parquet(os.path.join(index_dir, "vectors")))
    return index_dir


def load_centroids(index_dir: str) -> np.ndarray:
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(index_dir, "centroids.parquet"))
    pdf = t.to_pandas().sort_values("list_id")
    return np.stack(pdf["centroid"].to_numpy()).astype(np.float64)


def topk_ivf(spark, index_dir: str, query_vec: list[float], k: int = 10,
             nprobe: int = 4, exclude_vec_id: int | None = None
             ) -> DataFrame:
    """Probe the persisted IVF index: rank inverted lists by centroid
    similarity, scan ONLY the top-nprobe list partitions (pushed down as a
    partition filter on list_id), exact cosine within them."""
    from ..kernels import ann as K_ann

    cents = load_centroids(index_dir)
    probe = [int(v) for v in
             K_ann.rank_lists(np.asarray(query_vec), cents)[:nprobe]]
    part = (spark.read.parquet(os.path.join(index_dir, "vectors"))
            .where(F.col("list_id").isin(probe)))
    return topk_bruteforce(part, query_vec, k, exclude_vec_id)


#: bump when the k-means/assignment kernels or the on-disk index layout
#: change — stale persisted indexes then rebuild instead of serving old
#: lists (mirrors ENGINE_LAYOUT_VERSION / golden_funcs.VERSION)
ANN_INDEX_VERSION = 1


def ensure_ivf_index(spark, df: DataFrame, index_dir: str, k: int = 16
                     ) -> str:
    """Build-once cache wrapper around ann_index_build. The marker records
    the build identity (k + kernel/layout version + an input content
    fingerprint — row count and an order-insensitive xxhash64 fold over
    (vec_id, embedding)); any mismatch rebuilds. The content fingerprint
    is what keeps a regenerated-in-place embeddings table from being
    silently served stale index lists (same guarantee stage_fingerprint
    gives the audio snapshots)."""
    import shutil
    fp = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(vec_id, embedding))").alias("h")).collect()[0]
    ident = {"k": k, "ann_version": ANN_INDEX_VERSION,
             "n_rows": int(fp["n"]), "content_h": int(fp["h"] or 0)}
    marker = os.path.join(index_dir, "_INDEX_DONE.json")
    if reusable(marker, ident):
        return index_dir
    shutil.rmtree(index_dir, ignore_errors=True)
    ann_index_build(spark, df, index_dir, k)
    publish(marker, ident)
    return index_dir


def pairwise_label_centroids(df: DataFrame) -> DataFrame:
    """Per-label centroid + intra-label cohesion — demonstrates array
    aggregation without UDFs: element-wise mean via posexplode + groupBy."""
    exploded = df.select("label",
                         F.posexplode(F.col("embedding").cast("array<double>"))
                         .alias("dim", "val"))
    return (exploded.groupBy("label", "dim")
            .agg((F.floor(F.avg("val") * F.lit(1e6) + F.lit(0.5))
                  / F.lit(1e6)).alias("mean_val"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("label", "dim"))
