"""S8: connected components via alternating large-star / small-star joins.

Distributed union-find as DataFrame algebra (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — see PAPERS.md): converges in
O(log n) rounds on any graph, each round a handful of shuffles, no
driver-side state — which is why it survives 10^12-node scale where a
collect()-based union-find cannot. The one exception is size-gated: when a
round's output contracts below a fixed driver-safe budget
(_LOCAL_FINISH_MAX_EDGES), the remaining rounds — pure scheduling latency
on a tiny graph — finish locally with the oracle's union-find kernel.

Each iteration eagerly localCheckpoints to truncate the growing lineage
(SURVEY.md §7.4 decision 5) — mandatory, not optional: a round's logical
plan references its parent several times, so without per-round truncation
Catalyst's plan-canonicalization walk grows exponentially in the round
count. The convergence signature then costs one cheap scan of the
checkpointed edge set; no cache blocks outlive the call (checkpoint
RDDs are GC-managed).

large_star: every node points its LARGER neighbors at the minimum of its
neighborhood (incl. itself). small_star: every node points its smaller-or-
equal neighbors at the minimum. Fixpoint = forest of depth-1 stars rooted
at component minima; cluster_id = min(clip_id) in component falls out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: adaptive local-finish gate: once a round's output edge set is at most
#: this many edges (~50 MB collected at ~50 B/edge), the remaining
#: fixpoint rounds are pure driver-barrier latency on a graph that fits
#: in a fixed driver budget — finish it with the oracle's union-find
#: kernel and broadcast the labels back. At production scale the edge set
#: stays above the gate (fixpoint edge count ≈ #non-singleton nodes) and
#: the distributed path runs to convergence unchanged; this is the same
#: runtime-size adaptivity AQE applies to joins, applied to the fixpoint
#: tail. Measured at the 100k bench tier: 568,883 edges contract to
#: 8,707 after ONE star round, then three more rounds (~2.7 s each,
#: ~10 driver-scheduled query stages per round) change nothing but
#: labels — the local finish replaces them with a ~0.3 MB collect.
#: Round 6 raised the gate 2^18 → 2^20: the single-node kernel runs
#: union-find + labels over 555k edges in 0.88 s (measured), so the
#: bench-tier confirmed set (568,883 edges) and the doc hot-group edge
#: set (629,359) now skip the distributed large_star round entirely
#: (~3.2 s at local[32], far more at local[2]). The Arrow collect of a
#: full 2^20-edge set is ~50 MB, and a 2^20-edge local finish completes
#: under a 1g driver heap, the smallest one session.py picks (4 cores:
#: 19-22 s with long ids, 24-73 s with 17-char string ids), so one fixed,
#: scale-independent gate fits every heap.
_LOCAL_FINISH_MAX_EDGES = 1 << 20

def _sym(edges: DataFrame) -> DataFrame:
    return (edges.select(F.col("u"), F.col("v"))
            .unionByName(edges.select(F.col("v").alias("u"),
                                      F.col("u").alias("v"))))


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = _sym(edges)
    mins = (nbrs.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m")))
    # the distinct is NOT optional: for a near-clique component every
    # member v receives (v, min) once per smaller neighbor, and those
    # duplicate keys multiply through small_star's join — dropping this
    # dedup blew a 568k-edge run up ~5x (measured round 4)
    return (nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    # orient edges toward the smaller endpoint: keep (u, v) with v < u
    nbrs = _sym(edges).where(F.col("v") < F.col("u"))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    joined = nbrs.join(mins, "u")
    # smaller neighbors → min, and u itself → min
    a = joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
    b = mins.select(F.col("u"), F.col("m").alias("v"))
    return (a.unionByName(b)
            .where(F.col("u") != F.col("v"))
            .distinct())


def connected_components(pairs: DataFrame, universe: DataFrame,
                         max_iter: int = 24,
                         edges_distinct: bool = False) -> DataFrame:
    """pairs(a, b) edges + universe(clip_id) → (clip_id, cluster_id).

    cluster_id is the lexicographic minimum clip_id of the component —
    identical to the oracle union-find convention. Singleton clips map to
    themselves.

    `edges_distinct=True` lets a caller that guarantees unique (a, b)
    rows (confirmed pairs are — the candidate enumerator dedups) skip the
    initial distinct, turning the seed checkpoint from a full edge-set
    shuffle into a narrow map-only materialization. Duplicate edges are
    harmless either way (each star round dedups its own output); the flag
    only removes a provably redundant shuffle. The seed checkpoint itself
    is NOT skippable even over a caller-persisted `pairs`: reading the
    cache through the select-on-cache subtree missed for every one of
    round 0's plan branches (measured round 4: seed sig 0.33→2.78 s,
    large_star half 3.6→20.7 s) — the ~3 s checkpoint is what makes every
    downstream reference a cheap shallow scan.
    """
    def _sig(df: DataFrame) -> tuple:
        # convergence signature: count + order-independent xxhash64 fold,
        # one cheap scan of the freshly-checkpointed edge set
        row = df.agg(F.count(F.lit(1)).alias("c"),
                     F.expr("bit_xor(xxhash64(u, v))").alias("h")
                     ).collect()[0]
        return (row["c"], row["h"])

    # AQE stays ON for the fixpoint — measured, not assumed: the ~10
    # driver-scheduled query-stage jobs each round LOOK like pure barrier
    # overhead, but disabling AQE here (pinned shuffle partitions, one job
    # per round) ran 6x SLOWER on 568k edges at local[32] (8.4-22.7 s →
    # 51.5-67.4 s, interleaved A/B, identical label hashes): the static
    # planner sort-merge-joins every nbrs⋈mins round because checkpointed
    # sources carry no size estimates, while AQE converts those joins to
    # broadcasts from exact runtime sizes. The barriers are also mostly
    # concurrent (AQE materializes independent exchanges in parallel).
    #
    # eager localCheckpoint, NOT persist: the checkpoint both cuts the
    # upstream chain once and guarantees every round reads materialized
    # blocks. A persisted initial set was measured to MISS cache lookup
    # when referenced through round 0's multi-branch plan (AQE-optimized
    # cached plan vs the round's canonicalized subtree) — the round then
    # silently recomputed the whole verify stage without its released
    # side-table caches (~35x the checkpoint cost at the bench tier).
    edges = (pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
             .where(F.col("u") != F.col("v")))
    if not edges_distinct:
        edges = edges.distinct()
    edges = edges.localCheckpoint(eager=True)

    # convergence = output edge set equals the INPUT's (fixpoint of
    # large_star∘small_star); seeding prev_sig with the initial edges'
    # signature detects it on the first stable iteration instead of
    # paying one extra full round to see two identical outputs. The seed
    # gate check needs only the COUNT — the hash half of the signature is
    # computed lazily on entry to the distributed loop, so a seed set
    # already under the local-finish gate (bench-tier confirmed sets)
    # skips that scan entirely.
    n_seed = edges.count()
    if n_seed <= _LOCAL_FINISH_MAX_EDGES:
        labels = _local_finish(edges)
        return _attach(universe, labels)
    prev_sig = _sig(edges)
    prev = edges
    labels = None
    for _ in range(max_iter):
        if prev_sig[0] <= _LOCAL_FINISH_MAX_EDGES:
            labels = _local_finish(prev)
            break
        # ONE star composition per checkpoint round — also measured, do
        # not "optimize" to two: composing a second (large∘small) step on
        # the un-materialized first one makes the outer star's ~6 plan
        # references RECOMPUTE the inner rounds inside the same job
        # (exchange reuse does not fully dedupe them) — interleaved A/B
        # on the 568k-edge set ran 2x slower (19.4-30.5 s vs 8.4-25.3 s,
        # identical label hashes). The eager checkpoint per round is also
        # what keeps Catalyst's plan-canonicalization walk linear (a
        # persist-only variant burned minutes of single-thread
        # doCanonicalize by round ~8). Eager, not lazy: lazy checkpoints
        # of metric-bearing plans trigger the accumulator-GC race
        # (CLAUDE.md).
        cur = _small_star(_large_star(prev)).localCheckpoint(eager=True)
        sig = _sig(cur)             # cheap second job: scans the checkpoint
        prev = cur
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # the unconverged edge set is not a forest of stars: its labels
        # would silently split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({prev_sig[0]} edges after the last round)")
    # checkpoint RDDs are GC-managed — nothing to release at exit, and
    # downstream consumers read shallow plans
    if labels is None:
        labels = prev.select(F.col("u").alias("clip_id"),
                             F.col("v").alias("cluster_id"))
    return _attach(universe, labels)


def _attach(universe: DataFrame, labels: DataFrame) -> DataFrame:
    return (universe.select("clip_id")
            .join(labels, "clip_id", "left")
            .select("clip_id",
                    F.coalesce("cluster_id", "clip_id").alias("cluster_id")))


def _local_finish(edges: DataFrame) -> DataFrame:
    """Collect a sub-gate edge set and finish the fixpoint with the
    single-node union-find kernel (the same code that defines the oracle's
    cluster convention, so label semantics cannot drift). Star contraction
    preserves both connectivity and node membership — every non-root node
    of the original graph still appears in the contracted edge set — so
    union-find over the remaining edges yields exactly the labels the
    surviving rounds would converge to (cluster_id = min member id)."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels import unionfind as K_uf

    spark = edges.sparkSession
    # toPandas, not collect(): one Arrow transfer instead of materializing
    # up to _LOCAL_FINISH_MAX_EDGES (2^20) pickled Row objects
    # driver-side. tolist() hands the dict-based kernel plain str/int keys.
    pdf_e = edges.toPandas()
    us = pdf_e.iloc[:, 0].tolist()
    vs = pdf_e.iloc[:, 1].tolist()
    out = K_uf.components(zip(us, vs), dict.fromkeys(us + vs))
    pdf = pd.DataFrame({"clip_id": list(out.keys()),
                        "cluster_id": list(out.values())})
    # label type follows the node id type (audio clip_ids are strings, doc
    # ids are longs) — hardcoding string would force an Arrow fallback and
    # a cast inside the universe join
    idt = edges.schema[0].dataType
    schema = T.StructType([T.StructField("clip_id", idt),
                           T.StructField("cluster_id", idt)])
    return spark.createDataFrame(pdf, schema=schema)
