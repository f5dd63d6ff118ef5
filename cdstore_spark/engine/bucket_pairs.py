"""Generic skew-bounded bucket → candidate-pair enumeration.

One implementation of the two-layer skew split that every LSH-style
candidate join in the repo shares (factored out of the audio candidate
stage so the document MinHash-LSH and SimHash block joins get the same
10^12-scale bound instead of an uncapped band self-join):

1. **Sub-bucket split + representative chain** (`cap`): a bucket of m
   members is partitioned — in deterministic sorted-member order — into
   sub-buckets of <= cap; pairs are enumerated within each sub-bucket and
   the first member of sub-bucket 0 is paired with the first member of
   every other sub-bucket. Pair count is O(m * cap) — LINEAR in bucket
   size — while a true duplicate block still forms ONE connected
   component after verification + union-find. A million-member
   exact-duplicate group (the common case in any real 100 TB corpus)
   therefore cannot produce an O(m²) shuffle explosion.
2. **Triangle block split** (`soft`): each sub-bucket above `soft`
   members is split into g = ceil(size/soft) blocks; each (i <= j) block
   pair becomes its own join key, fanning a hot bucket over g(g+1)/2
   shuffle partitions instead of one reducer. Every pair is enumerated
   exactly once (cross pairs appear only under key (block(a) <=
   block(b)); canonicalization is least/greatest, not an a<b filter,
   because block assignment does not preserve member order).

Buckets smaller than `cap` enumerate ALL their pairs — at contract/test
scale (buckets << cap) the output is exactly the naive self-join's.

Physical split: buckets of <= `soft` members (the overwhelming majority at
any scale — near-dup groups are small; hot template/boilerplate buckets
are the exception the layers above exist for) enumerate their <=
soft*(soft-1)/2 pairs IN PLACE with JVM higher-order array functions
straight off the groupBy aggregate — no further shuffle at all. Only
buckets above `soft` enter the triangle block join, so its two
explode-shuffles move O(hot-bucket rows), not O(all band rows). The pair
SET is identical either way (single sub-bucket, single block => all
pairs); only the physical plan differs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scope import scoped_persist


def capped_bucket_pairs(rows: DataFrame, key: list[str], member: str,
                        cap: int, soft: int,
                        dedup_key: list[str] | None = None) -> DataFrame:
    """(key..., member) rows → (out_key..., a, b) canonical candidate
    pairs, where out_key is `dedup_key` when given, else `key`.

    `member` may be an atomic orderable column or a struct whose FIRST
    field is a unique sort key — sort_array / least / greatest order
    structs lexicographically by leading field, so enumeration matches
    the single-node mirrors (oracle.candidate_pairs_from_feats) that
    sort members the same way. Column names `members cnt rn rn0 sub
    sub_rn sub_size g blk i j a b bk` are reserved for internal use and
    must not appear in `key`.

    `dedup_key` (round 6): callers whose downstream collapses the key
    columns anyway (the LSH paths all end in distinct/groupBy over the
    pair) may pass the subset of `key` they actually distinguish —
    usually [] or ["channel"]. HOT buckets with identical member sets
    under the same dedup_key are then enumerated ONCE instead of once
    per bucket: with 32 LSH bands, an m-member exact-duplicate group
    fills one identical bucket PER BAND, and the triangle join emitted
    the identical O(m·cap) pair set 32 times into the caller's distinct
    (measured: 20M pre-distinct rows for the planted 5k hot group's
    629,359 distinct pairs). Bucket identity for the join keys is the
    MINIMUM original key tuple per member set — exact, no hashing — so
    distinct member sets can never collide. The pair SET is unchanged
    by construction; only multiplicities the caller was discarding go
    away. Small buckets are not deduped (their in-place enumeration is
    cheaper than a members-keyed shuffle), and the default (None) keeps
    the full per-bucket output.
    """
    # persist(): up to five downstream branches (small-bucket in-place
    # enumeration, triangle left/right, rep chain rep0/reps) would
    # otherwise each recompute the collect_list aggregation. persist,
    # NOT localCheckpoint — checkpoint lineage truncation GCs the stage's
    # SQLMetrics while straggler task completions still reference them,
    # spraying benign-but-noisy 'Failed to update accumulator' ERRORs.
    # scoped: a caller that materializes inside a cache_scope() (pipeline
    # stage writes, streaming micro-batches) releases this cache on exit
    grp = scoped_persist(
        rows.groupBy(*key)
        .agg(F.sort_array(F.collect_list(member)).alias("members"))
        .where(F.size("members") > 1))

    out_key = key if dedup_key is None else list(dedup_key)

    # small buckets (<= soft members): all pairs, generated JVM-side from
    # the sorted members array — no join, no extra shuffle. sort_array
    # ordering makes x < y structural, so (a, b) is already canonical.
    small = (grp.where(F.size("members") <= soft)
             .select(*out_key, F.explode(F.expr(
                 "flatten(transform(members, (x, i) -> "
                 "transform(slice(members, i + 2, size(members)), "
                 "y -> struct(x AS a, y AS b))))")).alias("p"))
             .select(*out_key, "p.a", "p.b")
             .where(F.col("a") != F.col("b")))

    # Measure the skew tail before building its plan (round 6): ONE slim
    # aggregate over the cached bucket table computes the hot-bucket
    # member count, the EXACT pair count the triangle+chain layers will
    # emit (q full sub-buckets of cap members + an r-member remainder +
    # the representative chain), the hot-bucket count, and — when
    # dedup_key is given — the number of DISTINCT (dedup_key, member-set)
    # groups, estimated via xxhash64 of the members array so the count
    # shuffles 8-byte hashes, never the member arrays. Three uses:
    #   * hot_rows == 0 — the overwhelmingly common case at bench tier
    #     and in streaming micro-batches — skips the triangle join and
    #     chain entirely (3 shuffle stages + a pinned-width exchange that
    #     AQE may not coalesce, paid per query even when the hot side is
    #     EMPTY: measured 1.2-1.6x on the bench-tier LSH queries);
    #   * the DECISION whether member-set dedup pays: the dedup is itself
    #     a members-keyed shuffle of the hot rows, measured +3-4 s on the
    #     candidates stage at the 400k audio tier where only 1.27x of
    #     buckets collapse (3374 -> 1720), vs a 5 s win at the doc
    #     hot-group tier where 32x collapse. Dedup runs only when at
    #     least half the hot buckets would collapse (2*distinct <=
    #     buckets). Hashing here only steers this performance decision —
    #     bucket identity in the join keys stays the exact min key tuple,
    #     so a hash collision can never change the pair set;
    #   * n_part for the triangle join scales with the pair output instead
    #     of a constant defaultParallelism*4 — a constant is too BIG for
    #     small hot sets (128 near-empty tasks) and too SMALL at 100x scale
    #     (the round-5 straggler incident had 2.27M pairs/task at width
    #     128). Under member-set dedup the output is estimated as
    #     pairs × distinct_sets / buckets (Every Row Counts, CIDR'19): the
    #     width is the ONE use that may rest on an estimate, since it
    #     changes only the partition count, never the pair set. 32
    #     identical band buckets give exactly the deduped count.
    # The aggregate reads the persisted grp, which every downstream branch
    # was about to materialize anyway — the cost is one job of scheduling.
    hot_grp = grp.where(F.size("members") > soft)
    pre = (hot_grp.select(
        F.size("members").cast("long").alias("m"),
        F.xxhash64(*out_key, "members").alias("mh"))
        .agg(F.coalesce(F.sum("m"), F.lit(0)).alias("rows"),
             F.coalesce(F.sum(
                 F.floor(F.col("m") / cap) * (cap * (cap - 1) // 2)
                 + F.floor((F.col("m") % cap)
                           * ((F.col("m") % cap) - 1) / 2)
                 + F.ceil(F.col("m") / cap) - 1), F.lit(0))
             .alias("pairs"),
             F.count(F.lit(1)).alias("buckets"),
             F.countDistinct("mh").alias("distinct_sets"))
        .collect()[0])
    if int(pre["rows"]) == 0:
        return small

    # hot-bucket source: optionally deduped by (dedup_key, member set)
    # with the min original key tuple as the bucket identity `bk` for the
    # triangle join keys (struct equality — exact).
    hot_pairs = int(pre["pairs"])
    if (dedup_key is not None
            and 2 * int(pre["distinct_sets"]) <= int(pre["buckets"])):
        # persist: kept's four branches read hot_src; uncached, each
        # would re-run the groupBy
        hot_src = scoped_persist(
            hot_grp.groupBy(*out_key, "members")
            .agg(F.min(F.struct(*key)).alias("bk")))
        hot_pairs = (hot_pairs * int(pre["distinct_sets"])
                     // int(pre["buckets"]))
    else:
        hot_src = hot_grp.select(*out_key, "members",
                                 F.struct(*key).alias("bk"))

    # layer 1 (buckets above soft only): sub-bucket split (linear skew
    # bound) — sub index + size. These rows are the skew tail, so the
    # four consumers below each re-filter/recompute the slim hot source
    # cheaply off the cached grp.
    kept = (hot_src
            .select(*out_key, "bk", F.size("members").alias("cnt"),
                    F.posexplode("members").alias("rn0", "m"))
            .withColumn("rn", F.col("rn0") + 1)
            .withColumn("sub", (F.col("rn0") / F.lit(cap)).cast("int"))
            .withColumn("sub_rn", F.col("rn0") % F.lit(cap))
            .withColumn("sub_size",
                        F.least(F.col("cnt") - F.col("sub") * cap,
                                F.lit(cap)))
            .drop("rn0"))

    # layer 2: triangle block split within each sub-bucket
    blocked = (kept
               .withColumn("g", F.ceil(F.col("sub_size")
                                       / F.lit(soft)).cast("int"))
               .withColumn("blk", (F.col("sub_rn") % F.col("g")).cast("int"))
               .select(*out_key, "bk", "m", "sub", "g", "blk"))
    left = (blocked.withColumn("j", F.explode(F.sequence(F.col("blk"),
                                                         F.col("g") - 1)))
            .select(*out_key, "bk", "sub", F.col("blk").alias("i"), "j",
                    F.col("m").alias("a")))
    # right side carries no out_key columns: bk determines them (bk is
    # the bucket identity; under dedup_key the groupBy key functionally
    # determines bk and vice versa), and duplicating them would clash in
    # the join output
    right = (blocked.withColumn("i", F.explode(F.sequence(F.lit(0),
                                                          F.col("blk"))))
             .select("bk", "sub", "i", F.col("blk").alias("j"),
                     F.col("m").alias("b")))
    join_key = ["bk", "sub", "i", "j"]
    # Pin the join's partition count with an explicit repartition on the
    # join key (REPARTITION_BY_NUM — AQE honors user-numbered shuffles and
    # will not coalesce them). Without it, AQE's byte-based coalescing sees
    # only the small probe-side input (~15 B/row) and folds the join to a
    # handful of partitions, blind to the ~6-30x row amplification and
    # per-row join compute downstream — measured at the 400k scale tier as
    # 9 straggler tasks of 7-8 s (350k rows in, 2.27M pairs out, each)
    # under a 0.3 s median, stage util 0.70. Same failure mode as the
    # mapInPandas coalescing pitfall verify.py guards against. The
    # repartition is free: the join was going to shuffle both sides on
    # exactly this key anyway.
    #
    # The count is SIZE-AWARE (round 6): one partition per ~100k measured
    # output pairs, clamped to [defaultParallelism, defaultParallelism*4]
    # — the round-5 constant (4x cores) forced 128 near-empty tasks onto
    # bench-tier hot sets of a few hundred k pairs, and would be far too
    # narrow at 100x scale. The clamp floor keeps every core busy; the
    # ceiling bounds scheduling cost (at genuinely larger pair counts the
    # per-task share grows linearly, which is the job getting bigger, not
    # skew — work per (bk, sub, i, j) group is bounded by soft² pairs, so
    # groups spread evenly at any width).
    par = rows.sparkSession.sparkContext.defaultParallelism
    n_part = min(par * 4, max(par, -(-hot_pairs // 100_000)))
    raw_pairs = (left.repartition(n_part, *join_key)
                 .join(right.repartition(n_part, *join_key),
                       on=join_key, how="inner")
                 .where(F.col("a") != F.col("b"))
                 .select(*out_key,
                         F.least("a", "b").alias("a"),
                         F.greatest("a", "b").alias("b")))

    # representative chain: first member of sub 0 ↔ first member of sub > 0
    rep0 = (kept.where(F.col("rn") == 1)
            .select(*out_key, "bk", F.col("m").alias("ra")))
    reps = (kept.where((F.col("sub_rn") == 0) & (F.col("sub") > 0))
            .select("bk", F.col("m").alias("rb")))
    chain = (rep0.join(reps, on=["bk"], how="inner")
             .select(*out_key,
                     F.least("ra", "rb").alias("a"),
                     F.greatest("ra", "rb").alias("b")))

    return small.unionByName(raw_pairs).unionByName(chain)
