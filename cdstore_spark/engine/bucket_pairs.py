"""Generic skew-bounded bucket → candidate-pair enumeration.

One implementation shared by every LSH-style candidate join in the repo
(the audio candidate stage, the document MinHash-LSH and SimHash block
joins), so all three get the same 10^12-scale bound instead of an uncapped
band self-join.

**Pair set** (`cap`): a bucket of m members is cut — in deterministic
sorted-member order — into sub-buckets of <= cap members; pairs are
enumerated within each sub-bucket, and the first member of the bucket is
paired with the first member of every later sub-bucket (the
representative chain). Pair count is O(m * cap) — LINEAR in bucket size —
while a true duplicate block still forms ONE connected component after
verification + union-find, so a million-member exact-duplicate group
cannot produce an O(m²) shuffle explosion. Buckets of <= cap members
enumerate ALL their pairs: at contract/test scale the output is exactly
the naive self-join's. oracle.candidate_pairs_from_feats states the same
set as a plain loop.

**Physical plan** (`soft`): one groupBy aggregate collects each bucket's
sorted member array, then
- buckets of <= `soft` members (the overwhelming majority at any scale —
  near-dup groups are small) enumerate their pairs in place, in the
  aggregate's partition, with no further shuffle;
- buckets above `soft` become one row per sub-bucket, which a pinned
  hash repartition spreads over all cores before that row's <=
  cap(cap-1)/2 + 1 pairs are enumerated. Without the spread a hot
  bucket's O(m·cap) pairs would all be built by the one task that
  aggregated it.
Both paths share one higher-order pair expression (`_pairs_in`), and
`slice` keeps the sorted order, so a < b holds by construction. No join
and no driver-side collect: building the plan starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pairs_in(arr: str) -> str:
    """SQL for the array of every (a, b) struct pair of the sorted array
    column `arr`, with a before b in array order."""
    return (f"flatten(transform({arr}, (x, i) -> "
            f"transform(slice({arr}, i + 2, size({arr})), "
            f"y -> struct(x AS a, y AS b))))")


def capped_bucket_pairs(rows: DataFrame, key: list[str], member: str,
                        cap: int, soft: int,
                        dedup_key: list[str] | None = None) -> DataFrame:
    """(key..., member) rows → (out_key..., a, b) canonical candidate
    pairs, where out_key is `dedup_key` when given, else `key`.

    `member` may be an atomic orderable column or a struct whose FIRST
    field is a unique sort key — sort_array orders structs
    lexicographically by leading field, so enumeration matches the
    single-node mirrors (oracle.candidate_pairs_from_feats) that sort
    members the same way. Column names `members head sub ms p a b` are
    reserved for internal use and must not appear in `key`.

    `dedup_key`: callers whose downstream collapses the key columns anyway
    (the LSH paths all end in distinct/groupBy over the pair) may pass the
    subset of `key` they actually distinguish — usually [] or
    ["channel"]. With 32 LSH bands an m-member exact-duplicate group fills
    one identical bucket PER BAND; its hot sub-bucket rows are then
    identical across bands and a `distinct` keeps one copy, so the
    O(m·cap) pairs are enumerated once instead of 32 times. The dedup is
    exact (whole-row equality, no hashing) and rides the spread
    repartition, whose hash columns are a subset of the row, so it adds no
    exchange. Small buckets are not deduped: their in-place enumeration is
    cheaper than a members-keyed shuffle. The default (None) keeps the
    full per-bucket output.
    """
    # the small and hot branches both read the aggregate; Spark's exchange
    # reuse shares its shuffle (the second read is a ReusedExchange), so
    # the input is scanned and shuffled once and no cache outlives the
    # query
    grp = (rows.groupBy(*key)
           .agg(F.sort_array(F.collect_list(member)).alias("members"))
           .where(F.size("members") > 1))

    out_key = key if dedup_key is None else list(dedup_key)

    small = (grp.where(F.size("members") <= soft)
             .select(*out_key, F.explode(F.expr(_pairs_in("members")))
                     .alias("p")))

    # hot buckets: one (head, sub, ms) row per sub-bucket of <= cap
    # members. The repartition pins the width (REPARTITION_BY_NUM, never
    # coalesced by AQE): each row holds <= cap members but expands to up
    # to cap(cap-1)/2 pairs, and AQE's byte-based coalescing, blind to that
    # amplification, would fold them onto a handful of straggler tasks —
    # the pitfall verify's pinned repartition guards against too.
    par = rows.sparkSession.sparkContext.defaultParallelism
    hot = (grp.where(F.size("members") > soft)
           .select(*out_key, F.col("members")[0].alias("head"),
                   F.posexplode(F.expr(
                       f"transform(sequence(0, (size(members) - 1) div {cap}),"
                       f" s -> slice(members, s * {cap} + 1, {cap}))"))
                   .alias("sub", "ms"))
           .repartition(2 * par, *out_key, "head", "sub")
           .distinct()
           # pairs inside the sub-bucket + the chain pair (head, ms[0])
           .select(*out_key, F.explode(F.expr(
               f"concat({_pairs_in('ms')}, filter(array(struct("
               f"head AS a, ms[0] AS b)), q -> sub > 0))")).alias("p")))

    return (small.unionByName(hot)
            .select(*out_key, "p.a", "p.b")
            .where(F.col("a") != F.col("b")))
