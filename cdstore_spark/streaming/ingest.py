"""Incremental streaming ingest + watermarked event-time aggregation.

incremental_dedup_ingest:
    file-source stream of clip rows → Arrow featurize (the same shared
    kernel as batch) → foreachBatch: match the micro-batch's LSH band rows
    against a PERSISTED band index (the streaming analog of CDStore's
    fingerprint-batch → server-index lookup, SURVEY.md §2.A op 9), append
    features + band rows + discovered candidate pairs.

    The band index is its own compact parquet table — (channel, band_idx,
    band_hash, clip_id) rows, partitioned by (epoch, bp) where bp is a
    band-hash prefix bucket — so a micro-batch's lookup reads the narrow
    index rows, never the accumulated feature rows (whose multi-KB
    event/transcript payloads would make per-batch matching O(total
    history bytes)). A micro-batch reads every bp bucket: any batch of
    >= 4 clips already touches all of them, so probing for the touched
    prefixes would prune nothing.

    Each epoch's pairs come from ONE call to the batch engine's
    capped_bucket_pairs over the batch's band rows plus the prior-epoch
    index rows of the buckets the batch touches, keeping the pairs with a
    member from this epoch. In a bucket of at most bucket_cap accumulated
    members that is every new-new and new-old pair; above the cap the
    bucket stays bounded across epochs as in batch, and with arrivals in
    clip_id order the pair set equals batch candidate_pairs exactly.

    Exactly-once by Structured Streaming checkpointing + IDEMPOTENT
    epoch-partitioned writes: every output is partitioned by epoch and
    written with dynamic partition overwrite, so a micro-batch retried
    after a partial write replaces its own epoch partition instead of
    appending duplicates; a replayed epoch matches only strictly-earlier
    epochs, so it regenerates exactly its original pairs.

windowed_event_counts:
    watermark + tumbling-window aggregation over the driver's `events`
    table schema — the standard late-data-tolerant streaming agg
    (SURVEY.md §2.B row 30).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, PipelineConfig
from ..engine import candidates as S_cand
from ..engine import featurize as S_feat
from ..engine.bucket_pairs import capped_bucket_pairs

#: band-hash prefix buckets of the persisted index — the partition grain a
#: lookup prunes on. 16 keeps directory counts sane at sandbox scale; on a
#: real cluster this scales with executor count (it bounds lookup fan-in)
BAND_INDEX_BUCKETS = 16

#: bump when the streaming state layout changes (feature/band/pair dirs,
#: partitioning) — ensure_incremental_run then rebuilds instead of serving
#: a stale-layout cache. Independent of ENGINE_LAYOUT_VERSION, which tracks
#: featurize schema/semantics.
STREAM_LAYOUT_VERSION = 6

#: compact the band index once this many epoch partitions accumulate above
#: the newest base layer — an always-on stream otherwise accrues one
#: (epoch, bp) partition pair per micro-batch FOREVER, and partition/file
#: listing cost grows O(epochs) even though lookups prune correctly
BAND_COMPACT_EVERY = 8


def _with_bp(bands: DataFrame) -> DataFrame:
    return bands.withColumn(
        "bp", F.pmod(F.col("band_hash"),
                     F.lit(BAND_INDEX_BUCKETS)).cast("int"))


#: epoch rides along as a DATA column in the base layer (partitioned by
#: bp only), so lookups return one schema from both layers
_BAND_COLS = ["channel", "band_idx", "band_hash", "clip_id", "bp",
              "epoch"]


def _base_root(band_dir: str) -> str:
    return os.path.join(os.path.dirname(band_dir.rstrip("/")), "bands_base")


def _latest_base(band_dir: str, before_epoch: int) -> tuple[int, str] | None:
    """Newest completed base layer that is REPLAY-SAFE for `before_epoch`:
    its compaction watermark W (epochs <= W are folded in) must satisfy
    W < before_epoch, so a replayed epoch never sees itself or later
    epochs through the base. Returns (W, path) or None."""
    root = _base_root(band_dir)
    if not os.path.isdir(root):
        return None
    best: tuple[int, str] | None = None
    for name in os.listdir(root):
        if not name.startswith("v="):
            continue
        try:
            w = int(name.split("=", 1)[1])
        except ValueError:
            continue
        p = os.path.join(root, name)
        if (w < before_epoch and os.path.exists(os.path.join(p, "_DONE"))
                and (best is None or w > best[0])):
            best = (w, p)
    return best


def _epoch_partitions(band_dir: str) -> list[int]:
    if not os.path.isdir(band_dir):
        return []
    out = []
    for name in os.listdir(band_dir):
        if name.startswith("epoch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def band_index_lookup(spark: SparkSession, band_dir: str, epoch_id: int,
                      bps: list[int]) -> DataFrame | None:
    """Reader over the persisted band index restricted to strictly-earlier
    epochs and the probed hash-prefix buckets. Returns None when neither
    layer holds any prior-epoch rows (first epoch, or a fresh compaction
    left zero loose epoch partitions and no base applies) — each layer is
    read ONLY if its partitions exist on disk, so an empty recent layer
    after compaction can never throw schema-inference errors (which a
    caller would have to treat as 'no prior epochs', silently dropping the
    base layer's matches).

    Two layers: the newest replay-safe BASE (epochs <= its watermark W,
    partitioned by bp only) plus the per-epoch partitions in (W, epoch_id).
    All predicates are on partition columns, so they prune at the FILE
    level (partition discovery) — the lookup never scans unprobed buckets
    or the current/later epochs (replay safety), and after compaction the
    number of listed partitions is bounded by BAND_INDEX_BUCKETS x
    (BAND_COMPACT_EVERY + 1) instead of growing with stream lifetime."""
    bp_list = [int(b) for b in bps]
    base = _latest_base(band_dir, int(epoch_id))
    w = base[0] if base else -1
    recent = None
    if any(w < e < int(epoch_id) for e in _epoch_partitions(band_dir)):
        recent = (spark.read.parquet(band_dir)
                  .where((F.col("epoch") < F.lit(int(epoch_id)))
                         & (F.col("epoch") > F.lit(w))
                         & (F.col("bp").isin(bp_list)))
                  .select(*_BAND_COLS))
    if base is None:
        return recent
    base_df = (spark.read.parquet(base[1])
               .where(F.col("bp").isin(bp_list))
               # every base row has epoch <= W < epoch_id by construction;
               # the residual filter is a cheap belt-and-suspenders
               .where(F.col("epoch") < F.lit(int(epoch_id)))
               .select(*_BAND_COLS))
    if recent is None:
        return base_df
    return recent.unionByName(base_df)


def compact_band_index(spark: SparkSession, band_dir: str,
                       through_epoch: int) -> str:
    """Fold every band-index epoch partition <= through_epoch (plus any
    older base) into a new base layer partitioned by bp only, then drop
    the folded epoch partitions and stale bases.

    REPLAY SAFETY: callers must pass through_epoch <= the newest COMMITTED
    epoch minus nothing further — i.e. only epochs that can never re-run.
    process_batch(epoch E) compacts through E-1: Structured Streaming
    replays at most the newest uncommitted epoch (E itself), and a
    replayed E reads strictly-earlier epochs, all of which the base
    covers. Crash-safe: the new base becomes visible only when its _DONE
    marker lands; a crash before cleanup leaves folded epoch partitions
    behind, which lookups already exclude (epoch > W filter) and the next
    compaction removes."""
    import shutil

    root = _base_root(band_dir)
    os.makedirs(root, exist_ok=True)
    old = _latest_base(band_dir, int(through_epoch) + 1)
    epochs = [e for e in _epoch_partitions(band_dir)
              if e <= int(through_epoch) and (old is None or e > old[0])]
    if not epochs:
        if old is not None:
            # nothing new to fold, but a prior crash may have left epoch
            # partitions the existing base already covers — sweep them
            _sweep_covered(band_dir, old[0], keep_base=old[1])
        return old[1] if old is not None else ""
    src = (spark.read.parquet(band_dir)
           .where(F.col("epoch") <= F.lit(int(through_epoch))
                  if old is None else
                  (F.col("epoch") > F.lit(old[0]))
                  & (F.col("epoch") <= F.lit(int(through_epoch))))
           .select(*_BAND_COLS))
    if old is not None:
        src = src.unionByName(
            spark.read.parquet(old[1]).select(*_BAND_COLS))
    out = os.path.join(root, f"v={int(through_epoch)}")
    shutil.rmtree(out, ignore_errors=True)   # leftover from a crashed run
    # one file per bp bucket — lookup reads exactly the probed buckets
    (src.repartition("bp")
     .write.mode("overwrite").partitionBy("bp").parquet(out))
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write(str(int(through_epoch)))
    # cleanup AFTER the marker: EVERY epoch partition the new base covers
    # and EVERY superseded base — not just what this run folded. A crash
    # between a previous compaction's _DONE and its cleanup can leave
    # covered epoch partitions and older bases behind; they are excluded
    # by every lookup (epoch > W / _latest_base picks the newest) but
    # would otherwise leak disk forever.
    _sweep_covered(band_dir, int(through_epoch), keep_base=out)
    return out


def _sweep_covered(band_dir: str, watermark: int, keep_base: str) -> None:
    """Remove every epoch partition <= watermark and every base layer
    other than keep_base with a watermark < watermark (all are covered by
    keep_base; lookups already ignore them)."""
    import shutil

    for e in _epoch_partitions(band_dir):
        if e <= watermark:
            shutil.rmtree(os.path.join(band_dir, f"epoch={e}"),
                          ignore_errors=True)
    root = _base_root(band_dir)
    keep = os.path.basename(keep_base.rstrip("/"))
    for name in os.listdir(root):
        if not name.startswith("v=") or name == keep:
            continue
        try:
            w_old = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if w_old < watermark:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def incremental_dedup_ingest(spark: SparkSession, input_dir: str,
                             state_dir: str,
                             cfg: PipelineConfig = DEFAULT,
                             available_now: bool = True,
                             compact_every: int | None = None):
    """Start the incremental ingest stream; returns the StreamingQuery.

    state_dir/features: accumulated feature rows (parquet, epoch-tagged)
    state_dir/bands:    the persisted band index — compact (channel,
                        band_idx, band_hash, clip_id) rows partitioned by
                        (epoch, bp band-hash prefix); what lookups read
    state_dir/pairs:    accumulated candidate pairs
    state_dir/_checkpoint: Structured Streaming WAL/commit log
    """
    if compact_every is None:
        compact_every = BAND_COMPACT_EVERY   # resolved at call time so
        # tests/benches can retune the module default via monkeypatch
    feat_dir = os.path.join(state_dir, "features")
    band_dir = os.path.join(state_dir, "bands")
    pair_dir = os.path.join(state_dir, "pairs")
    os.makedirs(feat_dir, exist_ok=True)
    os.makedirs(band_dir, exist_ok=True)
    os.makedirs(pair_dir, exist_ok=True)

    stream = (spark.readStream
              .schema(S_feat.CLIP_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))
    feats_stream = S_feat.featurize(stream, cfg)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # the batch and its band rows are the only caches an epoch makes,
        # and the finally below releases both: a long-running stream
        # accumulates no cached blocks per micro-batch
        batch_df = batch_df.persist()
        new_bands = None
        try:
            spark_l = batch_df.sparkSession
            new_bands = _with_bp(S_cand.explode_bands(batch_df, cfg)).persist()
            # ONE enumerator for the whole epoch (module docstring): this
            # batch's band rows plus the prior-epoch index rows of the
            # buckets it touches. The lookup reads every prefix bucket —
            # any batch of >= 4 clips touches all of them — and only
            # strictly-earlier epochs, so a REPLAYED epoch sees the index
            # state its original run saw and regenerates its own pairs.
            # No try/except: the lookup is None structurally when no
            # prior-epoch layer exists; a real read error must FAIL the
            # batch (streaming retries it).
            key = ["channel", "band_idx", "band_hash"]
            e = int(epoch_id)
            bands = new_bands.withColumn("epoch", F.lit(e))
            old = band_index_lookup(spark_l, band_dir, e,
                                    list(range(BAND_INDEX_BUCKETS)))
            if old is not None:
                bands = bands.unionByName(
                    old.join(new_bands.select(*key), key, "left_semi"))
            # members are (clip_id, epoch) structs: clip_id leads, so
            # they sort exactly as in batch; the epoch keeps the pairs
            # with a member from THIS epoch (older pairs belong to the
            # epoch that brought their later member)
            raw = capped_bucket_pairs(
                bands.select(*key, F.struct("clip_id", "epoch").alias("m")),
                key, "m", cap=cfg.bucket_cap, soft=cfg.bucket_soft,
                dedup_key=["channel"])
            pairs = (raw.where((F.col("a.epoch") == e)
                               | (F.col("b.epoch") == e))
                     .select(F.col("a.clip_id").alias("a"),
                             F.col("b.clip_id").alias("b"))
                     .distinct())

            # The three epoch writes are independent of each other (pair
            # discovery, band index, feature store — disjoint directories,
            # all idempotent dynamic epoch-partition overwrites, inputs
            # persisted above), so they run as concurrent jobs from a tiny
            # thread pool (guide §2.6): each write's straggler tail
            # back-fills with the next write's tasks instead of leaving
            # the executor idle — per-epoch fixed cost is the wall the
            # ingest rate divides by. A failure in any write must still
            # fail the batch (streaming retries it): pool.map re-raises.
            def _write_pairs() -> None:
                # idempotent: overwrite THIS epoch's partition only — a
                # retry (crash between writes, or before the streaming
                # commit) replaces its own rows instead of duplicating
                (pairs.withColumn("epoch", F.lit(int(epoch_id)))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("epoch").parquet(pair_dir))

            def _write_bands() -> None:
                # repartition by bp → exactly one index file per (epoch,
                # bp) partition per batch, instead of shuffle-partition-
                # many tiny files (small-file fragmentation is what kills
                # index lookups at scale)
                (new_bands.withColumn("epoch", F.lit(int(epoch_id)))
                 .repartition("bp")
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("epoch", "bp").parquet(band_dir))

            def _write_feats() -> None:
                (batch_df.withColumn("epoch", F.lit(int(epoch_id)))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("epoch").parquet(feat_dir))

            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [pool.submit(inheritable_thread_target(spark_l)(fn))
                        for fn in (_write_pairs, _write_bands,
                                   _write_feats)]
                for f in futs:
                    f.result()   # re-raise the first failure
            # long-horizon index hygiene: once enough epoch partitions
            # pile up above the newest base, fold all COMMITTED epochs
            # (< epoch_id — this epoch is still uncommitted and must stay
            # replayable) into a fresh base layer keyed by bp only
            old = _latest_base(band_dir, int(epoch_id))
            loose = [e for e in _epoch_partitions(band_dir)
                     if e < int(epoch_id)
                     and (old is None or e > old[0])]
            if len(loose) >= compact_every:
                compact_band_index(spark_l, band_dir, int(epoch_id) - 1)
        finally:
            if new_bands is not None:
                new_bands.unpersist()
            batch_df.unpersist()

    writer = (feats_stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation",
                      os.path.join(state_dir, "_checkpoint")))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ensure_incremental_run(spark: SparkSession, tier: str = "correctness",
                           n_files: int = 16,
                           cfg: PipelineConfig = DEFAULT) -> str:
    """Deterministic cached availableNow ingest over a golden tier's clips:
    the tier table is split into n_files parquet files, streamed through
    incremental_dedup_ingest (maxFilesPerTrigger batches them into several
    micro-batch epochs), and the accumulated state is frozen under
    data/stream_<tier>/ for the streaming contract query. Because
    featurize is deterministic per clip, the accumulated feature rows must
    equal the batch engine's — which is what the oracle checks. The
    marker holds the layouts, the config and the clip tier's identity; any
    other marker rebuilds the state from scratch."""
    import dataclasses
    import shutil

    import pyarrow.parquet as pq

    from .. import golden
    from ..artifacts import publish, reusable
    from ..engine.pipeline import ENGINE_LAYOUT_VERSION

    state = os.path.join(golden.DATA_ROOT, f"stream_{tier}")
    marker = os.path.join(state, "_STREAM_DONE.json")
    ident = {"n_files": n_files, "layout": ENGINE_LAYOUT_VERSION,
             "stream_layout": STREAM_LAYOUT_VERSION,
             "clips": golden.clips_ident(tier),
             "cfg": dataclasses.asdict(cfg)}
    if reusable(marker, ident):
        return state
    shutil.rmtree(state, ignore_errors=True)
    input_dir = os.path.join(state, "input")
    os.makedirs(input_dir, exist_ok=True)
    golden.ensure_clips(tier)
    tbl = pq.read_table(golden.clips_path(tier))
    step = (tbl.num_rows + n_files - 1) // n_files
    for i in range(n_files):
        part = tbl.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part,
                           os.path.join(input_dir, f"part-{i:04d}.parquet"),
                           row_group_size=512)
    query = incremental_dedup_ingest(spark, input_dir, state, cfg)
    query.awaitTermination()
    publish(marker, ident)
    return state


def running_codec_stats(clip_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-
    codec RUNNING clip count + payload byte total across micro-batches —
    the arbitrary-state API the brief names for operators that tumbling
    windows can't express (monotone running aggregates over an unbounded
    key lifetime). State is one (count, bytes) pair per codec; each
    micro-batch emits the updated running totals for the codecs it saw.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "codec string, n_clips long, total_bytes long"
    state_schema = "n long, b long"

    def fn(key, pdfs, state: GroupState):
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["n_bytes"].sum())
        state.update((n, b))
        yield pd.DataFrame({"codec": [key[0]], "n_clips": [n],
                            "total_bytes": [b]})

    keyed = clip_stream.select(
        "codec", F.octet_length("bytes").cast("long").alias("n_bytes"))
    return keyed.groupBy("codec").applyInPandasWithState(
        fn, out_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def windowed_event_counts(events_stream: DataFrame,
                          watermark: str = "1 hour",
                          window_len: str = "1 day") -> DataFrame:
    """Late-data-tolerant tumbling-window aggregation over event streams."""
    return (events_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_len).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "total_value"))
