"""Structured Streaming: incremental dedup ingest (foreachBatch + band-index
matching, exactly-once via checkpoint) and watermarked windowed aggregation.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cdstore_spark import golden


def _stage(src: pd.DataFrame, in_dir, n_files: int) -> str:
    """Write src as n_files arrival files with increasing mtimes, so the
    file source (which orders by mtime) streams them in row order; at
    maxFilesPerTrigger=4, 8 files make 2 epochs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdstore_spark.golden import _CLIPS_SCHEMA
    in_dir.mkdir()
    step = -(-len(src) // n_files)
    for i in range(n_files):
        path = str(in_dir / f"arrival_{i:02d}.parquet")
        pq.write_table(pa.Table.from_pandas(src.iloc[i * step:(i + 1) * step],
                                            schema=_CLIPS_SCHEMA,
                                            preserve_index=False), path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return str(in_dir)


def _batch_pairs(spark, src: pd.DataFrame, cfg) -> set:
    """Batch candidate_pairs over all of src at once."""
    from cdstore_spark.engine import candidates as S_cand
    from cdstore_spark.engine import featurize as S_feat
    feats = S_feat.featurize(spark.createDataFrame(src), cfg)
    exp, _ = S_cand.candidate_pairs(feats, cfg)
    return set(map(tuple, exp.select("a", "b").toPandas().values))


def _assert_stream_equals_batch(spark, clips: pd.DataFrame, tmp_path,
                                cfg) -> None:
    """Stream clips as 8 arrival files (2 epochs): the features span >= 2
    epochs, and the stream's pair rows are unique and equal batch
    candidate_pairs over the same clips."""
    from cdstore_spark.streaming.ingest import incremental_dedup_ingest
    in_dir = _stage(clips, tmp_path / "incoming8", 8)
    state = str(tmp_path / "state8")
    q = incremental_dedup_ingest(spark, in_dir, state, cfg)
    q.awaitTermination(300)
    assert (spark.read.parquet(os.path.join(state, "features"))
            .select("epoch").distinct().count()) >= 2
    rows = list(map(tuple, spark.read.parquet(os.path.join(state, "pairs"))
                    .select("a", "b").toPandas().values))
    assert len(rows) == len(set(rows))
    assert set(rows) == _batch_pairs(spark, clips, cfg)


@pytest.fixture()
def staged_clips(spark, smoke_golden, tmp_path):
    """Split 120 smoke clips into 3 arrival files."""
    src = spark.read.parquet(golden.clips_path("smoke")).limit(120).toPandas()
    return _stage(src, tmp_path / "incoming", 3), src


class TestIncrementalIngest:
    def test_ingest_accumulates_and_is_idempotent(self, spark, staged_clips,
                                                  tmp_path):
        from cdstore_spark.streaming.ingest import incremental_dedup_ingest
        in_dir, src = staged_clips
        state = str(tmp_path / "state")

        q = incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        feats = spark.read.parquet(os.path.join(state, "features"))
        assert feats.count() == 120
        assert feats.select("clip_id").distinct().count() == 120

        # restart with no new files: checkpoint prevents reprocessing
        q2 = incremental_dedup_ingest(spark, in_dir, state)
        q2.awaitTermination(300)
        assert spark.read.parquet(
            os.path.join(state, "features")).count() == 120

    def test_write_pool_passes_session(self, spark, staged_clips,
                                       tmp_path):
        """An epoch's concurrent writes run on pool threads wrapped with
        the batch's session, so pyspark has no reason to warn that job
        tags will not be inherited."""
        import warnings

        from cdstore_spark.streaming.ingest import incremental_dedup_ingest
        in_dir, _ = staged_clips
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            q = incremental_dedup_ingest(spark, in_dir,
                                         str(tmp_path / "state"))
            q.awaitTermination(300)
        msgs = [str(w.message) for w in rec]
        assert not [m for m in msgs if "Tags will not be inherited" in m]

    def test_epoch_replay_does_not_duplicate(self, spark, staged_clips,
                                             tmp_path):
        """Simulated retry: wipe ONLY the streaming checkpoint so every
        micro-batch replays against the existing output. Epoch-partitioned
        dynamic overwrite must replace the epochs, not append duplicates
        (the failure mode of plain mode('append') epoch tagging)."""
        from cdstore_spark.streaming.ingest import incremental_dedup_ingest
        in_dir, src = staged_clips
        state = str(tmp_path / "state3")
        q = incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        feat_dir = os.path.join(state, "features")
        pair_dir = os.path.join(state, "pairs")
        n1 = spark.read.parquet(feat_dir).count()
        assert n1 == 120
        pairs_before = sorted(map(tuple, spark.read.parquet(pair_dir)
                                  .select("a", "b", "epoch")
                                  .toPandas().values.tolist()))
        shutil.rmtree(os.path.join(state, "_checkpoint"))
        q2 = incremental_dedup_ingest(spark, in_dir, state)
        q2.awaitTermination(300)
        feats = spark.read.parquet(feat_dir)
        assert feats.count() == 120
        assert feats.select("clip_id").distinct().count() == 120
        # pairs are idempotent too: each replayed epoch matches only
        # strictly-earlier epochs, so its partition content is identical
        # and no pair migrates into or duplicates across epochs
        pairs_after = sorted(map(tuple, spark.read.parquet(pair_dir)
                                 .select("a", "b", "epoch")
                                 .toPandas().values.tolist()))
        assert pairs_after == pairs_before

    def test_band_index_lookup_prunes_partitions(self, spark, staged_clips,
                                                 tmp_path):
        """The per-batch match must read the compact band index — pruned
        to strictly-earlier epochs and the probed hash-prefix buckets —
        and never the accumulated feature payloads."""
        from cdstore_spark.streaming.ingest import (
            BAND_INDEX_BUCKETS, band_index_lookup, incremental_dedup_ingest)
        _, src = staged_clips
        in_dir = _stage(src, tmp_path / "incoming8", 8)
        state = str(tmp_path / "state4")
        q = incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        band_dir = os.path.join(state, "bands")
        feat_dir = os.path.join(state, "features")

        # the index is narrow: band key + clip_id only (no event/payload
        # columns — those live in features, which lookups never touch)
        idx = spark.read.parquet(band_dir)
        assert set(idx.columns) == {"channel", "band_idx", "band_hash",
                                    "clip_id", "epoch", "bp"}
        n_epochs = idx.select("epoch").distinct().count()
        assert n_epochs >= 2          # several micro-batches accumulated

        # partition pruning: a lookup for epoch 1 probing one bucket must
        # plan both predicates as PartitionFilters on the file scan (file-
        # level pruning; inputFiles() lists pre-pruning so is no evidence)
        look = band_index_lookup(spark, band_dir, 1, [3])
        plan = look._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters")[1].splitlines()[0]
        assert "epoch" in pf and "bp" in pf, pf
        got = look.toPandas()
        assert (got["epoch"] == 0).all()
        assert (got["band_hash"].astype("int64") % 16 == 3).all()
        assert "/features/" not in plan

        # one file per (epoch, bp) partition: the per-batch repartition(bp)
        # keeps the index from fragmenting into shuffle-partition-many
        # tiny files (at 10^12 scale small files kill the lookup)
        import glob
        for d in glob.glob(os.path.join(band_dir, "epoch=*", "bp=*")):
            n_parts = len(glob.glob(os.path.join(d, "*.parquet")))
            assert n_parts == 1, (d, n_parts)
        assert 0 < len(spark.read.parquet(band_dir)
                       .select("bp").distinct().toPandas()) \
            <= BAND_INDEX_BUCKETS

    def test_band_index_compaction_bounds_partitions(self, spark,
                                                     staged_clips, tmp_path,
                                                     monkeypatch):
        """Long-horizon hygiene: the band index must not accrue one epoch
        partition per micro-batch forever. With the compaction threshold
        forced low, committed epochs fold into a bp-keyed base layer; the
        discovered pair set must be IDENTICAL to the uncompacted run's,
        lookups must keep working across both layers, loose-epoch count
        stays bounded, and a full checkpoint-wipe replay regenerates the
        same pairs (replay safety of the compaction watermark)."""
        import glob

        from cdstore_spark.streaming import ingest as I
        _, src = staged_clips
        # 12 files x 10 clips at maxFilesPerTrigger=4 → 3 micro-batches
        in_dir = _stage(src, tmp_path / "incoming12", 12)

        # reference: same arrivals, no compaction
        state_ref = str(tmp_path / "state_ref")
        q = I.incremental_dedup_ingest(spark, in_dir, state_ref)
        q.awaitTermination(300)
        ref_pairs = sorted(map(tuple, spark.read.parquet(
            os.path.join(state_ref, "pairs"))
            .select("a", "b", "epoch").toPandas().values.tolist()))
        ref_bands = spark.read.parquet(
            os.path.join(state_ref, "bands")).count()
        assert len(spark.read.parquet(os.path.join(state_ref, "bands"))
                   .select("epoch").distinct().toPandas()) == 3

        # compacted run: fold committed epochs once 2 pile up
        monkeypatch.setattr(I, "BAND_COMPACT_EVERY", 2)
        state = str(tmp_path / "state_cmp")
        q = I.incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        band_dir = os.path.join(state, "bands")

        got_pairs = sorted(map(tuple, spark.read.parquet(
            os.path.join(state, "pairs"))
            .select("a", "b", "epoch").toPandas().values.tolist()))
        assert got_pairs == ref_pairs

        # epochs 0,1 folded into base v=1; only epoch 2 stays loose
        assert I._epoch_partitions(band_dir) == [2]
        base = I._latest_base(band_dir, 3)
        assert base is not None and base[0] == 1
        # base is bp-partitioned, one file per bucket
        for d in glob.glob(os.path.join(base[1], "bp=*")):
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

        # a lookup as the NEXT epoch (3) sees every indexed row exactly
        # once across base + loose layers
        look = I.band_index_lookup(spark, band_dir, 3,
                                   list(range(I.BAND_INDEX_BUCKETS)))
        assert look.count() == ref_bands
        assert set(look.select("epoch").distinct().toPandas()["epoch"]) \
            == {0, 1, 2}
        # replay-safe: a replayed epoch 2 must NOT see itself via the base
        look2 = I.band_index_lookup(spark, band_dir, 2,
                                    list(range(I.BAND_INDEX_BUCKETS)))
        assert set(look2.select("epoch").distinct().toPandas()["epoch"]) \
            == {0, 1}

        # full checkpoint-wipe replay over the compacted state regenerates
        # the identical pair set (watermark < every replayable epoch)
        shutil.rmtree(os.path.join(state, "_checkpoint"))
        q = I.incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        replay_pairs = sorted(map(tuple, spark.read.parquet(
            os.path.join(state, "pairs"))
            .select("a", "b", "epoch").toPandas().values.tolist()))
        assert replay_pairs == ref_pairs

    def test_lookup_after_full_compaction_and_stale_base_sweep(
            self, spark, staged_clips, tmp_path):
        """Two crash/edge hygiene properties of the band index:

        (a) when compaction folds EVERY epoch partition into the base
            (zero loose epochs), a lookup must still return the base
            layer's rows — structurally, not via an exception path that
            would silently drop all cross-epoch matches;
        (b) a crash that leaves multiple _DONE bases behind must not leak
            the older ones forever — the next compaction sweeps every
            base with a smaller watermark, not just the one it folded."""
        import glob

        from cdstore_spark.streaming import ingest as I
        _, src = staged_clips
        # 12 files x 10 clips at maxFilesPerTrigger=4 → 3 micro-batches
        in_dir = _stage(src, tmp_path / "incoming_full", 12)
        state = str(tmp_path / "state_full")
        q = I.incremental_dedup_ingest(spark, in_dir, state)
        q.awaitTermination(300)
        band_dir = os.path.join(state, "bands")
        epochs = I._epoch_partitions(band_dir)
        assert epochs == [0, 1, 2]
        ref_rows = spark.read.parquet(band_dir).count()

        # (b) plant a fake stale base as if an older compaction's cleanup
        # crashed after its _DONE landed
        stale = os.path.join(I._base_root(band_dir), "v=0")
        os.makedirs(stale, exist_ok=True)
        spark.read.parquet(band_dir).where("epoch = 0") \
            .select(*I._BAND_COLS).write.mode("overwrite") \
            .partitionBy("bp").parquet(stale)
        with open(os.path.join(stale, "_DONE"), "w") as f:
            f.write("0")

        # fold EVERYTHING (epochs 0..2) into one base
        out = I.compact_band_index(spark, band_dir, 2)
        assert out.endswith("v=2")
        assert I._epoch_partitions(band_dir) == []       # zero loose epochs
        bases = sorted(glob.glob(os.path.join(I._base_root(band_dir), "v=*")))
        assert bases == [out], bases                     # stale v=0 swept

        # (a) lookup as the next epoch: base-only read, every row exactly
        # once, no exception from the empty recent layer
        look = I.band_index_lookup(spark, band_dir, 3,
                                   list(range(I.BAND_INDEX_BUCKETS)))
        assert look is not None and look.count() == ref_rows
        # replay of epoch 0 must see nothing: the base (W=2) is not
        # replay-safe for it and no loose epochs remain
        assert I.band_index_lookup(spark, band_dir, 0, [0, 1]) is None

    def test_cross_batch_pairs_found(self, spark, staged_clips, tmp_path):
        """Planted duplicates split across epochs must still pair up: the
        stream's pairs equal batch candidate_pairs over the same clips (no
        bucket here is above bucket_cap, so it may add none extra)."""
        from cdstore_spark.config import DEFAULT
        _assert_stream_equals_batch(spark, staged_clips[1], tmp_path,
                                    DEFAULT)

    def test_hot_bucket_pairs_match_batch(self, spark, staged_clips,
                                          tmp_path):
        """A bucket above bucket_cap that spans epochs: 12 copies of one
        clip interleaved with 120 others (bucket_cap=4, bucket_soft=2),
        arriving in clip_id order. The stream enumerates each epoch with
        the batch's capped enumerator, so its pairs equal batch
        candidate_pairs; an uncapped cross-epoch join would add every
        new x old pair of the hot bucket."""
        from cdstore_spark.config import PipelineConfig
        _, src = staged_clips
        copies = pd.DataFrame([src.iloc[0]] * 12).assign(
            clip_id=[f"{c}a" for c in src["clip_id"].iloc[::10]])
        clips = (pd.concat([src, copies]).sort_values("clip_id")
                 .reset_index(drop=True))
        _assert_stream_equals_batch(spark, clips, tmp_path,
                                    PipelineConfig(bucket_cap=4,
                                                   bucket_soft=2))


class TestStatefulOperator:
    def test_running_codec_stats_matches_batch(self, spark, staged_clips,
                                               tmp_path):
        """applyInPandasWithState running totals: after an availableNow
        drain over 3 arrival files, the LAST update per codec must equal
        the batch groupBy over all 120 clips."""
        from cdstore_spark.engine import featurize as S_feat
        from cdstore_spark.streaming.ingest import running_codec_stats
        in_dir, src = staged_clips
        stream = (spark.readStream.schema(S_feat.CLIP_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (running_codec_stats(stream)
             .writeStream.format("memory").queryName("codec_stats")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck_state"))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        got = (spark.sql("select * from codec_stats").toPandas()
               .groupby("codec").max())   # running totals are monotone
        batch = spark.createDataFrame(src).groupBy("codec").agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum(F.octet_length("bytes").cast("long"))
            .alias("total_bytes")).toPandas().set_index("codec")
        for codec, row in batch.iterrows():
            assert got.loc[codec, "n_clips"] == row["n_clips"]
            assert got.loc[codec, "total_bytes"] == row["total_bytes"]


class TestWindowedAgg:
    def test_watermarked_window_counts(self, spark, tmp_path):
        from cdstore_spark.streaming.ingest import windowed_event_counts
        src = "/root/testdata/sf0.001/events.parquet"
        ev_dir = tmp_path / "events_in"
        ev_dir.mkdir()
        shutil.copy(src, str(ev_dir / "events.parquet"))
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema).parquet(str(ev_dir))
                  .select("event_id",
                          F.col("ts").cast("timestamp").alias("ts"),
                          "user_id", "event_type", "value"))
        out = windowed_event_counts(stream)
        q = (out.writeStream.format("memory").queryName("wincounts")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        # append mode emits only watermark-closed windows; compare against
        # batch computation restricted to closed windows
        got = spark.sql("select * from wincounts").toPandas()
        batch = spark.read.parquet(src)
        exp = (batch.withColumn("ts", F.col("ts").cast("timestamp"))
               .groupBy(F.window("ts", "1 day").alias("win"),
                        "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col("win.start").alias("window_start"),
                       "event_type", "n_events").toPandas())
        if len(got):
            m = got.merge(exp, on=["window_start", "event_type"],
                          suffixes=("_g", "_e"))
            assert (m["n_events_g"] == m["n_events_e"]).all()
