"""Golden-artifact cache: generate-once synthetic tiers + frozen oracle
outputs (FIXTURES.md §3, milestone M1).

Artifacts live under /root/repo/data/audio_<tier>/ (gitignored, regenerated
deterministically on demand — bit-identical for a given config, seed 42):

    audio_clips.parquet        driver-contract input table
    planted_pairs.parquet      datagen ground truth (a, b, kind, expected_dup)
    expected_pairs.parquet     pairs the same-config oracle confirms
    expected_clusters.parquet  oracle union-find components (min member id)
    expected_pcm_stats.parquet per-clip decode invariants (n_samples, rms,
                               pcm_sha256 of oracle float32 PCM)

Tiers mirror the driver's sf dirs (TESTDATA.md): smoke ~ sf0.001,
correctness ~ sf0.01, bench ~ sf0.1.
"""

from __future__ import annotations

import dataclasses
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen, oracle
from .artifacts import publish, reusable
from .config import DEFAULT, PipelineConfig

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_ROOT = os.environ.get("CDSTORE_DATA_DIR", os.path.join(REPO_ROOT, "data"))

#: tier name → (n_clips, planted pairs); keyed off the driver sf dirs too
TIERS: dict[str, tuple[int, int]] = {
    "smoke": (1_000, 50),
    "correctness": (10_000, 500),
    "bench": (100_000, 5_000),
}
SF_TO_TIER = {"sf0.001": "smoke", "sf0.01": "correctness", "sf0.1": "bench"}

_CLIPS_SCHEMA = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
])


def tier_for_sf_dir(sf_dir: str) -> str:
    return SF_TO_TIER.get(os.path.basename(os.path.normpath(sf_dir)), "correctness")


def tier_dir(tier: str) -> str:
    return os.path.join(DATA_ROOT, f"audio_{tier}")


def clips_path(tier: str) -> str:
    return os.path.join(tier_dir(tier), "audio_clips.parquet")


def _write(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    # small row groups: Spark parallelizes a parquet scan at row-group
    # granularity — a single-row-group file (pyarrow's default 1M rows)
    # serializes the whole scan onto one task regardless of cluster size
    pq.write_table(tbl, path, row_group_size=512)


def clips_ident(tier: str) -> dict:
    """Identity of a tier's clip table: tier sizes plus the datagen seed.
    Artifacts built from the table (goldens, function goldens, the stream
    state) carry it in their own identity."""
    n, p = TIERS[tier]
    return {"tier": tier, "n_clips": n, "planted": p,
            "seed": datagen.MASTER_SEED}


def _clips_marker(tier: str) -> str:
    return os.path.join(tier_dir(tier), "_CLIPS_DONE.json")


def ensure_clips(tier: str) -> str:
    """Generate the audio_clips + planted_pairs parquet for a tier if absent.

    Generation is oracle-free (fast path) — golden oracle outputs are
    produced separately by ensure_golden because the bench tier only needs
    inputs, not a 100k-clip single-node oracle run.
    """
    ident = clips_ident(tier)
    if reusable(_clips_marker(tier), ident):
        return clips_path(tier)
    d = tier_dir(tier)
    os.makedirs(d, exist_ok=True)
    n, p = TIERS[tier]
    spec = datagen.build_spec(n, p)
    clips = datagen.synth_batch(spec)
    _write(clips, clips_path(tier), _CLIPS_SCHEMA)
    _write(datagen.planted_pairs(spec), os.path.join(d, "planted_pairs.parquet"))
    publish(_clips_marker(tier), ident)
    return clips_path(tier)


def ensure_golden(tier: str, cfg: PipelineConfig = DEFAULT) -> str:
    """Run the single-node oracle and freeze its outputs for a tier. The
    marker holds the clip table's identity and the config next to the
    quality metrics, so a config change rebuilds the golden."""
    d = tier_dir(tier)
    marker = os.path.join(d, "_GOLDEN_DONE.json")
    ident = {"clips": clips_ident(tier), "cfg": dataclasses.asdict(cfg)}
    if reusable(marker, ident):
        return d
    ensure_clips(tier)
    clips = pq.read_table(clips_path(tier)).to_pandas()
    res = oracle.run_oracle(clips, cfg)
    conf = res["confirmed"][["a", "b", "audio_ok", "text_ok", "span_ms", "span_chars"]]
    _write(conf, os.path.join(d, "expected_pairs.parquet"))
    _write(res["candidates"][["a", "b", "from_audio", "from_text"]],
           os.path.join(d, "expected_candidates.parquet"))
    _write(res["clusters"], os.path.join(d, "expected_clusters.parquet"))
    stats = res["feats"][["clip_id", "n_samples", "rms", "pcm_sha256"]]
    _write(stats, os.path.join(d, "expected_pcm_stats.parquet"))
    planted = pq.read_table(os.path.join(d, "planted_pairs.parquet")).to_pandas()
    metrics = oracle.recall_vs_planted(res["confirmed"], planted, res["clusters"])
    metrics.update(confirmed=int(len(conf)), candidates=int(len(res["candidates"])))
    publish(marker, dict(metrics, **ident))
    return d


if __name__ == "__main__":
    import sys
    for t in (sys.argv[1:] or ["smoke", "correctness"]):
        if t == "bench":
            ensure_clips(t)
        else:
            ensure_golden(t)
        print(f"{t}: ready at {tier_dir(t)}")
