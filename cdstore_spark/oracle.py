"""Single-node NumPy reference pipeline — the golden truth (milestone M1).

Runs the identical kernels and PipelineConfig as the Spark engine, end to
end, on one process: decode → CDC shingling → MinHash/SimHash → LSH buckets
→ capped candidate pairs → suffix-array verify → union-find clustering.

Because /root/reference is empty in this sandbox (SURVEY.md §0), this module
*is* "the reference's dedup decisions at the same shingle/signature config":
the distributed pipeline is held to dup-pair recall >= 0.99 and exact
cluster-assignment equality against these outputs.

Bucket capping is deterministic (sorted clip_id, first bucket_cap kept) so
the oracle and the engine enumerate the same candidate set by construction.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd

from .config import DEFAULT, PipelineConfig
from .kernels import clipfeat as K_clip
from .kernels import sketch as K_sketch
from .kernels import unionfind as K_uf

U64 = np.uint64


def candidate_pairs_from_feats(feats: pd.DataFrame, cfg: PipelineConfig
                               ) -> pd.DataFrame:
    """LSH band buckets → capped, deduped candidate pairs with provenance.

    Returns columns: a, b (clip_id, a < b), from_audio, from_text (bool).
    """
    clip_ids = feats["clip_id"].to_numpy()
    order = np.argsort(clip_ids)          # deterministic capping order
    pair_flags: dict[tuple[str, str], list[bool]] = defaultdict(lambda: [False, False])
    sentinel_band = {}
    for ch, col in (("audio", "bands_audio"), ("text", "bands_text")):
        n_sh = feats[f"n_shingles_{ch}"].to_numpy()
        bands = np.stack(feats[col].to_numpy())      # (n, b) int64
        buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
        for i in order:
            if n_sh[i] == 0:
                continue                  # empty sets never generate candidates
            for band_idx in range(cfg.lsh_bands):
                buckets[(band_idx, int(bands[i, band_idx]))].append(i)
        flag_pos = 0 if ch == "audio" else 1
        cap = cfg.bucket_cap

        def add(x: str, y: str) -> None:
            if y < x:
                x, y = y, x
            pair_flags[(x, y)][flag_pos] = True

        for key, members in buckets.items():
            if len(members) < 2:
                continue
            # skew split: within-sub-bucket pairs + representative chain
            # (identical semantics to engine/candidates.py — linear growth)
            for s in range(0, len(members), cap):
                sub = members[s: s + cap]
                for ii in range(len(sub)):
                    for jj in range(ii + 1, len(sub)):
                        add(clip_ids[sub[ii]], clip_ids[sub[jj]])
                if s > 0:
                    add(clip_ids[members[0]], clip_ids[members[s]])
    if not pair_flags:
        return pd.DataFrame(columns=["a", "b", "from_audio", "from_text"])
    recs = [(a, b, f[0], f[1]) for (a, b), f in pair_flags.items()]
    return pd.DataFrame(recs, columns=["a", "b", "from_audio", "from_text"]) \
             .sort_values(["a", "b"]).reset_index(drop=True)


def skew_stats_from_feats(feats: pd.DataFrame, cfg: PipelineConfig
                          ) -> pd.DataFrame:
    """Single-node mirror of engine/candidates.py's skew_stats aggregate:
    per channel, the (band_idx, band_hash) bucket-size distribution over
    clips with non-empty shingle sets (singleton buckets included)."""
    recs = []
    for ch, col in (("audio", "bands_audio"), ("text", "bands_text")):
        n_sh = feats[f"n_shingles_{ch}"].to_numpy()
        bands = np.stack(feats[col].to_numpy())
        counts: dict[tuple[int, int], int] = defaultdict(int)
        for i in range(len(feats)):
            if n_sh[i] == 0:
                continue
            for band_idx in range(cfg.lsh_bands):
                counts[(band_idx, int(bands[i, band_idx]))] += 1
        sizes = np.asarray(list(counts.values()), dtype=np.int64)
        recs.append((ch, int(sizes.shape[0]),
                     int(sizes.max()) if sizes.shape[0] else 0,
                     int(np.sum(np.ceil(sizes[sizes > cfg.bucket_cap]
                                        / cfg.bucket_cap) - 1)),
                     int(np.sum(sizes > cfg.bucket_soft))))
    return pd.DataFrame(recs, columns=["channel", "n_buckets", "max_bucket",
                                       "subbucket_splits",
                                       "buckets_block_split"])


def verify_pairs(feats: pd.DataFrame, cand: pd.DataFrame, clips: pd.DataFrame,
                 cfg: PipelineConfig) -> pd.DataFrame:
    """Suffix-array confirmation with the SimHash corroboration gate."""
    fidx = {c: i for i, c in enumerate(feats["clip_id"].to_numpy())}
    events = feats["events"].to_numpy()
    ev_ms = feats["event_ms"].to_numpy()
    ev_zcr = feats["event_zcr"].to_numpy()
    sim_a = feats["simhash_audio"].to_numpy().astype(np.int64).view(U64)
    sim_t = feats["simhash_text"].to_numpy().astype(np.int64).view(U64)
    tmap = dict(zip(clips["clip_id"], clips["transcript"]))

    recs = []
    for a, b, fa, ft in cand[["a", "b", "from_audio", "from_text"]].itertuples(index=False):
        ia, ib = fidx[a], fidx[b]
        ham_a = int(K_sketch.hamming64(sim_a[ia:ia + 1], sim_a[ib:ib + 1])[0])
        ham_t = int(K_sketch.hamming64(sim_t[ia:ia + 1], sim_t[ib:ib + 1])[0])
        try_audio = bool(fa) or ham_a <= cfg.simhash_gate_bits
        try_text = bool(ft) or ham_t <= cfg.simhash_gate_bits
        audio_ok, text_ok, span_ms, nchars = K_clip.verify_pair(
            np.asarray(events[ia]), np.asarray(ev_ms[ia]), np.asarray(ev_zcr[ia]),
            np.asarray(events[ib]), np.asarray(ev_zcr[ib]),
            tmap[a], tmap[b], cfg, try_audio, try_text)
        if audio_ok or text_ok:
            recs.append((a, b, audio_ok, text_ok, span_ms, nchars))
    return pd.DataFrame(recs, columns=["a", "b", "audio_ok", "text_ok",
                                       "span_ms", "span_chars"])


def run_oracle(clips: pd.DataFrame, cfg: PipelineConfig = DEFAULT) -> dict:
    """Full single-node pipeline. Returns feats / candidates / confirmed /
    clusters (clip_id, cluster_id = min member)."""
    feats = K_clip.featurize_batch(clips, cfg)
    cand = candidate_pairs_from_feats(feats, cfg)
    confirmed = verify_pairs(feats, cand, clips, cfg)
    comp = K_uf.components(
        list(zip(confirmed["a"], confirmed["b"])),
        clips["clip_id"].to_numpy())
    clusters = pd.DataFrame(sorted(comp.items()), columns=["clip_id", "cluster_id"])
    return {"feats": feats, "candidates": cand, "confirmed": confirmed,
            "clusters": clusters}


def recall_vs_planted(confirmed: pd.DataFrame, planted: pd.DataFrame,
                      clusters: pd.DataFrame | None = None) -> dict:
    """Quality metrics vs the datagen ground truth (not the driver gate —
    that is recall vs this oracle — but the honest quality check)."""
    exp = planted[planted["expected_dup"]]
    neg = planted[~planted["expected_dup"]]
    if clusters is not None:
        # pair detected if both ended in the same cluster (transitive credit)
        cmap = dict(zip(clusters["clip_id"], clusters["cluster_id"]))
        hit = sum(1 for a, b in zip(exp["a"], exp["b"]) if cmap.get(a) == cmap.get(b))
        neg_hit = sum(1 for a, b in zip(neg["a"], neg["b"]) if cmap.get(a) == cmap.get(b))
    else:
        got = set(zip(confirmed["a"], confirmed["b"]))
        hit = sum(1 for p in zip(exp["a"], exp["b"]) if p in got)
        neg_hit = sum(1 for p in zip(neg["a"], neg["b"]) if p in got)
    return {
        "planted_pairs": int(len(exp)),
        "detected": int(hit),
        "recall": hit / max(len(exp), 1),
        "hard_negatives": int(len(neg)),
        "hard_negative_hits": int(neg_hit),
    }
