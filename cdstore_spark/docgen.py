"""Deterministic synthetic document corpora for scale benchmarks.

The driver's sf-dir `documents` tables top out at 5k rows — enough for
correctness, too small to exercise skew. ensure_hot_docs builds the
dup-heavy regime every real 100 TB corpus has: a single exact-duplicate
group of `hot` members (boilerplate/template text), which lands in ONE
(band_idx, band_hash) LSH bucket per band. A naive band self-join would
enumerate hot²/2 pairs per band (12.5M at hot=5000 — the O(m²) explosion
the round-2 verdict flagged); the shared capped enumerator
(engine/bucket_pairs.py) must keep candidates at O(hot·bucket_cap) while
union-find still returns one cluster. The benchmark's `docs_skew`
workload (perfbench/) times the end-to-end job and asserts both.

Everything is seeded and cached under data/ (gitignored, regenerated
deterministically — same pattern as the audio golden tiers).
"""

from __future__ import annotations

import os

import numpy as np

from .artifacts import publish, reusable


def ensure_hot_docs(n: int = 100_000, hot: int = 5_000,
                    tokens_per_doc: int = 30, vocab: int = 50_000,
                    seed: int = 77, data_root: str | None = None) -> str:
    """Parquet of (doc_id, text, lang, source, n_chars): n-hot unique
    random-token docs + one `hot`-member exact-duplicate group scattered
    over the id space. Returns the parquet path (build-once cached)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from . import golden

    root = data_root or golden.DATA_ROOT
    d = os.path.join(root, f"docs_hot_{n}_{hot}")
    path = os.path.join(d, "documents.parquet")
    marker = os.path.join(d, "_DOCS_DONE.json")
    ident = {"n": n, "hot": hot, "tpd": tokens_per_doc,
             "vocab": vocab, "seed": seed, "version": 1}
    if reusable(marker, ident) and os.path.exists(path):
        return path
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    # the hot group's members are spread across the id space (not a
    # contiguous block), so no partitioning accident co-locates them
    hot_ids = set(int(i) for i in
                  rng.choice(n, size=hot, replace=False))
    hot_text = " ".join(f"tok{v}" for v in
                        rng.integers(0, vocab, size=tokens_per_doc))
    toks = rng.integers(0, vocab, size=(n, tokens_per_doc))
    texts = []
    for i in range(n):
        if i in hot_ids:
            texts.append(hot_text)
        else:
            texts.append(" ".join(f"tok{v}" for v in toks[i]))
    tbl = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["synth"] * n, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tbl, path, row_group_size=8192)
    publish(marker, ident)
    return path
