"""Seeded workload inputs and their independent references, cached per
seed under the work directory. Generation and the NumPy oracle run here,
before any timing starts; the program under test receives only the files.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

#: clips per clips-workload input. Every run starts a cold JVM (about
#: 25 s on 4 cores) and must fit the benchmark's run budget, so the job is
#: about 30 s: batch plus stream over 1000 clips (56 MB of audio)
N_CLIPS = 1000
#: documents per docs_skew input, and the size of the planted
#: exact-duplicate group that lands in one LSH bucket per band
N_DOCS = 10_000
HOT_DOCS = 1_000
#: rows per parquet row group of the clip table: one featurize work unit
CLIP_ROW_GROUP = 128


def _done(marker: str, ident: dict) -> dict | None:
    try:
        with open(marker) as f:
            meta = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    return meta if meta.get("ident") == ident else None


def _mark(marker: str, meta: dict) -> None:
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, marker)


def clips(work: str, seed: int) -> dict:
    """Clip table of N_CLIPS clips (build_spec(n, n/20, seed)) plus
    the oracle's confirmed pairs, candidates and clusters for it. A child
    process builds a missing entry, so the benchmark's own process does
    not carry the generator's memory into the measured run."""
    d = os.path.join(work, f"clips_n{N_CLIPS}_s{seed}")
    marker = os.path.join(d, "_DONE.json")
    ident = {"n": N_CLIPS, "pairs": N_CLIPS // 20, "seed": seed,
             "rg": CLIP_ROW_GROUP}
    if _done(marker, ident) is None:
        subprocess.run([sys.executable, os.path.abspath(__file__), d,
                        json.dumps(ident)], check=True)
    meta = _done(marker, ident)
    return dict(meta, dir=d, path=os.path.join(d, "clips.parquet"))


def _build_clips(d: str, ident: dict) -> None:
    from cdstore_spark import datagen, oracle
    os.makedirs(d, exist_ok=True)
    n, seed = ident["n"], ident["seed"]
    spec = datagen.build_spec(n, ident["pairs"], seed)
    table = datagen.synth_batch(spec)
    pq.write_table(pa.Table.from_pandas(table, preserve_index=False),
                   os.path.join(d, "clips.parquet"),
                   row_group_size=ident["rg"])
    ref = oracle.run_oracle(table)
    for name, df in (
            ("confirmed", ref["confirmed"][["a", "b", "audio_ok",
                                            "text_ok"]]),
            ("candidates", ref["candidates"][["a", "b"]]),
            ("clusters", ref["clusters"]),
            ("planted", datagen.planted_pairs(spec))):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(d, f"{name}.parquet"))
    _mark(os.path.join(d, "_DONE.json"), {
        "ident": ident, "clips": int(len(table)),
        "candidates": int(len(ref["candidates"])),
        "confirmed": int(len(ref["confirmed"])),
        "input_bytes": os.path.getsize(os.path.join(d, "clips.parquet"))})


def load_ref(inp: dict, name: str) -> pd.DataFrame:
    return pq.read_table(os.path.join(inp["dir"], f"{name}.parquet")
                         ).to_pandas()


def capped_pair_count(hot: int, cap: int) -> int:
    """Pairs the capped bucket enumerator emits for one exact-duplicate
    group of `hot` members: all pairs inside each sub-bucket of `cap`
    members plus one representative edge per later sub-bucket."""
    return sum(min(cap, hot - s) * (min(cap, hot - s) - 1) // 2
               + (1 if s else 0) for s in range(0, hot, cap))


def docs(work: str, seed: int) -> dict:
    """ensure_hot_docs corpus for `seed` and the reference it must give:
    the capped pair count of the hot group and one cluster of `hot`."""
    from cdstore_spark.config import DEFAULT
    from cdstore_spark.docgen import ensure_hot_docs
    path = ensure_hot_docs(N_DOCS, HOT_DOCS, seed=seed,
                           data_root=os.path.join(work, f"docs_s{seed}"))
    return {"path": path, "docs": N_DOCS, "hot": HOT_DOCS,
            "pairs": capped_pair_count(HOT_DOCS, DEFAULT.bucket_cap),
            "input_bytes": os.path.getsize(path)}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    _build_clips(sys.argv[1], json.loads(sys.argv[2]))
