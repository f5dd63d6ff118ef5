"""`cache_scope()` — a no-op kept for callers outside the package.

Operators in this repo return plans and hold no cache: a subtree that a
plan reads twice (a bucket aggregate feeding two enumeration branches, a
self-joined prefix table) is shared through Spark's exchange reuse
(`ReusedExchange`), which lives exactly as long as the query that uses it.
The only lifetime an operator may create is an eager `localCheckpoint`,
released by the ContextCleaner when the DataFrame is garbage-collected
(the cluster fixpoint's lineage cuts, `jaccard_pairs`' gram arrays).
Callers that cache a stage output with `persist()` own it and
`unpersist()` it themselves.

With nothing left for a scope to release, `cache_scope()` does nothing;
it remains because `perfbench/workloads.py` still imports it.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def cache_scope():
    """No-op context manager: operators persist nothing to release."""
    yield
