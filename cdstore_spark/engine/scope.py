"""Scoped persist() lifetimes — cache hygiene for a long-lived driver.

Operators in this repo persist intermediate tables whose lifetime is one
materialization of the plan they feed (broadcast build sides, bucket
aggregates, content-payload tables). A long-lived session running many
queries (the driver contract run, a streaming job calling the candidate
join every micro-batch) would accumulate those cached blocks forever —
MEMORY_AND_DISK disk blocks are not LRU-reclaimed.

`scoped_persist(df)` persists like `df.persist()` but ALSO registers the
DataFrame with the innermost active `cache_scope()` on this thread; when
the scope exits (after the caller has materialized the consuming plan),
every registered cache is released. With no active scope the behavior is
`df.persist()` plus a RuntimeWarning: nothing will ever release that cache,
so a long-lived session leaks it, and the warning names the call site
instead of leaving the leak silent.

Scopes are a thread-local stack: nested scopes release only their own
registrations, and concurrently-running stages (e.g. verify chunks
submitted from a thread pool) each get independent stacks.
"""

from __future__ import annotations

import threading
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame

_tls = threading.local()


def _stack() -> list[list[DataFrame]]:
    s = getattr(_tls, "stack", None)
    if s is None:
        s = _tls.stack = []
    return s


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() + register with the innermost active scope; warns when
    no scope is active (the cache is then never released)."""
    df = df.persist()
    s = _stack()
    if s:
        s[-1].append(df)
    else:
        warnings.warn("scoped_persist() outside any cache_scope(): this "
                      "cache is never released", RuntimeWarning,
                      stacklevel=2)
    return df


@contextmanager
def cache_scope():
    """Release every scoped_persist() made on this thread inside the block
    once the block exits. The caller must materialize (or no longer need)
    all consuming plans before exit — unpersisted upstreams would
    otherwise recompute without their caches."""
    bucket: list[DataFrame] = []
    s = _stack()
    s.append(bucket)
    try:
        yield bucket
    finally:
        s.pop()
        for df in bucket:
            try:
                df.unpersist()
            except Exception:
                pass
