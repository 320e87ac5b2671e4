"""Caller-owned persist scope.

Operators persist the shared child of a self-join or of several folds (the
shared-child rule): unpersisted, the expensive pipeline under it
executes once per consumer. Such a frame must outlive the operator (the
returned frame is lazy and still reads it), so the operator cannot free it.
The CALLER owns its lifetime by opening a scope around the work that
materializes the result:

    with persist_scope():
        pairs = minhash_lsh_pairs(docs)
        pairs.write.parquet(out)
    # every frame scoped() registered inside the block is freed here, also
    # when the body raised

An operator writes `scoped(child.persist())` (or
`scoped(child.localCheckpoint(eager=True))`) for a frame that outlives it;
`scoped` registers the frame with the innermost open scope. With no scope
open it changes nothing: the frame lives until the session clears its cache
(bench.py's registry loop calls `clearCache()` between queries). A frame
whose whole life is inside one function keeps a plain `persist()` /
`unpersist()` pair.

`DataFrame.unpersist()` cannot free a `localCheckpoint` frame: its blocks
belong to the RDD under the `LogicalRDD` at the root of its plan, which the
cache manager never sees. `release` unpersists that RDD instead; a later read
of the freed frame fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), it never
recomputes silently.

The scope lives in a `contextvars.ContextVar`, so a thread started while a
scope is open (a `foreachBatch` callback, a worker pool) sees no scope and
its frames are not freed under it by the opener.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark.sql import DataFrame

_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("persist_scope", default=None)


@contextmanager
def persist_scope() -> Iterator[None]:
    """Free, on exit, every frame `scoped()` registered while this scope was
    the innermost one open. Nested scopes free only their own frames."""
    frames: list[DataFrame] = []
    token = _SCOPE.set(frames)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in reversed(frames):
            release(df)


def scoped(df: DataFrame) -> DataFrame:
    """Register `df` — already `.persist()`ed or `.localCheckpoint()`ed — with
    the innermost open scope and return it; with no scope open, return it
    untouched (a plain persist that lives until the session clears it)."""
    frames = _SCOPE.get()
    if frames is not None:
        frames.append(df)
    return df


def release(df: DataFrame) -> None:
    """Free `df` now: unpersist a cached frame, or the checkpointed RDD under
    a localCheckpoint frame. Freeing a frame twice is harmless, so a frame
    released early is simply freed again (a no-op) when its scope exits."""
    if df.is_cached:
        df.unpersist()
        return
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)
