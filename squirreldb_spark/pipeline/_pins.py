"""Query-scoped persists.

Several query builders persist a within-query intermediate (a bucketed
corpus projection, a 3-longs-per-frame pHash table, a 1-row max-ts agg …)
because broadcast subtrees are never runtime-reuse-deduped: every
consumer re-runs the subtree's full input scan.  A persist needs an
owner that releases it, or every pinned table stays in the storage pool
until the session dies.

:func:`pin_scope` is that owner.  It records every frame :func:`pinned`
persists while it is open and unpersists them all on exit, so a caller
that opens one scope per query (the bench opens one per rep) holds at
most that query's pins.  The open scope lives in a
:class:`contextvars.ContextVar`, so each thread sees only its own:
concurrent queries never release each other's pin lists.

With no scope open, :func:`pinned` returns the frame unchanged: a
persist with no owner could never be released.  Neither does it record
a frame whose plan is already cached: the cache entry is keyed by plan,
so the scope that cached it first owns it, and an inner scope that
pinned the same plan would otherwise release the outer scope's pin.  A
pin only saves work, so a builder's result is the same with or without
a scope.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SCOPE: ContextVar[list[DataFrame] | None] = ContextVar("pin_scope",
                                                        default=None)


@contextmanager
def pin_scope() -> Iterator[list[DataFrame]]:
    """Own the persists made inside the ``with`` block; unpersist them
    (blocking, so the storage is free again) on exit."""
    pins: list[DataFrame] = []
    token = _SCOPE.set(pins)
    try:
        yield pins
    finally:
        _SCOPE.reset(token)
        for df in pins:
            df.unpersist(blocking=True)


def pinned(df: DataFrame) -> DataFrame:
    """``df.persist()`` owned by the open :func:`pin_scope`, or ``df``
    itself when none is open or its plan is already cached.  Chains as
    ``.transform(pinned)``."""
    pins = _SCOPE.get()
    if pins is None or df.storageLevel != StorageLevel.NONE:
        return df
    pins.append(df.persist())
    return pins[-1]
