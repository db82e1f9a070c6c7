"""Cache lifecycle for frames a query persists.

A query persists an intermediate when its lazy result consumes it more
than once (the MinHash/SimHash signature stage, a shared fact pass, an
edge list read by several joins) or when two subtrees must see the SAME
evaluation of a non-deterministic step (range-partition boundaries).
Unpersisting inside the query is not an option: the result is lazy, and
forcing an action there would both double-execute and collapse the plan
the tests assert on.

Contract, two functions. Every persisted frame is made with
:func:`persist`, which persists it and records it where it is created,
so a query that raises before returning still leaves its frame on the
record. Whoever runs the action calls :func:`release_all_cached`
afterwards (bench, perfbench, the tests and ``scripts/verify_sweep.py``
do, per query), which unpersists every recorded frame. The record is
MODULE-GLOBAL, not a DataFrame attribute: callers wrap results
(``.orderBy``/``.select`` return fresh objects), so a per-object tag
would be lost before the action site saw it. Releasing globally is safe
(unpersist never changes results, it only forces recompute) and correct
for the serial driver/bench loops this engine runs.

No cached frame outlives the query that made it. Two queries that build
the same frame still share its blocks inside one run: Spark's
CacheManager substitutes a persisted frame for any plan that matches it.
The only ``.persist()`` calls outside :func:`persist` unpersist their own
frames; ``tests/test_plans.py`` lists them with a reason each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: persisted frames awaiting release, in creation order
_LIVE: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and record it for :func:`release_all_cached`."""
    df = df.persist()
    _LIVE.append(df)
    return df


def release_all_cached(blocking: bool = False) -> int:
    """Unpersist every recorded frame. Call AFTER materializing the
    consuming result (collect/count/write); releasing earlier just forces
    the cached stage to recompute. Returns the number released."""
    n = len(_LIVE)
    for df in _LIVE:
        df.unpersist(blocking)
    _LIVE.clear()
    return n
