"""Cache lifecycle for operators that persist intermediates.

Operators like MinHash/SimHash/hyperplane-LSH persist a mid-pipeline
frame that the returned (lazy) DataFrame consumes twice. The persist is
load-bearing — without it the expensive signature stage runs once per
consumer — but a long-lived session that calls the operator repeatedly
would accumulate cached blocks until the executor storage pool evicts or
OOMs. Eagerly unpersisting inside the operator is not an option: the
result is lazy, and forcing an action there would both double-execute
and collapse the plan the tests assert on.

Contract, three functions: an operator registers its persisted
dependencies (``register_cached``) and any module-level memo of
persisted frames (``register_memo``); whoever runs the action calls
``release_all_cached()`` afterwards (bench does, per query). The
registry is MODULE-GLOBAL, not a DataFrame attribute: callers routinely
wrap operator results (``.orderBy``/``.select`` return fresh objects),
so a per-object tag would be lost before the action site ever saw it.
Releasing globally is safe — unpersist never changes results, it only
forces recompute — and correct for the serial driver/bench loops this
engine runs; concurrent pipelines sharing a session should release at
pipeline end instead. Callers that skip this fall back to Spark's LRU
storage eviction, or ``spark.catalog.clearCache()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: persisted frames awaiting release, in registration order
_LIVE: list[DataFrame] = []

#: module-level memo dicts (e.g. queries.extended._TRI_EDGES) whose
#: values are persisted frames keyed by (appId, sf_dir). Registered so
#: release_all_cached can EVICT the entries too — without this the
#: memos grow unbounded per (appId, sf_dir) in a long session and a
#: cleared-but-not-unpersisted memo leaks an InMemoryRelation
#: (round-9 advice).
_MEMOS: list[dict] = []


def register_cached(result: DataFrame, deps: list[DataFrame]) -> DataFrame:
    """Record persisted frames backing ``result`` for later release."""
    _LIVE.extend(deps)
    return result


def register_memo(memo: dict) -> dict:
    """Register a module-level {key: DataFrame} memo for eviction by
    :func:`release_all_cached`. The memo only saves plan construction —
    the next access after release rebuilds and re-persists — so
    eviction is always safe."""
    _MEMOS.append(memo)
    return memo


def release_all_cached(blocking: bool = False) -> int:
    """Unpersist every registered dependency and evict registered memo
    entries. Call AFTER materializing the consuming result
    (collect/count/write) — releasing earlier just forces the cached
    stage to recompute. Returns the number released."""
    n = len(_LIVE)
    for dep in _LIVE:
        dep.unpersist(blocking)
    _LIVE.clear()
    for memo in _MEMOS:
        # entries' frames were just unpersisted via _LIVE (register_cached
        # runs alongside every memo insert); dropping the dict entry frees
        # the plan object and bounds memo growth across (appId, sf_dir).
        memo.clear()
    return n
