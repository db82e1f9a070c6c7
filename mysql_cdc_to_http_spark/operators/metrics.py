"""Pipeline observability: per-action event counters on the data path.

The reference logs every consumed event with its action and table
(main.go's logger calls in the canal event loop); re-reading the output
to count (``df.count()`` per action) would add full extra passes. Spark's
named observations are the idiomatic equivalent: named aggregates ride
the SAME job as the consuming action via accumulators — zero additional
scans, exact counts, available on the driver the moment the action
finishes. At 100 TB an extra counting pass is hours; observation metrics
are free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def observe_actions_stream(
    df: DataFrame,
    action_col: str = "op",
    name: str = "delivery_metrics",
    actions: tuple[str, ...] = ("c", "u", "d"),
) -> DataFrame:
    """Attach per-action counters (one ``n_<action>`` per vocabulary
    entry + ``n_rows``) to a streaming frame by name. Metrics surface
    per micro-batch in ``StreamingQueryProgress.observedMetrics[name]``
    — the reference's per-event consume log, aggregated per batch, with
    zero overhead on the hot path (an ``Observation`` object does not
    support streaming queries; the named variant does)."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum((F.col(action_col) == a).cast("long")).alias(f"n_{a}")
            for a in actions
        ],
    )


# Executors must not need this repo on their PYTHONPATH (driver contract
# imports by path).
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
