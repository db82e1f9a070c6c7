"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §1.3 / X33 family): per-key running aggregates with explicit
state — the surface for operators Spark's built-in windows can't express
(e.g. CDC position tracking, per-entity counters with custom eviction).

State is one row per key (running count + sum); each micro-batch emits the
updated totals for keys it touched. At scale, state lives in the state
store (RocksDB provider on clusters) and is bounded by key cardinality.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _update_user_totals(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Fold this batch's rows for one key into the running state and emit
    the new totals (runs in a python worker — self-contained)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals with explicit state."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

try:  # Spark 4.x arbitrary-stateful API (RocksDB-backed)
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
except ImportError:  # pragma: no cover - pre-4.0 Spark
    StatefulProcessor = object
    StatefulProcessorHandle = None


class _RunningTotalsProcessor(StatefulProcessor):
    """``transformWithStateInPandas`` twin of ``_update_user_totals``.

    The TWS API is the successor surface: typed state handles
    (ValueState/ListState/MapState), per-key timers, TTL, and the
    RocksDB state-store provider REQUIRED — which is also what makes it
    the 100 TB path (state spills to disk + changelog-checkpoints to
    DFS instead of living on the JVM heap like the HDFSBackedStateStore
    the applyInPandasWithState form defaults to)."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._totals = handle.getValueState("totals", STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._totals.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    def close(self) -> None:
        pass


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals via ``transformWithStateInPandas``.

    The session must run the RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider``) — set per-query by the caller;
    semantics are identical to ``running_user_totals`` (asserted against
    the batch aggregate in tests/test_stateful.py)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# Executors must not need this repo on their PYTHONPATH: register this
# module for pickle-by-value so the stateful fn ships inside the task.
import sys as _sys
from pyspark import cloudpickle as _cloudpickle
_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
