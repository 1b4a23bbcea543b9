"""State contracts — exactly-once keyed state across micro-batches.

Parity map:

- ``trident/state/State.java:36-39`` — ``begin_commit(txid)`` / ``commit(txid)``
  bracket a batch's writes; txids are strictly ordered.
- ``trident/state/StateType.java:21-25`` — NON_TRANSACTIONAL / TRANSACTIONAL /
  OPAQUE.
- ``trident/state/OpaqueValue.java:22-58`` — ``{txid, curr, prev}``: replaying
  a txid recomputes ``curr`` from ``prev``, so the update is idempotent even
  when the replayed batch *differs* (opaque sources).
- ``trident/state/TransactionalValue.java:23-44`` — ``{txid, val}``: skip the
  update when the stored txid equals the current one (requires identical
  replayed batches).

The replay rule is stated once per medium: scalar in
:mod:`storm_spark.state.opaque` (applied per value by ``MemoryMapState``),
columnar in the :class:`~storm_spark.state.parquet_state.ParquetMapState`
docstring (``key..., curr, prev, txid`` columns merged per epoch with a join —
a shuffle-parallel port of ``OpaqueMap.multiUpdate``,
``state/map/OpaqueMap.java:54-85``).
"""

from __future__ import annotations

import enum
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession


class StateType(enum.Enum):
    NON_TRANSACTIONAL = "non_transactional"
    TRANSACTIONAL = "transactional"
    OPAQUE = "opaque"


class State:
    """Batch-commit lifecycle. Parity: ``trident/state/State.java:36-39``."""

    def begin_commit(self, txid: int) -> None:
        raise NotImplementedError

    def commit(self, txid: int) -> None:
        raise NotImplementedError


class MapState(State):
    """Keyed state: the engine's ``MapState<T>``
    (``trident/state/map/MapState.java``: multiGet/multiPut/multiUpdate).

    ``keys`` are tuples of key-column values; values are scalars of the
    aggregator's ``value_type``.
    """

    state_type: StateType = StateType.OPAQUE

    # point APIs (parity + tests) ------------------------------------------
    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        raise NotImplementedError

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        raise NotImplementedError

    def multi_update(
        self, keys: Sequence[tuple], deltas: Sequence[Any], combine: Callable[[Any, Any], Any]
    ) -> list[Any]:
        """Apply ``curr = combine(curr, delta)`` per key under the current
        txid's opaque/transactional protocol; returns the new values."""
        raise NotImplementedError

    # set-oriented API (the scale path) ------------------------------------
    def update_from_agg(self, agg_df: DataFrame, agg, txid: int) -> None:
        """Merge a per-batch aggregated DataFrame (key cols + ``__delta__``)
        into the state using the aggregator's ``combine``. Must be idempotent
        under txid replay per ``state_type``."""
        raise NotImplementedError

    def dataframe(self, spark: SparkSession) -> DataFrame:
        """Current state contents as (key cols + value col)."""
        raise NotImplementedError
