"""In-memory MapState — test/demo backend (driver-side dict).

Parity: ``trident/testing/MemoryMapState.java:33-41`` + the map wrappers
``OpaqueMap.java:27-120`` / ``TransactionalMap.java:27-109``: each key holds
an :class:`OpaqueValue` or :class:`TransactionalValue` and is updated through
the scalar replay rule of :mod:`storm_spark.state.opaque`. The scale backend
with identical semantics is :class:`storm_spark.state.parquet_state.ParquetMapState`.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from storm_spark.state.base import MapState, StateType
from storm_spark.state.opaque import OpaqueValue, TransactionalValue


class MemoryMapState(MapState):
    def __init__(
        self,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
    ):
        self.key_schema = key_schema
        self.value_field = value_field
        self.value_type = value_type
        self.state_type = state_type
        self._map: dict[tuple, OpaqueValue | TransactionalValue] = {}
        self._empty = (
            OpaqueValue(None, None)
            if state_type is StateType.OPAQUE
            else TransactionalValue(None, None)
        )
        self._cur_txid: int | None = None
        # keys already updated during the current commit attempt, each with
        # its value from before the attempt: later updates in the same attempt
        # accumulate onto the attempt's own write and re-apply the rule to
        # that earlier value (parity: CachedBatchReadsMap.java:27 intra-batch
        # read-your-writes; cleared on beginCommit)
        self._batch_updated: dict[tuple, OpaqueValue | TransactionalValue] = {}

    @classmethod
    def factory(cls, state_type: StateType = StateType.OPAQUE) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "MemoryMapState":
            return cls(key_schema, value_field, value_type, state_type)

        return make

    # lifecycle ------------------------------------------------------------
    def begin_commit(self, txid: int) -> None:
        self._cur_txid = txid
        self._batch_updated = {}

    def commit(self, txid: int) -> None:
        self._cur_txid = None
        self._batch_updated = {}

    def _txid(self) -> int | None:
        """The txid the rule sees: NON_TRANSACTIONAL keeps none."""
        if self.state_type is StateType.NON_TRANSACTIONAL:
            return None
        return self._cur_txid

    # point API ------------------------------------------------------------
    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        """A replayed txid reads the pre-batch value until the key is
        updated in this attempt (parity: OpaqueValue.java:49-58)."""
        t = self._txid()
        out = []
        for k in map(tuple, keys):
            rec = self._map.get(k)
            out.append(None if rec is None else rec.get(None if k in self._batch_updated else t))
        return out

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        """Set values through the same replay-aware path as multi_update (a
        put is an update whose combine ignores the stored value): a REPLAYED
        txid must keep the original pre-batch ``prev`` (not the prior
        attempt's own write), and the keys must register as batch-updated so
        later reads/updates in this attempt see the new value."""
        self.multi_update(keys, list(vals), lambda _cur, v: v, zero=None)

    def multi_update(
        self,
        keys: Sequence[tuple],
        deltas: Sequence[Any],
        combine: Callable[[Any, Any], Any],
        zero: Any = None,
    ) -> list[Any]:
        t = self._txid()
        out = []
        for k, d in zip(map(tuple, keys), deltas):
            rec = self._map.get(k)
            if rec is not None and k in self._batch_updated:
                # a later update in this attempt accumulates onto its write
                pre, base = self._batch_updated[k], rec.get(None)
            else:
                pre = rec if rec is not None else self._empty
                base = pre.get(t)
            new = pre.update(t, combine(zero if base is None else base, d))
            if new is not pre:  # a skipped transactional replay stays unmarked
                self._map[k] = new
                self._batch_updated[k] = pre
            out.append(new.get(None))
        return out

    # set API --------------------------------------------------------------
    def update_from_agg(self, agg_df: DataFrame, agg, txid: int) -> None:
        """Driver-side merge: collects the *aggregated* batch (small by
        definition — one row per touched key). Test fixture only; the scale
        path is ParquetMapState."""
        key_names = [f.name for f in self.key_schema.fields]
        rows = agg_df.collect()
        keys = [tuple(r[k] for k in key_names) for r in rows]
        deltas = [r["__delta__"] for r in rows]
        zero = agg.zero() if hasattr(agg, "zero") else None
        self.multi_update(keys, deltas, agg.combine, zero)

    def dataframe(self, spark: SparkSession) -> DataFrame:
        from storm_spark.stream import _parse_ddl

        schema = StructType(self.key_schema.fields.copy()).add(
            self.value_field, _parse_ddl(self.value_type)
        )
        rows = [(*k, rec.get(None)) for k, rec in self._map.items()]
        return spark.createDataFrame(rows, schema)

    def as_dict(self) -> dict[tuple, Any]:
        return {k: rec.get(None) for k, rec in self._map.items()}


class LRUMemoryMapState(MemoryMapState):
    """Bounded-memory variant: at most ``max_size`` keys are retained; the
    least-recently-used keys are EVICTED (their state silently restarts from
    zero if written again) — parity:
    ``trident/testing/LRUMemoryMapState.java:34-97`` (LRUMap backing)."""

    def __init__(
        self,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
        max_size: int = 1000,
    ):
        from collections import OrderedDict

        super().__init__(key_schema, value_field, value_type, state_type)
        self._map = OrderedDict()
        self.max_size = max_size

    @classmethod
    def factory(
        cls, max_size: int = 1000, state_type: StateType = StateType.OPAQUE
    ) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "LRUMemoryMapState":
            return cls(key_schema, value_field, value_type, state_type, max_size)

        return make

    def _touch_and_evict(self, keys: Sequence[tuple]) -> None:
        for k in keys:
            kt = tuple(k)
            if kt in self._map:
                self._map.move_to_end(kt)
        while len(self._map) > self.max_size:
            self._map.popitem(last=False)

    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        out = super().multi_get(keys)
        self._touch_and_evict(keys)
        return out

    def multi_update(
        self,
        keys: Sequence[tuple],
        deltas: Sequence[Any],
        combine: Callable[[Any, Any], Any],
        zero: Any = None,
    ) -> list[Any]:
        # multi_put goes through here too
        out = super().multi_update(keys, deltas, combine, zero)
        self._touch_and_evict(keys)
        return out
