"""ParquetMapState — the scale-path keyed state table.

A direct, shuffle-parallel port of the reference's opaque/transactional value
protocol (``OpaqueValue.java:37-58``, ``OpaqueMap.java:54-85``,
``TransactionalMap.java:66-76``) onto a bucket-versioned parquet table:

    state table columns: <key cols...>, __curr__, __prev__, __txid__
    layout:  <path>/data/s<seq>/__bucket__=<b>/*.parquet
    pointer: <path>/_VERSION.json  {"txid": t, "buckets": {"<b>": seq, ...}}

Keys are hash-bucketed (``pmod(hash(keys), num_buckets)``). Per epoch the
engine computes the batch's per-key partial aggregate (one row per touched
key — Spark's partial+final hash agg), finds the TOUCHED buckets, and FULL
OUTER joins only those buckets' state with the batch, applying the replay
rule stated in the :class:`ParquetMapState` docstring. The new bucket files
land under a fresh write sequence; ``commit(txid)`` atomically flips the
manifest so each bucket points at its latest sequence — untouched buckets
carry forward BY REFERENCE, so per-epoch I/O is O(touched buckets), not
O(total state). At cluster scale this becomes a Delta/Iceberg MERGE (jars
not in this image; the merge logic is identical — the manifest plays the
role of the table snapshot).

A replayed txid reads the previously committed manifest while writing its own
sequence, so replay isolation holds even mid-crash. Unreferenced sequences
are garbage-collected at commit.

Scale notes: the merge is one shuffle on the key columns; hot-key batches
touch few buckets; a uniform batch over all keys degrades to a full rewrite
(the same cost as a naive full-state merge). Nothing collects to the driver
except the touched-bucket id list (<= num_buckets ints).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructType

from storm_spark.state.base import MapState, StateType

CURR, PREV, TXID = "__curr__", "__prev__", "__txid__"
BUCKET = "__bucket__"


class ParquetMapState(MapState):
    """Keyed state on a bucket-versioned parquet table. Its merge is the
    columnar statement of the replay rule whose scalar statement is
    :mod:`storm_spark.state.opaque`: over the state/batch FULL OUTER join
    (``__b__`` is the key's batch delta, NULL when the batch lacks the key)
    one projection computes, per key::

        base = PREV on an OPAQUE replay (stored TXID == txid), else CURR
               (NULL for a new key)
        keep = no delta, or a TRANSACTIONAL replay
        CURR = CURR if keep else combine(coalesce(base, zero), delta)
        PREV = OPAQUE: PREV if keep else base; otherwise NULL
        TXID = TXID if no delta else txid; OPAQUE and TRANSACTIONAL raise
               when the stored TXID is ahead of txid (stale or reset txid)

    A combiner computes CURR with ``combine_expr`` in that projection; a
    ReducerAggregator folds ``agg.combine(base, rows)`` in python on the
    rows not kept (:meth:`_fold`).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_schema: StructType,
        value_field: str,
        value_type: str,
        state_type: StateType = StateType.OPAQUE,
        num_buckets: int = 32,
    ):
        self.spark = spark
        self.path = path
        self.key_schema = key_schema
        self.key_names = [f.name for f in key_schema.fields]
        self.value_field = value_field
        self.value_type = value_type
        self.state_type = state_type
        self.num_buckets = num_buckets
        self._cur_txid: int | None = None
        self._pending: dict[str, int] | None = None
        # schema of the stored columns: recorded by the merge that writes
        # them, or inferred once from state this instance did not write.
        # The declared key schema can differ (an untyped FeederSource
        # declares string fields that arrive as bigint).
        self._stored_schema: StructType | None = None
        os.makedirs(self._data_dir(), exist_ok=True)

    @classmethod
    def factory(
        cls,
        path: str,
        state_type: StateType = StateType.OPAQUE,
        num_buckets: int = 32,
    ) -> Callable:
        def make(key_schema: StructType, value_field: str, value_type: str) -> "ParquetMapState":
            from storm_spark.session import get_spark

            spark = SparkSession.getActiveSession() or get_spark()
            return cls(spark, path, key_schema, value_field, value_type, state_type, num_buckets)

        return make

    # -- manifest ----------------------------------------------------------

    def _data_dir(self) -> str:
        return os.path.join(self.path, "data")

    def _seq_dir(self, seq: int) -> str:
        return os.path.join(self._data_dir(), f"s{seq}")

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_VERSION.json")

    def _manifest(self) -> dict[str, int]:
        """bucket id (str) -> committed write sequence holding its data.
        Only an absent manifest means a fresh state: an unreadable one must
        not read as empty, or the next commit would garbage-collect every
        sequence it can no longer see."""
        try:
            with open(self._meta_path()) as f:
                return json.load(f)["buckets"]
        except FileNotFoundError:
            return {}
        except (json.JSONDecodeError, KeyError, TypeError) as e:
            raise ValueError(
                f"state manifest {self._meta_path()!r} is unreadable "
                f"({type(e).__name__}: {e}); refusing to treat it as empty"
            ) from e

    def _next_seq(self) -> int:
        existing = [
            int(d[1:])
            for d in os.listdir(self._data_dir())
            if d.startswith("s") and d[1:].isdigit()
        ]
        return (max(existing) + 1) if existing else 1

    def _full_schema(self) -> StructType:
        from storm_spark.stream import _parse_ddl

        vt = _parse_ddl(self.value_type)
        s = StructType(self.key_schema.fields.copy())
        return s.add(CURR, vt).add(PREV, vt).add(TXID, LongType())

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.hash(*[F.col(k) for k in self.key_names]), F.lit(self.num_buckets))

    def _read_buckets(self, manifest: dict[str, int], buckets: list[int] | None = None) -> DataFrame:
        """Scan the manifest's (bucket -> seq) partition directories — one
        multi-path parquet scan; partition pruning via the explicit dir list."""
        wanted = [str(b) for b in buckets] if buckets is not None else list(manifest)
        dirs = [
            os.path.join(self._seq_dir(manifest[b]), f"{BUCKET}={b}")
            for b in wanted
            if b in manifest
        ]
        lost = [d for d in dirs if not os.path.isdir(d)]
        if lost:
            raise ValueError(
                f"state manifest {self._meta_path()!r} names bucket "
                f"directories that are missing: {lost[:3]}"
            )
        if not dirs:
            return self.spark.createDataFrame([], self._full_schema())
        # recursiveFileLookup disables partition discovery — the bucket id is
        # derivable from the keys, so the partition column isn't needed and
        # mixed-sequence dir lists would otherwise conflict. A known schema
        # spares a Spark schema-inference job on every merge and every read.
        if self._stored_schema is None:
            self._stored_schema = (
                self.spark.read.option("recursiveFileLookup", "true")
                .parquet(*dirs)
                .select(*self.key_names, CURR, PREV, TXID)
                .schema
            )
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .schema(self._stored_schema)
            .parquet(*dirs)
        )

    # -- lifecycle ---------------------------------------------------------
    def begin_commit(self, txid: int) -> None:
        self._cur_txid = txid
        self._pending = None

    def commit(self, txid: int) -> None:
        if self._pending is not None:
            tmp = self._meta_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"version": max(self._pending.values(), default=0),
                           "txid": txid, "buckets": self._pending}, f)
            os.replace(tmp, self._meta_path())
            # GC: drop write sequences no longer referenced by any bucket
            referenced = {self._pending[b] for b in self._pending}
            for d in os.listdir(self._data_dir()):
                if d.startswith("s") and d[1:].isdigit() and int(d[1:]) not in referenced:
                    shutil.rmtree(os.path.join(self._data_dir(), d), ignore_errors=True)
        self._cur_txid = None
        self._pending = None

    # -- set-oriented merge (the hot path) ---------------------------------
    def update_from_agg(self, agg_df: DataFrame, agg, txid: int) -> None:
        """Merge one epoch's per-key partial aggregates (``__delta__`` col)
        into the touched buckets only."""
        manifest = self._manifest()
        # the batch agg feeds two consumers (touched-bucket discovery + the
        # merge join) — persist so the upstream aggregation runs once
        batch = (
            agg_df.withColumnRenamed("__delta__", "__b__")
            .withColumn(BUCKET, self._bucket_col())
            .persist()
        )
        touched = [r[0] for r in batch.select(BUCKET).distinct().collect()]
        if not touched:
            batch.unpersist()
            self._pending = dict(manifest)  # empty batch: carry all forward
            return
        state = self._read_buckets(manifest, touched)
        j = state.join(batch, on=self.key_names, how="full_outer")
        reducer = not hasattr(agg, "zero_expr")
        b = F.col("__b__") if reducer else F.col("__b__").cast(self.value_type)
        base, keep, prev, new_txid = self._replay_rule(b, txid)
        cols = [
            prev.cast(self.value_type).alias(PREV),
            new_txid.alias(TXID),
            self._bucket_col().alias(BUCKET),
        ]
        if reducer:
            rule = j.select(
                *self.key_names, CURR, base.alias("__base__"), keep.alias("__keep__"), b, *cols
            )
            out = self._fold(rule, agg)
        else:
            zero = agg.zero_expr().cast(self.value_type)
            curr = F.when(keep, F.col(CURR)).otherwise(
                agg.combine_expr(F.coalesce(base, zero), b)
            )
            out = j.select(*self.key_names, curr.cast(self.value_type).alias(CURR), *cols)
        self._write_merged(out, manifest, touched)
        batch.unpersist()

    def _replay_rule(self, b: F.Column, txid: int) -> tuple[F.Column, ...]:
        """The ``(base, keep, PREV, TXID)`` columns of the class docstring's
        rule, for batch delta column ``b``."""
        s_curr, s_prev, s_txid, t = F.col(CURR), F.col(PREV), F.col(TXID), F.lit(txid)
        replay = s_txid.eqNullSafe(t)
        opaque = self.state_type is StateType.OPAQUE
        base = F.when(replay, s_prev).otherwise(s_curr) if opaque else s_curr
        keep = b.isNull()
        if self.state_type is StateType.TRANSACTIONAL:
            keep = keep | replay
        prev = F.when(keep, s_prev).otherwise(base) if opaque else F.lit(None)
        new_txid = F.when(b.isNull(), s_txid)
        if self.state_type is not StateType.NON_TRANSACTIONAL:
            # parity: OpaqueValue.java:44 fail-fast on a stale/reset txid
            stale = F.concat(
                F.lit(f"Current batch ({txid}) is behind state's batch ("),
                s_txid.cast("string"),
                F.lit("): stale or reset txid"),
            )
            new_txid = new_txid.when(s_txid > t, F.raise_error(stale).cast("bigint"))
        new_txid = new_txid.otherwise(t)
        return base, keep, prev, new_txid

    def _fold(self, rule: DataFrame, agg) -> DataFrame:
        """Reducer path (ReducerStateAgg, parity: MapReducerAggStateUpdater.java:36):
        fold ``agg.combine(base, rows)`` in python on the rows the rule does
        not keep; every other column is the rule's."""
        import numpy as np
        import pandas as pd

        out_cols = [*self.key_names, CURR, PREV, TXID, BUCKET]
        schema = self._full_schema().add(BUCKET, IntegerType())

        def kernel(batches):
            for pdf in batches:
                curr = pdf[CURR].astype(object)
                for i in np.flatnonzero(~pdf["__keep__"].to_numpy(bool)):
                    base = pdf["__base__"].iat[i]
                    if pd.api.types.is_scalar(base) and pd.isna(base):
                        base = None
                    rows = [r if isinstance(r, dict) else dict(r) for r in pdf["__b__"].iat[i]]
                    curr.iat[i] = agg.combine(base, rows)
                pdf[CURR] = curr
                yield pdf[out_cols]

        return rule.mapInPandas(kernel, schema)

    def _write_merged(self, out: DataFrame, manifest: dict[str, int], touched: list[int]) -> None:
        seq = self._next_seq()
        (
            out.repartition(len(touched), BUCKET)
            .write.mode("overwrite")
            .partitionBy(BUCKET)
            .parquet(self._seq_dir(seq))
        )
        self._stored_schema = StructType([f for f in out.schema.fields if f.name != BUCKET])
        pending = dict(manifest)
        for bkt in touched:
            pending[str(bkt)] = seq
        self._pending = pending

    # -- point API (parity / tests; batched through the JVM) ---------------
    def multi_get(self, keys: Sequence[tuple]) -> list[Any]:
        df = self.dataframe(self.spark)
        key_rows = self.spark.createDataFrame(
            [tuple(k) for k in keys], StructType(self.key_schema.fields.copy())
        )
        got = {
            tuple(r[k] for k in self.key_names): r[self.value_field]
            for r in key_rows.join(df, on=self.key_names, how="inner").collect()
        }
        return [got.get(tuple(k)) for k in keys]

    def multi_put(self, keys: Sequence[tuple], vals: Sequence[Any]) -> None:
        raise NotImplementedError("use update_from_agg / partition_persist")

    def dataframe(self, spark: SparkSession) -> DataFrame:
        return self._read_buckets(self._manifest()).select(
            *self.key_names, F.col(CURR).alias(self.value_field)
        )

    def as_dict(self) -> dict[tuple, Any]:
        return {
            tuple(r[k] for k in self.key_names): r[self.value_field]
            for r in self.dataframe(self.spark).collect()
        }
