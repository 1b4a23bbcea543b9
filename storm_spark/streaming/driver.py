"""Structured Streaming micro-batch driver.

Parity: the Trident batch coordinator (``MasterBatchCoordinator.java:40-235``)
mapped onto Spark's own micro-batch machinery:

- txid            = ``foreachBatch`` epoch id (monotonic, replay-stable)
- ``$batch``      = trigger firing / epoch start
- ``$commit`` in txid order = Structured Streaming runs ONE epoch at a time
  and its offset WAL replays the SAME epoch id after failure — the engine's
  opaque/transactional state merge makes the replay idempotent
- batch-completion detection (``TridentBoltExecutor`` coord counting) =
  the epoch barrier Spark already provides

So the only engine code needed is the per-epoch body: build the stream's
DataFrame plan against the epoch's batch and merge into the registered
states under the epoch id — identical semantics to ``LocalCluster.feed``,
driven by a real ``readStream`` source.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from storm_spark.stream import Context
from storm_spark.topology import FeederSource, LocalCluster, Topology


class StreamingTopologyRunner:
    """Run a Topology's registered state updates from a streaming source.

    The source feeds one FeederSource binding; each micro-batch executes all
    state specs under the epoch id as txid with 2-phase begin/commit — the
    exact ``LocalCluster`` body, so batch and streaming execution share one
    code path (Trident's own design: same graph, different driver).
    """

    def __init__(self, topology: Topology, source: FeederSource):
        self.topology = topology
        self.source = source
        self._cluster = LocalCluster(topology)

    def _process_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # epoch ids start at 0; state txids are positive
        self._cluster.feed_dataframe(self.source, batch_df, txid=epoch_id + 1)

    def start_files(
        self,
        path: str,
        schema: StructType,
        fmt: str = "parquet",
        max_files_per_trigger: int = 1,
        checkpoint_dir: str | None = None,
        query_name: str | None = None,
    ):
        """Start the state-merging streaming query WITHOUT draining it —
        the caller owns ``processAllAvailable()``/``stop()``. This is the
        failure-injection surface: a gate can stop the query mid-feed,
        tamper with the checkpoint's commit log (crash between the state
        merge and the sink WAL commit — the window Trident's
        ``MasterBatchCoordinator.java:121-180`` replays), and restart from
        the same checkpoint; the opaque/transactional state merge must
        absorb the same-txid replay idempotently."""
        spark = self.topology.spark
        reader = (
            spark.readStream.format(fmt)
            .schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .load(path)
        )
        writer = reader.writeStream.foreachBatch(self._process_epoch).outputMode("update")
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if query_name:
            writer = writer.queryName(query_name)
        return writer.start()

    def run_files(
        self,
        path: str,
        schema: StructType,
        fmt: str = "parquet",
        max_files_per_trigger: int = 1,
        checkpoint_dir: str | None = None,
    ) -> None:
        """Consume a file-source directory to exhaustion (synchronous):
        :meth:`start_files`, drained and stopped.

        ``maxFilesPerTrigger=1`` makes each input file one micro-batch —
        the test/demo cadence; production tunes bytes-per-trigger instead.
        """
        q = self.start_files(path, schema, fmt, max_files_per_trigger, checkpoint_dir)
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_stream_to_state(
    topology: Topology,
    source: FeederSource,
    input_path: str,
    schema: StructType,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """One-shot: drain a file-backed stream through the topology's states."""
    StreamingTopologyRunner(topology, source).run_files(
        input_path,
        schema,
        max_files_per_trigger=max_files_per_trigger,
        checkpoint_dir=checkpoint_dir,
    )


def windowed_stream_aggregate(
    spark: SparkSession,
    input_path: str,
    schema: StructType,
    ts_col: str,
    window_duration: str,
    agg_exprs: Callable[[Any], list],
    watermark: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time tumbling-window aggregation as a streaming query into an
    in-memory sink; returns the completed result (beyond-reference surface:
    SURVEY §2.8 — the reference has no windows at all).

    Run-to-completion over a BOUNDED input directory: ``complete`` output
    mode is deliberate — append would hold back every window not yet past
    the watermark, losing the tail of a bounded run. In complete mode Spark
    retains all window state (the watermark does not evict), so state is
    bounded by the input processed; for an UNBOUNDED production stream use
    ``update``/``append`` mode with a sink that tolerates emission lag, or
    the bounded-state operators in ``streaming/stateful.py``."""
    import uuid

    from pyspark.sql import functions as F

    name = f"win_{uuid.uuid4().hex[:8]}"
    events = (
        spark.readStream.format("parquet").schema(schema).load(input_path)
    )
    agg = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration), *(group_cols or []))
        .agg(*agg_exprs(F))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # materialize and drop the sink view — the memory table would
        # otherwise leak one registration per call
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        schema_out = spark.table(name).schema
    finally:
        q.stop()
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema_out)
