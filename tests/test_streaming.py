"""Structured Streaming driver tests: real readStream → foreachBatch →
opaque parquet state, plus event-time windowed aggregation."""

import glob
import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from storm_spark import FeederSource, Topology
from storm_spark.operations import Count
from storm_spark.operations.base import LambdaFunction
from storm_spark.state import ParquetMapState
from storm_spark.streaming import run_stream_to_state
from storm_spark.streaming.driver import windowed_stream_aggregate


def test_streaming_wordcount_state(spark, tmp_path):
    """File-source stream, one micro-batch per file, counts merged into the
    parquet opaque state — final state equals the batch answer."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    batches = [
        [("hello the man said",), ("the",)],
        [("the man on the moon",), ("where are you",)],
        [("the the",)],
    ]
    schema = StructType().add("sentence", "string")
    import pyarrow as pa
    import pyarrow.parquet as pq

    for i, rows in enumerate(batches):
        pq.write_table(
            pa.table({"sentence": [r[0] for r in rows]}), str(in_dir / f"b{i}.parquet")
        )

    topo = Topology(spark)
    feeder = FeederSource(["sentence"])
    split = LambdaFunction(
        lambda cols: [F.explode(F.filter(F.split(cols[0], " "), lambda x: x != F.lit("")))]
    )
    wc = (
        topo.new_stream("sentences", feeder)
        .each(["sentence"], split, ["word"])
        .group_by(["word"])
        .persistent_aggregate(
            ParquetMapState.factory(str(tmp_path / "state"), num_buckets=4),
            ["word"],
            Count(),
            ["count"],
        )
    )
    run_stream_to_state(
        topo,
        feeder,
        str(in_dir),
        schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = wc.state.as_dict()
    assert got[("the",)] == 6
    assert got[("man",)] == 2
    assert got[("moon",)] == 1
    assert sum(v for v in got.values()) == 15


def test_streaming_restart_is_idempotent(spark, tmp_path):
    """Restarting from the checkpoint after the input is drained must not
    re-apply batches (offset WAL + opaque txid merge)."""
    in_dir = tmp_path / "in2"
    in_dir.mkdir()
    schema = StructType().add("sentence", "string")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"sentence": ["a b", "a"]}), str(in_dir / "b0.parquet"))

    def build():
        topo = Topology(spark)
        feeder = FeederSource(["sentence"])
        split = LambdaFunction(
            lambda cols: [
                F.explode(F.filter(F.split(cols[0], " "), lambda x: x != F.lit("")))
            ]
        )
        wc = (
            topo.new_stream("sentences", feeder)
            .each(["sentence"], split, ["word"])
            .group_by(["word"])
            .persistent_aggregate(
                ParquetMapState.factory(str(tmp_path / "state2"), num_buckets=2),
                ["word"],
                Count(),
                ["count"],
            )
        )
        return topo, feeder, wc

    topo, feeder, wc = build()
    ck = str(tmp_path / "ckpt2")
    run_stream_to_state(topo, feeder, str(in_dir), schema, checkpoint_dir=ck)
    assert wc.state.as_dict() == {("a",): 2, ("b",): 1}
    # same checkpoint, same input: nothing new to process
    topo2, feeder2, wc2 = build()
    run_stream_to_state(topo2, feeder2, str(in_dir), schema, checkpoint_dir=ck)
    assert wc2.state.as_dict() == {("a",): 2, ("b",): 1}


def test_windowed_stream_aggregate(spark, tmp_path):
    in_dir = tmp_path / "ev"
    in_dir.mkdir()
    schema = StructType().add("ts", "timestamp").add("v", "double")
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 1), 1.0),
        (dt.datetime(2024, 1, 1, 0, 2), 2.0),
        (dt.datetime(2024, 1, 1, 1, 1), 10.0),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"ts": [r[0] for r in rows], "v": [r[1] for r in rows]}),
        str(in_dir / "e.parquet"),
    )
    out = windowed_stream_aggregate(
        spark,
        str(in_dir),
        schema,
        "ts",
        "1 hour",
        lambda F: [F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")],
    )
    rows = {r["window"]["start"].hour: (r["n"], r["sv"]) for r in out.collect()}
    assert rows == {0: (2, 3.0), 1: (1, 10.0)}


# ---------------------------------------------------------------------------
# Streaming dedup (dedup family, streaming side)
# ---------------------------------------------------------------------------


def test_streaming_dedup_fingerprint_across_batches(spark, tmp_path):
    """Re-deliveries of identical content in LATER micro-batches are
    dropped; state carries across batches via the checkpoint."""
    import os

    from pyspark.sql import functions as F

    from storm_spark.streaming.dedup import streaming_dedup_fingerprint

    indir = tmp_path / "din"
    os.makedirs(indir)
    b1 = spark.createDataFrame([(1, "hello world"), (2, "unique one")], "doc_id bigint, text string")
    b2 = spark.createDataFrame([(3, "hello  world"), (4, "fresh doc")], "doc_id bigint, text string")
    b1.coalesce(1).write.parquet(str(indir / "b1"))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{indir}/*")
    )
    out = streaming_dedup_fingerprint(stream, "text")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sdedup")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        b2.coalesce(1).write.parquet(str(indir / "b2"))
        q.processAllAvailable()
        got = sorted(r.doc_id for r in spark.sql("select * from sdedup").collect())
    finally:
        q.stop()
    # doc 3 is a whitespace-variant duplicate of doc 1 -> dropped
    assert got == [1, 2, 4]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from storm_spark.streaming.dedup import streaming_dedup_within_watermark

    indir = tmp_path / "win"
    os.makedirs(indir)

    def write(rows, name):
        df = spark.createDataFrame(rows, "ts string, k string").select(
            F.to_timestamp("ts").alias("ts"), "k"
        )
        df.coalesce(1).write.parquet(str(indir / name))

    write([("2024-01-01 10:00:00", "a"), ("2024-01-01 10:00:30", "a")], "b1")

    stream = (
        spark.readStream.schema("ts timestamp, k string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{indir}/*")
    )
    out = streaming_dedup_within_watermark(stream, ["k"], "ts", "5 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("wdedup")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # same key again within the horizon -> dropped
        write([("2024-01-01 10:01:00", "a"), ("2024-01-01 10:01:00", "b")], "b2")
        q.processAllAvailable()
        got = sorted((r.k, str(r.ts)) for r in spark.sql("select * from wdedup").collect())
    finally:
        q.stop()
    assert [k for k, _ in got] == ["a", "b"]


def test_streaming_curation_pipeline_end_to_end(spark, tmp_path):
    """The curation ops compose in Structured Streaming: quality filter
    (expressions) → content dedup (stateful, cross-batch) → split assignment
    → token-window chunking (map-side explode). The streamed result over two
    micro-batches equals the same pipeline run as one batch."""
    import os

    from pyspark.sql import functions as F

    from storm_spark.functions import sampling, text
    from storm_spark.streaming.dedup import streaming_dedup_fingerprint

    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "x"),  # fails quality (too short)
        (3, "many different tokens make a reasonable document for the chunker here"),
    ]
    rows2 = [
        (4, "the quick  brown fox jumps over the lazy dog again and again ok"),  # dup of 1
        (5, "a second batch document with enough distinct words to pass quality"),
    ]
    indir = tmp_path / "cin"
    os.makedirs(indir)
    spark.createDataFrame(rows1, "doc_id bigint, text string").coalesce(1).write.parquet(
        str(indir / "b1")
    )

    def curate(df):
        base = df.withColumn("__toks__", text.tokens("text")).filter(
            F.size("__toks__") >= 5
        )
        deduped = streaming_dedup_fingerprint(base, "text")
        split = sampling.deterministic_split(deduped, "doc_id", {"train": 0.8, "val": 0.2})
        return sampling.chunk_token_windows(
            split.select("doc_id", "__toks__"), "doc_id", "__toks__", max_len=4, stride=4
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{indir}/*")
    )
    q = (
        curate(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("curated")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, "doc_id bigint, text string").coalesce(1).write.parquet(
            str(indir / "b2")
        )
        q.processAllAvailable()
        streamed = sorted(
            map(tuple, spark.sql("select * from curated").collect())
        )
    finally:
        q.stop()

    batch_df = spark.createDataFrame(rows1 + rows2, "doc_id bigint, text string")
    base = batch_df.withColumn("__toks__", text.tokens("text")).filter(
        F.size("__toks__") >= 5
    )
    # batch twin of the streaming dedup: first arrival (min doc_id) per fingerprint
    from storm_spark.functions.text import fingerprint

    keep = base.withColumn("__fp__", fingerprint("text")).groupBy("__fp__").agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = base.join(keep, "doc_id", "left_semi")
    expected = sorted(
        map(
            tuple,
            sampling.chunk_token_windows(
                deduped.select("doc_id", "__toks__"), "doc_id", "__toks__", max_len=4, stride=4
            ).collect(),
        )
    )
    assert streamed == expected
    assert {t[0] for t in streamed} == {1, 3, 5}  # 2 fails quality, 4 is a dup


def _scratch_dirs(prefix):
    from storm_spark.queries import gate_tmp

    return glob.glob(os.path.join(gate_tmp._root, f"storm_spark_{prefix}*"))


def test_drive_stream_epochs_foreach_batch_one_batch_per_round(spark):
    """The catalog's stream driver: a foreachBatch sink sees exactly one
    batch per round, in round order, and the scratch dir stays (absorbers
    may hold lazy frames over the feed files)."""
    from storm_spark.queries import _drive_stream_epochs

    rounds = [
        (spark.createDataFrame([(r, i) for i in range(r + 1)], "r int, i int"),)
        for r in range(3)
    ]
    seen = []
    _drive_stream_epochs(
        spark,
        rounds,
        lambda df, epoch_id: seen.append((epoch_id, sorted(row.r for row in df.collect()))),
        "tfb_",
    )
    assert seen == [(0, [0]), (1, [1, 1]), (2, [2, 2, 2])]
    assert len(_scratch_dirs("tfb_")) == 1


def test_drive_stream_epochs_memory_sink_two_sources(spark):
    """A two-source round plus a sentinel round through a memory sink: every
    row comes back and the scratch dir is removed."""
    from storm_spark.queries import _drive_stream_epochs

    schema = "k int, v string"
    left = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    right = spark.createDataFrame([(3, "c")], schema)
    sentinel = spark.createDataFrame([(-1, "s")], schema)
    out = _drive_stream_epochs(
        spark,
        [(left, right), (sentinel, sentinel)],
        "append",
        "tmem_",
        build=lambda a, b: a.unionByName(b),
    )
    assert sorted(map(tuple, out.collect())) == [
        (-1, "s"), (-1, "s"), (1, "a"), (2, "b"), (3, "c"),
    ]
    assert _scratch_dirs("tmem_") == []
