"""Ports of the reference's state-semantics tests.

Source: ``storm-core/test/clj/storm/trident/state_test.clj:33-115`` — scripted
beginCommit/update/commit sequences including replayed txids, for opaque vs
transactional maps, plus the same scripts against the parquet-backed scale
state (set-oriented merge path).
"""

from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from storm_spark.operations import Count, Sum
from storm_spark.operations.base import ReducerAggregator, ReducerStateAgg
from storm_spark.state import (
    MemoryMapState,
    OpaqueValue,
    ParquetMapState,
    StateType,
)


def _count_combine(a, b):
    return (a or 0) + (b or 0)


def single_get(m, key):
    return m.multi_get([(key,)])[0]


def single_update(m, key, amt):
    return m.multi_update([(key,)], [amt], _count_combine, 0)[0]


def _key_schema():
    return StructType().add("k", "string")


def test_opaque_value():
    # state_test.clj:33-58
    opqval = OpaqueValue(8, "v1", "v0")
    upval0 = opqval.update(8, "v2")
    upval1 = opqval.update(9, "v2")
    assert opqval.get(None) == "v1"
    assert opqval.get(100) == "v1"
    assert opqval.get(9) == "v1"
    assert opqval.get(8) == "v0"
    with pytest.raises(ValueError):
        opqval.get(7)
    assert opqval.get_prev() == "v0"
    assert opqval.get_curr() == "v1"
    # update with current txid keeps prev; new txid rolls curr into prev
    assert upval0.get_prev() == "v0" and upval0.get_curr() == "v2"
    assert upval1.get_prev() == "v1" and upval1.get_curr() == "v2"


def test_opaque_map():
    # state_test.clj:60-77
    m = MemoryMapState(_key_schema(), "count", "bigint", StateType.OPAQUE)
    m.begin_commit(1)
    assert single_get(m, "a") is None
    # intra-batch accumulation (read-your-writes cache)
    assert single_update(m, "a", 1) == 1
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    # replay of txid 1: recompute from prev
    m.begin_commit(1)
    assert single_get(m, "a") is None
    assert single_update(m, "a", 2) == 2
    m.commit(1)
    m.begin_commit(2)
    assert single_get(m, "a") == 2
    assert single_update(m, "a", 3) == 5
    assert single_update(m, "a", 1) == 6
    m.commit(2)


def test_transactional_map():
    # state_test.clj:79-98
    m = MemoryMapState(_key_schema(), "count", "bigint", StateType.TRANSACTIONAL)
    m.begin_commit(1)
    assert single_get(m, "a") is None
    assert single_update(m, "a", 1) == 1
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    m.begin_commit(1)
    assert single_get(m, "a") == 3
    # same-txid replay: updates are no-ops
    assert single_update(m, "a", 1) == 3
    assert single_update(m, "a", 2) == 3
    m.commit(1)
    m.begin_commit(2)
    assert single_get(m, "a") == 3
    assert single_update(m, "a", 3) == 6
    assert single_update(m, "a", 1) == 7
    m.commit(2)


# ---------------------------------------------------------------------------
# Same protocols on the parquet scale path (set-oriented epoch merges)
# ---------------------------------------------------------------------------


def _batch(spark, pairs):
    return spark.createDataFrame(
        [(k, v) for k, v in pairs],
        StructType().add("k", "string").add("__delta__", "long"),
    )


def _row_lists(spark, pairs):
    """The reducer path's batch: each key's delta is its row list."""
    return spark.createDataFrame(
        [(k, [(v,)]) for k, v in pairs], "k string, __delta__ array<struct<n:bigint>>"
    )


class SumReducer(ReducerAggregator):
    """ReducerAggregator twin of ``Sum``: drives the reducer merge path with
    values a combiner can be checked against."""

    value_type = "bigint"

    def init(self):
        return 0

    def reduce(self, curr, tup):
        return curr + tup["n"]


# one concatenated txid script per state type: new keys, an advance, an
# opaque replay with changed content (plus a key new to the replay), then a
# replay that drops that key and repeats the first attempt identically
_REPLAY_SCRIPT = [
    (1, {"a": 2, "b": 1}),
    (2, {"a": 3}),
    (2, {"a": 10, "c": 7}),
    (2, {"a": 3}),
]
_REPLAY_EXPECTED = {
    # opaque: a replay redoes the key from prev; a key the replay drops keeps
    # its earlier contribution (replay idempotence is per key)
    "OPAQUE": [
        {"a": 2, "b": 1},
        {"a": 5, "b": 1},
        {"a": 12, "b": 1, "c": 7},
        {"a": 5, "b": 1, "c": 7},
    ],
    # transactional: a key already stored under the txid is skipped; a key
    # first seen in a replay still applies
    "TRANSACTIONAL": [
        {"a": 2, "b": 1},
        {"a": 5, "b": 1},
        {"a": 5, "b": 1, "c": 7},
        {"a": 5, "b": 1, "c": 7},
    ],
    "NON_TRANSACTIONAL": [
        {"a": 2, "b": 1},
        {"a": 5, "b": 1},
        {"a": 15, "b": 1, "c": 7},
        {"a": 18, "b": 1, "c": 7},
    ],
}


@pytest.mark.parametrize("state_type", list(_REPLAY_EXPECTED))
def test_replay_rule_conformance(spark, tmp_path, state_type):
    """One replay contract for every backend: MemoryMapState, ParquetMapState
    with a combiner (``Sum``, the columnar merge) and ParquetMapState with a
    ReducerAggregator (the python fold) hold the same state after every feed
    of one scripted txid sequence, and agree on a txid behind the stored one
    (OPAQUE/TRANSACTIONAL refuse it, NON_TRANSACTIONAL applies it)."""
    stype = StateType[state_type]
    ks = _key_schema()
    backends = {
        "memory": (MemoryMapState(ks, "total", "bigint", stype), Sum("bigint"), _batch),
        "parquet": (
            ParquetMapState(spark, str(tmp_path / "sum"), ks, "total", "bigint", stype, 2),
            Sum("bigint"),
            _batch,
        ),
        "parquet_reducer": (
            ParquetMapState(spark, str(tmp_path / "red"), ks, "total", "bigint", stype, 2),
            ReducerStateAgg(SumReducer(), ["n"]),
            _row_lists,
        ),
    }

    def feed(name, txid, deltas):
        st, agg, batch = backends[name]
        st.begin_commit(txid)
        st.update_from_agg(batch(spark, list(deltas.items())), agg, txid)
        st.commit(txid)
        return {k[0]: v for k, v in st.as_dict().items()}

    # the backends are independent states: feed them concurrently (the
    # parquet merges are latency-bound small jobs)
    with ThreadPoolExecutor(len(backends)) as pool:

        def feed_all(txid, deltas):
            futs = {n: pool.submit(feed, n, txid, deltas) for n in backends}
            return {n: f.exception() or f.result() for n, f in futs.items()}

        for (txid, deltas), want in zip(_REPLAY_SCRIPT, _REPLAY_EXPECTED[state_type]):
            assert feed_all(txid, deltas) == dict.fromkeys(backends, want), (txid, deltas)
        stale = feed_all(1, {"a": 1})
    for name, got in stale.items():
        if stype is StateType.NON_TRANSACTIONAL:
            assert got["a"] == want["a"] + 1, name
        else:
            assert isinstance(got, Exception) and "behind" in str(got), (name, got)


def test_parquet_multi_get(spark, tmp_path):
    st = ParquetMapState(
        spark, str(tmp_path / "s3"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("x", 5), ("y", 6)]), Count(), 1)
    st.commit(1)
    assert st.multi_get([("x",), ("nope",), ("y",)]) == [5, None, 6]


def test_parquet_read_runs_no_schema_job(spark, tmp_path):
    """The state's bucket scan carries the known state schema, so building
    ``dataframe()`` after a commit starts no Spark job (no schema
    inference) — each DRPC state_query, as_dict and merge reads this way."""
    st = ParquetMapState(
        spark, str(tmp_path / "s6"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("x", 5), ("y", 6)]), Count(), 1)
    st.commit(1)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = st.dataframe(spark)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert sorted(map(tuple, df.collect())) == [("x", 5), ("y", 6)]
    assert st.multi_get([("y",), ("x",)]) == [6, 5]


def test_parquet_read_follows_stored_key_type(spark, tmp_path):
    """An untyped FeederSource declares string key fields while its rows
    carry bigint keys: the state reads back the type the merge stored, in
    the writing instance and in a fresh one over the same directory."""
    path = str(tmp_path / "s7")
    batch = spark.createDataFrame([(1, 5), (2, 6)], "k bigint, __delta__ bigint")
    st = ParquetMapState(spark, path, _key_schema(), "count", "bigint", StateType.OPAQUE, 4)
    st.begin_commit(1)
    st.update_from_agg(batch, Count(), 1)
    st.commit(1)
    st.begin_commit(2)
    st.update_from_agg(batch.limit(1), Count(), 2)
    st.commit(2)
    fresh = ParquetMapState(spark, path, _key_schema(), "count", "bigint", StateType.OPAQUE, 4)
    for s in (st, fresh):
        assert s.as_dict() == {(1,): 10, (2,): 6}


def test_parquet_incremental_bucket_rewrite(spark, tmp_path):
    """The scale property: an epoch touching one key rewrites ONLY that key's
    bucket — untouched buckets carry forward by manifest reference."""
    import json
    import os

    path = str(tmp_path / "s4")
    st = ParquetMapState(
        spark, path, _key_schema(), "count", "bigint", StateType.OPAQUE, 8
    )
    # epoch 1: many keys spread over several buckets
    keys = [(f"k{i}", 1) for i in range(40)]
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, keys), Count(), 1)
    st.commit(1)
    m1 = json.load(open(os.path.join(path, "_VERSION.json")))["buckets"]
    seqs1 = set(m1.values())
    assert len(seqs1) == 1  # all buckets written by the first sequence

    # epoch 2: touch a single key
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, [("k3", 9)]), Count(), 2)
    st.commit(2)
    m2 = json.load(open(os.path.join(path, "_VERSION.json")))["buckets"]
    new_seqs = {b for b, s in m2.items() if s not in seqs1}
    assert len(new_seqs) == 1  # exactly one bucket advanced
    carried = {b for b, s in m2.items() if s in seqs1}
    assert len(carried) == len(m2) - 1  # the rest carried forward by reference

    # values unaffected by the layout mechanics
    d = st.as_dict()
    assert d[("k3",)] == 10
    assert d[("k7",)] == 1
    assert len(d) == 40


def test_parquet_empty_batch_preserves_state(spark, tmp_path):
    """Empty epoch: state unchanged, commit still succeeds (verify probe)."""
    st = ParquetMapState(
        spark, str(tmp_path / "s5"), _key_schema(), "count", "bigint", StateType.OPAQUE, 4
    )
    st.begin_commit(1)
    st.update_from_agg(_batch(spark, [("a", 2)]), Count(), 1)
    st.commit(1)
    st.begin_commit(2)
    st.update_from_agg(_batch(spark, []), Count(), 2)
    st.commit(2)
    assert st.as_dict() == {("a",): 2}


def test_parquet_corrupt_manifest_fails_loudly_and_keeps_state(spark, tmp_path):
    """An unreadable manifest is an error, never an empty state: the next
    feed must raise, naming the manifest, and leave every committed write
    sequence on disk. A manifest naming a missing bucket directory raises
    too, instead of serving the bucket as empty."""
    import os
    import shutil

    from storm_spark import FeederSource, LocalCluster, Topology

    path = str(tmp_path / "corrupt")
    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(ParquetMapState.factory(path), ["word"], Count(), ["count"])
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [[f"w{i}"] for i in range(200)])
    cluster.feed(feeder, [["w1"], ["w2"]])
    data = os.path.join(path, "data")
    seqs = sorted(os.listdir(data))
    assert seqs == ["s1", "s2"]
    meta = os.path.join(path, "_VERSION.json")
    good = open(meta).read()
    with open(meta, "w") as fh:
        fh.write(good[: len(good) // 2])
    with pytest.raises(ValueError, match="_VERSION.json"):
        cluster.feed(feeder, [["w3"]])
    assert sorted(os.listdir(data)) == seqs
    # the manifest restored, a bucket directory it names goes missing
    with open(meta, "w") as fh:
        fh.write(good)
    bucket = next(d for d in os.listdir(os.path.join(data, "s2")) if d.startswith("__bucket__="))
    shutil.rmtree(os.path.join(data, "s2", bucket))
    with pytest.raises(ValueError, match="missing"):
        st.state.as_dict()


class ConcatReducer(ReducerAggregator):
    """ReducerAggregator: fold words into a '+'-joined string (order within a
    batch follows the fold; deterministic for single-partition feeds)."""

    value_type = "string"

    def init(self):
        return ""

    def reduce(self, curr, tup):
        w = tup["word"]
        return w if not curr else f"{curr}+{w}"


def test_reducer_persistent_aggregate_memory(spark):
    from storm_spark import FeederSource, LocalCluster, Topology
    from storm_spark.state import MemoryMapState

    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(MemoryMapState.factory(), ["word"], ConcatReducer(), ["joined"])
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a"], ["b"], ["a"]])
    d1 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d1 == {"a": "a+a", "b": "b"}
    cluster.feed(feeder, [["a"]])
    d2 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d2 == {"a": "a+a+a", "b": "b"}


def test_reducer_persistent_aggregate_parquet_opaque_replay(spark, tmp_path):
    """Reducer fold over ParquetMapState: opaque replay with CHANGED batch
    content recomputes from prev (MapReducerAggStateUpdater + OpaqueMap)."""
    from storm_spark import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["word"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["word"])
        .persistent_aggregate(
            ParquetMapState.factory(str(tmp_path / "red")), ["word"], ConcatReducer(), ["joined"]
        )
    )
    cluster = LocalCluster(topo)
    t1 = cluster.feed(feeder, [["a"], ["a"], ["b"]])
    d1 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d1 == {"a": "a+a", "b": "b"}

    t2 = cluster.feed(feeder, [["a"]])
    assert {k[0]: v for k, v in st.state.as_dict().items()}["a"] == "a+a+a"
    # replay txid 2 with DIFFERENT content: recompute from prev ("a+a")
    cluster.feed(feeder, [["a"], ["a"]], txid=t2)
    d3 = {k[0]: v for k, v in st.state.as_dict().items()}
    assert d3["a"] == "a+a+a+a"
    assert d3["b"] == "b"


# ---------------------------------------------------------------------------
# Composite state (Avg -> Sum+Count struct behind one persistent_aggregate)
# ---------------------------------------------------------------------------


def test_persistent_avg_memory(spark):
    from storm_spark.operations import Avg, MapGet
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["k", "v"], ["string", "bigint"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["k"])
        .persistent_aggregate(MemoryMapState.factory(), ["v"], Avg(), ["avg_v"])
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a", 10], ["a", 20], ["b", 7]])
    cluster.feed(feeder, [["a", 60], ["b", 1]])
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 30.0, "b": 4.0}


def test_persistent_avg_parquet_with_replay(spark, tmp_path):
    from storm_spark.operations import Avg
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["k", "v"], ["string", "bigint"])
    st = (
        topo.new_stream("s", feeder)
        .group_by(["k"])
        .persistent_aggregate(
            ParquetMapState.factory(str(tmp_path / "avg")), ["v"], Avg(), ["avg_v"]
        )
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [["a", 10], ["a", 20]])
    t2 = cluster.feed(feeder, [["a", 60]])
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 30.0}
    # opaque replay of t2 with CHANGED content: recompute from prev pair
    cluster.feed(feeder, [["a", 90], ["b", 5]], txid=t2)
    got = {r["k"]: r["avg_v"] for r in st.dataframe().collect()}
    assert got == {"a": 40.0, "b": 5.0}  # (10+20+90)/3


def test_persistent_avg_snapshot_global(spark):
    from storm_spark.operations import Avg
    from storm_spark.topology import FeederSource, LocalCluster, Topology

    topo = Topology(spark)
    feeder = FeederSource(["v"], ["bigint"])
    st = topo.new_stream("s", feeder).persistent_aggregate(
        MemoryMapState.factory(), ["v"], Avg(), ["avg_v"]
    )
    cluster = LocalCluster(topo)
    cluster.feed(feeder, [[4], [8]])
    cluster.feed(feeder, [[12]])
    rows = st.dataframe().collect()
    assert len(rows) == 1 and rows[0]["avg_v"] == 8.0


# ---------------------------------------------------------------------------
# CachedMap (LRU read cache) + LRUMemoryMapState
# ---------------------------------------------------------------------------


def _mk_memory():
    return MemoryMapState(
        StructType().add("k", "string"), "count", "bigint", StateType.OPAQUE
    )


def test_cached_map_serves_hits_and_writes_through():
    from storm_spark.state import CachedMap

    inner = _mk_memory()
    cm = CachedMap(inner, cache_size=3)
    cm.begin_commit(1)
    cm.multi_update([("a",), ("b",)], [2, 3], _count_combine, 0)
    cm.commit(1)
    # first read of c misses (and caches the None, like the reference's
    # LRUMap); a/b were cached by the update write-through
    assert cm.multi_get([("a",), ("b",), ("c",)]) == [2, 3, None]
    h0, m0 = cm.cache_hits, cm.cache_misses
    assert (h0, m0) == (2, 1)
    # repeat: all hits, no delegate traffic change
    assert cm.multi_get([("a",), ("b",)]) == [2, 3]
    assert cm.cache_hits == h0 + 2 and cm.cache_misses == m0


def test_cached_map_lru_evicts_and_replay_reads_prev():
    from storm_spark.state import CachedMap

    inner = _mk_memory()
    cm = CachedMap(inner, cache_size=2)
    cm.begin_commit(1)
    cm.multi_update([("a",), ("b",), ("c",)], [1, 1, 1], _count_combine, 0)
    cm.commit(1)
    # cache holds only 2 entries (b, c) after the 3-key write-through
    assert len(cm._cache) == 2
    # replay txid 1: begin_commit clears the cache, so the read sees the
    # delegate's PREV value (opaque replay contract), not a stale cached curr
    cm.begin_commit(1)
    assert cm.multi_get([("a",)]) == [None]


def test_lru_memory_map_state_evicts_cold_keys():
    from storm_spark.state import LRUMemoryMapState

    st = LRUMemoryMapState(
        StructType().add("k", "string"), "count", "bigint", StateType.OPAQUE, max_size=2
    )
    st.begin_commit(1)
    st.multi_update([("a",), ("b",)], [1, 1], _count_combine, 0)
    st.commit(1)
    st.begin_commit(2)
    st.multi_get([("a",)])  # touch a: b becomes the LRU key
    st.multi_update([("c",)], [1], _count_combine, 0)
    st.commit(2)
    assert set(st.as_dict()) == {("a",), ("c",)}  # b evicted
    # evicted key restarts from zero on the next write
    st.begin_commit(3)
    assert st.multi_update([("b",)], [5], _count_combine, 0) == [5]
    st.commit(3)
