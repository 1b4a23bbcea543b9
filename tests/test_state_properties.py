"""Property-based state-semantics tests (hypothesis).

The reference pins the opaque/transactional protocols with a handful of
scripted txid sequences (state_test.clj:33-115). These properties check the
same contracts against a simple model under *arbitrary* interleavings of
commits, replays (same or changed batch content), and skips:

- opaque state converges to the result of applying the LAST replay of each
  txid, no matter how batches mutate between replays;
- transactional state ignores replays of an already-applied txid entirely;
- reading an OpaqueValue under its own txid always yields the pre-txid value
  (read-your-writes isolation across a replay boundary).

No SparkSession needed — the protocol is pure. The backends that apply it
(MemoryMapState, and ParquetMapState's columnar form for combiners and
reducers) are held to one scripted contract by
``test_state.py::test_replay_rule_conformance``.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from storm_spark.state.opaque import OpaqueValue, TransactionalValue

# a "run" is a sequence of (txid, value) updates where txids are
# non-decreasing (Trident commits in txid order; replays repeat a txid)
runs = st.lists(
    st.tuples(st.integers(min_value=1, max_value=6), st.integers(-100, 100)),
    min_size=1,
    max_size=24,
).map(lambda xs: sorted(xs, key=lambda t: t[0]))


@given(runs)
@settings(max_examples=300, deadline=None)
def test_opaque_converges_to_last_replay_per_txid(run):
    ov = OpaqueValue(None, 0)
    for txid, val in run:
        ov = ov.update(txid, val)
    # model: the surviving value is the last value written under the final txid
    assert ov.get_curr() == run[-1][1]


@given(runs)
@settings(max_examples=300, deadline=None)
def test_opaque_prev_is_value_before_current_txid(run):
    """Whatever the replay history, prev must equal the last value committed
    under a txid strictly below the current one (or the initial value)."""
    ov = OpaqueValue(None, 0)
    model_prev = 0
    last_txid = None
    for txid, val in run:
        if last_txid is not None and txid != last_txid:
            model_prev = last_committed
        ov = ov.update(txid, val)
        last_committed = val
        last_txid = txid
    assert ov.get_prev() == model_prev
    # read under the current txid sees the pre-txid value (replay isolation)
    assert ov.get(last_txid) == model_prev


@given(runs)
@settings(max_examples=300, deadline=None)
def test_transactional_skips_replayed_txids(run):
    tv = TransactionalValue(None, 0)
    applied = {}
    for txid, val in run:
        tv = tv.update(txid, val)
        applied.setdefault(txid, val)  # FIRST value per txid wins
    final_txid = run[-1][0]
    assert tv.val == applied[final_txid]
    assert tv.txid == final_txid


@given(st.integers(1, 100), st.integers(-5, 5))
@settings(max_examples=100, deadline=None)
def test_opaque_future_read_sees_curr(txid, val):
    ov = OpaqueValue(None, 0).update(txid, val)
    assert ov.get(txid + 1) == val  # later txids read the committed value


# --- MapState-level replay convergence ---------------------------------------

# a batch script: non-decreasing txids, each carrying per-key deltas over a
# tiny key domain; repeated txids model replays (content may differ!)
batch_scripts = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),
        st.dictionaries(st.sampled_from(["a", "b", "c"]), st.integers(1, 9), max_size=3),
    ),
    min_size=1,
    max_size=12,
).map(lambda xs: sorted(xs, key=lambda t: t[0]))


@given(batch_scripts)
@settings(max_examples=200, deadline=None)
def test_memory_map_opaque_sum_converges(script):
    """Opaque MapState under arbitrary replays (including replays whose batch
    content CHANGED): per (txid, key), only the LAST replay that TOUCHED the
    key counts. Replay idempotence is per-key, not per-batch — a replay that
    drops a key leaves that key's earlier contribution in place (reference
    parity: OpaqueMap.multiUpdate only sees the keys present in the batch,
    OpaqueMap.java:54-85)."""
    from storm_spark.state.base import StateType
    from storm_spark.state.memory import MemoryMapState

    state = MemoryMapState(None, "v", "bigint", StateType.OPAQUE)

    # model: contribution[(txid, key)] = delta from the last replay of txid
    # that contained key
    contrib = {}
    for txid, deltas in script:
        for k, d in deltas.items():
            contrib[(txid, k)] = d
        state.begin_commit(txid)
        ks = [(k,) for k in deltas]
        state.multi_update(ks, list(deltas.values()), lambda a, b: (a or 0) + b, 0)
        state.commit(txid)

    want = {}
    for (_txid, k), d in contrib.items():
        want[k] = want.get(k, 0) + d
    got = {k[0]: v for k, v in state.as_dict().items() if v is not None and v != 0}
    assert got == {k: v for k, v in want.items() if v != 0}


@given(batch_scripts)
@settings(max_examples=200, deadline=None)
def test_memory_map_transactional_first_replay_wins(script):
    """Transactional MapState skips replayed txids: the FIRST batch seen per
    txid is the one that counts (valid because real transactional sources
    replay identical batches)."""
    from storm_spark.state.base import StateType
    from storm_spark.state.memory import MemoryMapState

    state = MemoryMapState(None, "v", "bigint", StateType.TRANSACTIONAL)

    # model: contribution[(txid, key)] = delta from the FIRST replay of txid
    # that contained key (the skip rule is per-key: a key first touched by a
    # later replay of the same txid still applies)
    contrib = {}
    for txid, deltas in script:
        for k, d in deltas.items():
            contrib.setdefault((txid, k), d)
        state.begin_commit(txid)
        ks = [(k,) for k in deltas]
        state.multi_update(ks, list(deltas.values()), lambda a, b: (a or 0) + b, 0)
        state.commit(txid)

    want = {}
    for (_txid, k), d in contrib.items():
        want[k] = want.get(k, 0) + d
    got = {k[0]: v for k, v in state.as_dict().items() if v is not None and v != 0}
    assert got == {k: v for k, v in want.items() if v != 0}
