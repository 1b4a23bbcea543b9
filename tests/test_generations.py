"""The GenerationStore contract, once for both persisted indexes.

``IncrementalLSHIndex`` (bucketed mode) and ``IVFPQIndex`` keep their
files in one layout — ``{root}/_pointer.json`` naming the serving
generation, artifacts under ``{root}/g{N}/`` — so one test pins, for
each: the fresh-start guard (refuse a non-empty root, wipe it under the
overwrite flag), reattaching through the pointer, an orphan generation
that stays invisible until the next maintenance op sweeps it, and N−1
retention after two maintenance ops. Both indexes also share one id
contract (``check_adds``/``check_deletes``); a second test pins its
precedence when several guards fail at once.
"""

import os

import pytest
from pyspark.sql import functions as F


class _LSH:
    """Adapter: absorb / reattach / maintain an IncrementalLSHIndex."""

    col = "__id__"

    def __init__(self, spark, root):
        self.spark, self.root = spark, root
        self.kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
                       index_table="gen_contract_lsh", index_path=root)

    def start(self, ids, overwrite=False):
        from storm_spark.functions.dedup import IncrementalLSHIndex

        idx = IncrementalLSHIndex(
            "doc_id", "text", overwrite_index=overwrite, **self.kw
        )
        idx.add_docs(self._docs(ids))
        return idx

    def reattach(self):
        from storm_spark.functions.dedup import IncrementalLSHIndex

        idx = IncrementalLSHIndex("doc_id", "text", resume=True, **self.kw)
        idx._attach_if_resuming(self.spark)
        return idx

    def maintain(self, idx):
        idx.compact_index()

    def add(self, idx, ids, enforce_unique=True):
        idx.enforce_unique = enforce_unique
        idx.add_docs(self._docs(ids))

    def remove(self, idx, ids):
        idx.remove_docs(self.spark.createDataFrame([(i,) for i in ids], "doc_id long"))

    def drop(self):
        from storm_spark.functions.dedup import IncrementalLSHIndex

        IncrementalLSHIndex(**{k: self.kw[k] for k in ("index_table", "index_path")}).drop_tables()

    def _docs(self, ids):
        return self.spark.createDataFrame(
            [(i, f"the quick brown fox {i % 5} jumps over the lazy dog {i % 5}")
             for i in ids],
            "doc_id long, text string",
        )


class _IVF:
    """Adapter: build / load / compact an IVFPQIndex."""

    col = "neighbor_id"

    def __init__(self, spark, root):
        self.spark, self.root = spark, root

    def start(self, ids, overwrite=False):
        from storm_spark.functions.similarity import IVFPQIndex

        return IVFPQIndex(self.root).build(
            self._vecs(ids), m=2, ksub=2, n_lists=2, overwrite=overwrite
        )

    def add(self, idx, ids, enforce_unique=True):
        idx.add_vectors(self._vecs(ids), enforce_unique=enforce_unique)

    def remove(self, idx, ids):
        idx.remove_vectors(self.spark.createDataFrame([(i,) for i in ids], "vec_id long"))

    def _vecs(self, ids):
        return self.spark.createDataFrame(
            [(i, [float(i % 4), float(i % 3), float(i % 5), 1.0]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    def reattach(self):
        from storm_spark.functions.similarity import IVFPQIndex

        return IVFPQIndex.load(self.root)

    def maintain(self, idx):
        idx.compact()

    def drop(self):
        pass


def _ids(spark, idx, col):
    """Every id in the serving generation's ids sidecar."""
    return {r[0] for r in idx._store.read_ids(spark, col, idx.id_buckets).collect()}


@pytest.mark.parametrize("kind", [_LSH, _IVF], ids=["lsh", "ivf"])
def test_generation_store_contract(spark, tmp_path, kind):
    root = str(tmp_path / "idx")
    a = kind(spark, root)

    def live(idx):
        return _ids(spark, idx, kind.col)

    try:
        # fresh start: a non-empty root is refused and left intact ...
        os.makedirs(root)
        with open(os.path.join(root, "keep.txt"), "w") as fh:
            fh.write("unrelated")
        with pytest.raises(ValueError, match="non-empty"):
            a.start(range(10))
        assert os.path.isfile(os.path.join(root, "keep.txt"))
        # ... and wiped under the overwrite flag; the index starts at g0
        idx = a.start(range(10), overwrite=True)
        assert not os.path.exists(os.path.join(root, "keep.txt"))
        assert idx.generation == 0
        assert os.path.isfile(os.path.join(root, "_pointer.json"))
        # reattach through the pointer, in a new instance
        assert a.reattach().generation == 0
        assert live(a.reattach()) == set(range(10))
        # an orphan g1 (a maintenance op that crashed before its flip) is
        # invisible to readers ...
        os.makedirs(os.path.join(root, "g1", "junk"))
        assert a.reattach().generation == 0
        assert live(a.reattach()) == set(range(10))
        # ... and swept by the next maintenance op, which writes a real g1
        a.maintain(idx)
        assert idx.generation == 1
        assert not os.path.exists(os.path.join(root, "g1", "junk"))
        # N−1 retention: after a second op g1 stays for readers that
        # resolved the old pointer; g0 is gone
        a.maintain(idx)
        assert idx._store.generations() == {1, 2}
        back = a.reattach()
        assert back.generation == 2 and live(back) == set(range(10))
        # a prior index is refused too, and wiped whole under overwrite
        with pytest.raises(ValueError, match="non-empty"):
            a.start(range(20, 25))
        idx = a.start(range(20, 25), overwrite=True)
        assert idx.generation == 0 and idx._store.generations() == {0}
        assert live(a.reattach()) == set(range(20, 25))
    finally:
        a.drop()


def test_lsh_first_epoch_failure_keeps_prior_index(spark, tmp_path):
    """The destructive fresh-start wipe of overwrite_index=True runs only
    after the first epoch's emission has materialized: an emission that
    fails leaves the prior index at the path intact, and a resume=True
    incarnation still attaches to it and serves its content."""
    from storm_spark.functions.dedup import IncrementalLSHIndex

    a = _LSH(spark, str(tmp_path / "idx"))
    try:
        a.start(range(10))
        doomed = IncrementalLSHIndex(
            "doc_id", "text", overwrite_index=True, emit="edges", **a.kw
        )
        doomed._star_edges = lambda frame: frame.select(
            F.raise_error(F.lit("injected emission failure")).cast("long").alias("id_a"),
            F.col("__id__").alias("id_b"),
        )
        with pytest.raises(Exception, match="injected emission failure"):
            doomed.add_docs(a._docs(range(10, 20)))
        res = a.reattach()
        assert _ids(spark, res, a.col) == set(range(10))
        with pytest.raises(ValueError, match="already indexed"):
            res.add_docs(a._docs([3]))
        res.add_docs(a._docs(range(10, 20)))
        assert len(_ids(spark, res, a.col)) == 20
    finally:
        a.drop()


@pytest.mark.parametrize("kind", [_LSH, _IVF], ids=["lsh", "ivf"])
def test_id_guard_contract(spark, tmp_path, kind):
    """Precedence of the shared id guards when several fail at once, and
    that a refused call writes nothing."""
    a = kind(spark, str(tmp_path / "idx"))
    try:
        idx = a.start(range(10))
        a.remove(idx, [3])
        # a within-batch duplicate (11) outranks a re-sent id (5)
        with pytest.raises(ValueError, match="more than once"):
            a.add(idx, [11, 11, 5])
        # a tombstoned id is still in the ids sidecar until a compaction:
        # re-sent outranks tombstoned, which a trusted feed still hits
        with pytest.raises(ValueError, match="already indexed"):
            a.add(idx, [3, 12])
        with pytest.raises(ValueError, match="is tombstoned"):
            a.add(idx, [3, 12], enforce_unique=False)
        # an unknown id (99) outranks a double delete (3)
        with pytest.raises(ValueError, match="not indexed"):
            a.remove(idx, [99, 3])
        assert _ids(spark, idx, a.col) == set(range(10))
        tombs = idx._store.tombstones(spark)
        assert {r[0] for r in tombs.collect()} == {3}
    finally:
        a.drop()
