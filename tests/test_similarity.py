"""Similarity search: exact brute-force vs LSH and IVF approximate paths."""

import math
import random

import pytest
from pyspark.sql import functions as F

from storm_spark.functions import similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(7)
    dim = 16
    base = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a deliberate near-duplicate of each base vector (tiny perturbation)
        rows.append((100 + i, [float(x + rng.uniform(-0.01, 0.01)) for x in v]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_cosine_topk_matches_python(vectors):
    data = {r.vec_id: list(r.embedding) for r in vectors.collect()}
    qs = vectors.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(vectors, qs, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    for qid, rows in by_q.items():
        rows.sort()
        exact = sorted(
            ((_cos(data[qid], v), -nid) for nid, v in data.items() if nid != qid),
            reverse=True,
        )[:3]
        for (rank, nid, sim), (esim, enid) in zip(rows, exact):
            assert nid == -enid
            assert abs(sim - esim) < 1e-5
        # the planted near-duplicate must be the top neighbor
        assert rows[0][1] == 100 + qid


def test_ivf_topk_finds_planted_duplicates(vectors):
    qs = vectors.filter(F.col("vec_id") < 10)
    got = similarity.ivf_topk(vectors, qs, k=1, n_lists=8, n_probe=3).collect()
    top = {r.query_id: r.neighbor_id for r in got}
    # the near-duplicate sits in the same Voronoi cell as its base vector,
    # so IVF must recover it for every query
    hits = sum(1 for q, n in top.items() if n == 100 + q)
    assert hits == 10


def test_ivf_deterministic(vectors):
    qs = vectors.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, similarity.ivf_topk(vectors, qs, k=3).collect()))
    b = sorted(map(tuple, similarity.ivf_topk(vectors, qs, k=3).collect()))
    assert a == b


def test_lsh_bucket_topk_subset_of_exact_ranking(vectors):
    qs = vectors.filter(F.col("vec_id") < 5)
    data = {r.vec_id: list(r.embedding) for r in vectors.collect()}
    got = similarity.lsh_bucket_topk(vectors, qs, k=3, n_planes=4, n_tables=2, dim=16).collect()
    for r in got:
        # every reported similarity must equal the true cosine (re-rank is exact)
        assert abs(r.cos_sim - _cos(data[r.query_id], data[r.neighbor_id])) < 1e-5


def test_lsh_requires_dim(vectors):
    with pytest.raises(ValueError, match="dim is required"):
        similarity.lsh_bucket_topk(vectors, vectors, k=3)
    with pytest.raises(ValueError, match="dim is required"):
        similarity.embedding_near_dup_pairs(vectors)


def test_multi_table_lsh_recall_beats_single_table(vectors):
    """OR-construction recall: union of candidates over L independent tables
    finds strictly more of the exact top-k than any one table, and every
    planted near-duplicate pair must surface with enough tables."""
    qs = vectors.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(vectors, qs, k=1).collect()
    }

    def recall(n_tables):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.lsh_bucket_topk(
                vectors, qs, k=1, n_planes=6, n_tables=n_tables, dim=16
            ).collect()
        }
        return len(exact & got) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    # planted duplicates have cosine ~0.9998 (agree on ~99.5% of planes):
    # 4 tables of 6 planes give each pair P(miss) < 1e-5
    assert r4 == 1.0


def test_embedding_near_dup_multi_table_finds_planted(vectors):
    got = similarity.embedding_near_dup_pairs(
        vectors, threshold=0.99, n_planes=6, n_tables=4, dim=16
    ).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    planted = {(i, 100 + i) for i in range(40)}
    assert planted <= pairs


def test_quantize_embeddings_roundtrip_accuracy(vectors):
    q = similarity.quantize_embeddings(vectors)
    rows = q.select("vec_id", "embedding", "q_embedding", "q_embedding_scale").collect()
    for r in rows:
        deq = [x * r.q_embedding_scale for x in r.q_embedding]
        for orig, d in zip(r.embedding, deq):
            assert abs(orig - d) <= r.q_embedding_scale / 2 + 1e-9  # half-ULP bound
        assert all(-127 <= x <= 127 for x in r.q_embedding)


def test_quantized_cosine_close_to_exact(vectors):
    from pyspark.sql import functions as F

    q = similarity.quantize_embeddings(vectors).filter(F.col("vec_id") < 10)
    a = q.alias("a").crossJoin(q.alias("b")).filter(F.col("a.vec_id") < F.col("b.vec_id"))
    out = a.select(
        similarity.cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("exact"),
        similarity.dequantized_cosine(
            F.col("a.q_embedding"), F.col("b.q_embedding")
        ).alias("approx"),
    ).collect()
    assert out
    for r in out:
        assert abs(r.exact - r.approx) < 0.02


@pytest.fixture(scope="module")
def clustered_vectors(spark):
    """4 well-separated gaussian-ish clusters whose members arrive
    INTERLEAVED by id — first-k-by-id init lands several centroids in the
    same cluster, which trained centroids must fix."""
    rng = random.Random(11)
    dim = 8
    centers = [[rng.choice([-5.0, 5.0]) for _ in range(dim)] for _ in range(4)]
    rows = []
    for i in range(80):
        c = centers[i % 4]
        rows.append((i, [float(x + rng.uniform(-0.3, 0.3)) for x in c]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_centroids_shape_and_determinism(clustered_vectors):
    a = similarity.kmeans_centroids(clustered_vectors, k=4, n_iters=3)
    b = similarity.kmeans_centroids(clustered_vectors, k=4, n_iters=3)
    ra, rb = (sorted(map(tuple, d.collect())) for d in (a, b))
    assert ra == rb
    assert len(ra) == 4
    assert all(len(v) == 8 for _, v in ra)


def test_kmeans_recovers_cluster_structure(clustered_vectors):
    """After training, each of the 4 planted clusters owns exactly one
    centroid: every member's nearest centroid agrees with its cluster, and
    mean cosine-to-nearest-centroid beats the untrained first-k init."""
    data = {r.vec_id: list(r.embedding) for r in clustered_vectors.collect()}
    trained = similarity.kmeans_centroids(clustered_vectors, k=4, n_iters=5)
    cents = {r["cent_id"]: list(r["__cent__"]) for r in trained.collect()}

    def nearest(v, cmap):
        return max(cmap, key=lambda cid: _cos(v, cmap[cid]))

    by_cluster = {}
    for vid, v in data.items():
        by_cluster.setdefault(vid % 4, set()).add(nearest(v, cents))
    # one distinct centroid per planted cluster, no sharing
    owners = [next(iter(s)) for s in by_cluster.values()]
    assert all(len(s) == 1 for s in by_cluster.values())
    assert len(set(owners)) == 4

    init = {
        i: data[i] for i in sorted(data)[:4]  # ivf_topk's default first-k init
    }
    mean_cos = lambda cmap: sum(
        max(_cos(v, c) for c in cmap.values()) for v in data.values()
    ) / len(data)
    assert mean_cos(cents) > mean_cos(init)


def test_ivf_with_trained_centroids_recall(clustered_vectors):
    """Plugging kmeans centroids into ivf_topk: with 1-probe the trained
    cells must recover every query's exact nearest neighbor (same-cluster
    neighbors land in the same Voronoi cell); the untrained first-k init
    cannot, since ids interleave clusters."""
    qs = clustered_vectors.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(clustered_vectors, qs, k=1).collect()
    }
    trained = similarity.kmeans_centroids(clustered_vectors, k=4, n_iters=5)
    got = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            clustered_vectors, qs, k=1, n_probe=1, centroids=trained
        ).collect()
    }
    assert exact == got


def test_semantic_dedup_keeps_one_per_group(spark):
    from storm_spark.functions import similarity

    # vectors 10 and 11 are identical (cosine 1.0) and land in the same
    # cell; 12 is orthogonal. Centroids default to the 2 smallest-id rows.
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (10, [0.9, 0.1, 0.0, 0.0]),
            (11, [0.9, 0.1, 0.0, 0.0]),
            (12, [0.0, 0.0, 1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    # threshold above cos(10, centroid-row 1) ~= 0.9939 — centroid rows are
    # corpus rows too, so a looser threshold would also prune 10 against 1
    out = similarity.semantic_dedup(
        df, "vec_id", "embedding", n_clusters=2, threshold=0.999
    )
    survivors = {r.vec_id for r in out.collect()}
    # 11 is the only drop: identical (cos 1.0) to lower-id 10 in the same cell
    assert survivors == {1, 2, 10, 12}


def test_semantic_dedup_cross_cell_dups_survive(spark):
    from storm_spark.functions import similarity

    # identical vectors in DIFFERENT cells both survive (the SemDeDup
    # contract: pruning is within-cluster only)
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.3]),   # cell of 1 (cos to its centroid ~0.958 < 0.99)
            (4, [0.3, 1.0]),   # cell of 2 — never compared against 3
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = similarity.semantic_dedup(df, "vec_id", "embedding", n_clusters=2, threshold=0.99)
    assert {r.vec_id for r in out.collect()} == {1, 2, 3, 4}


def test_lsh_recall_formula():
    from storm_spark.functions.similarity import lsh_recall

    # identical vectors always collide
    assert lsh_recall(1.0, 8, 1) == 1.0
    # more tables -> more recall; more planes -> less (per table)
    assert lsh_recall(0.8, 6, 4) > lsh_recall(0.8, 6, 1)
    assert lsh_recall(0.8, 10, 1) < lsh_recall(0.8, 6, 1)
    # tracks the measured table in SCALE.md (6-plane, random near-orthogonal
    # corpus whose best pairs sit near cos 0.5): L=1 measured 0.07
    assert 0.05 < lsh_recall(0.5, 6, 1) < 0.12


def test_choose_lsh_params_meets_target():
    from storm_spark.functions.similarity import choose_lsh_params, lsh_recall

    planes, tables = choose_lsh_params(0.9, at_cos=0.9, max_candidate_frac=0.01)
    assert lsh_recall(0.9, planes, tables) >= 0.9
    assert 2.0 ** -planes <= 0.01
    with pytest.raises(ValueError):
        choose_lsh_params(0.999, at_cos=0.2, max_candidate_frac=0.0001, max_tables=2)


def test_prototype_prune_keeps_hard_tail(spark):
    """Per-cluster drop of the most prototypical fraction: with one tight
    core + one off-axis straggler per cluster, the straggler must survive
    and the dropped rows must be core members (highest cosine to the
    centroid = lowest information)."""
    from storm_spark.functions.similarity import prototype_prune

    # two orthogonal clusters; centroids default to smallest-id vectors so
    # id 0 anchors cluster A (x-axis) and id 1 anchors cluster B (y-axis)
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    for i in range(2, 10):  # core of A: tiny wiggles around x-axis
        rows.append((i, [1.0, 0.001 * i, 0.0]))
    rows.append((20, [0.6, 0.0, 0.8]))  # A's hard straggler
    for i in range(21, 29):  # core of B
        rows.append((i, [0.001 * i, 1.0, 0.0]))
    rows.append((40, [0.0, 0.6, 0.8]))  # B's hard straggler
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = prototype_prune(df, "vec_id", "embedding", n_clusters=2, drop_frac=0.3)
    kept = {r.vec_id: r for r in out.collect()}
    # stragglers always survive (their cosine to the centroid is lowest)
    assert 20 in kept and 40 in kept
    # drop count per cell = floor(0.3 * 10) = 3 -> 7 survivors per cell
    from collections import Counter

    per_cell = Counter(r.cell for r in kept.values())
    assert sorted(per_cell.values()) == [7, 7]
    # ranks of survivors are the tail ranks 4..10, and n_cell is pre-prune
    for r in kept.values():
        assert 3 < r.rank <= 10 and r.n_cell == 10
    # the stragglers rank dead last in their cells
    assert kept[20].rank == 10 and kept[40].rank == 10


def test_prototype_prune_zero_frac_and_validation(spark):
    from storm_spark.functions.similarity import prototype_prune

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        "vec_id bigint, embedding array<double>",
    )
    assert prototype_prune(df, n_clusters=2, drop_frac=0.0).count() == 3
    import pytest as _pt

    with _pt.raises(ValueError):
        prototype_prune(df, n_clusters=2, drop_frac=1.0)


def test_quantized_rescore_recall_and_exactness(vectors):
    """Two-stage rescore: (a) returned cos_sim values are the EXACT
    full-precision cosines (re-rank reads the float column), (b) recall@k
    vs brute-force is effectively total at coarse_m a few multiples of k —
    int8 cosine sits within ~1e-2 of exact."""
    from storm_spark.functions.similarity import cosine_topk, quantized_rescore_topk

    emb = vectors
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, "vec_id", "embedding", k=5)
    resc = quantized_rescore_topk(emb, q, "vec_id", "embedding", k=5, coarse_m=25)
    ex = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact.collect()}
    rs = {(r.query_id, r.neighbor_id): r.cos_sim for r in resc.collect()}
    hits = set(ex) & set(rs)
    recall = len(hits) / len(ex)
    assert recall >= 0.9, recall
    # where both agree on the neighbor, the similarity is identical (not
    # the quantized approximation)
    for key in hits:
        assert ex[key] == rs[key]


def test_quantized_rescore_coarse_bound(spark):
    """coarse_m bounds the exact-stage work: with coarse_m < k the final
    output can never exceed coarse_m rows per query."""
    from storm_spark.functions.similarity import quantized_rescore_topk

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.filter("vec_id < 3")
    out = quantized_rescore_topk(df, q, "vec_id", "embedding", k=10, coarse_m=4)
    from collections import Counter

    per_q = Counter(r.query_id for r in out.collect())
    assert all(v == 4 for v in per_q.values()), per_q


def test_centroid_classify_separable(spark):
    """Two well-separated label clusters classify perfectly — confusion
    matrix is diagonal and counts preserve the input."""
    from storm_spark.functions.similarity import centroid_classify

    rows = [
        (1, [1.0, 0.0, 0.1], 0), (2, [0.9, 0.1, 0.0], 0), (3, [1.1, 0.0, 0.0], 0),
        (4, [0.0, 1.0, 0.1], 1), (5, [0.1, 0.9, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = {(r.label, r.pred): r.n for r in
           centroid_classify(df, "vec_id", "embedding", "label").collect()}
    assert out == {(0, 0): 3, (1, 1): 2}


def test_centroid_classify_tie_breaks_smaller_label(spark):
    """A vector exactly between two identical-cosine centroids goes to the
    SMALLER label (deterministic argmax)."""
    from storm_spark.functions.similarity import centroid_classify

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [1.0, 1.0], 2),  # equidistant from both axis centroids
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = {(r.label, r.pred): r.n for r in
           centroid_classify(df, "vec_id", "embedding", "label").collect()}
    # label-2's centroid is [1,1] itself -> cos 1.0, so it stays label 2;
    # axis vectors match their own centroids with cos below 1 vs label 2's
    # 0.707... check totals are preserved and each vector got ONE pred
    assert sum(out.values()) == 3


def test_centroid_classify_zero_vector_guarded(spark):
    """An all-zeros embedding must classify (to the smallest label via the
    zero-norm floor), not throw DIVIDE_BY_ZERO."""
    from storm_spark.functions.similarity import centroid_classify

    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1), (3, [0.0, 0.0], 1)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")
    out = centroid_classify(df, "vec_id", "embedding", "label").collect()
    assert sum(r.n for r in out) == 3


def test_ivf_pq_index_persist_matches_inflight(clustered_vectors, tmp_path, spark):
    """IVFPQIndex (r10 stretch): build → write → LOAD IN A FRESH SESSION
    → search must equal the in-flight ivf_pq_topk composition exactly —
    persistence (and the partition-pruned code layout) is invisible in
    the answer. Guards: non-empty path refused without overwrite;
    loading a non-index path fails loudly."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    queries = corpus.filter(F.col("vec_id") < 8)
    cbs = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
    expect = sorted(
        map(
            tuple,
            similarity.ivf_pq_topk(
                corpus, queries, cbs, "vec_id", "embedding",
                k=3, n_lists=4, n_probe=2, shortlist=10,
            ).collect(),
        )
    )
    path = str(tmp_path / "annidx")
    similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4, n_iters=1
    )
    ns = spark.newSession()
    idx = similarity.IVFPQIndex.load(path)
    q2 = ns.createDataFrame(queries.collect(), queries.schema)
    got = sorted(
        map(tuple, idx.search(q2, k=3, n_probe=2, shortlist=10).collect())
    )
    assert got == expect

    with _pytest.raises(ValueError, match="non-empty"):
        similarity.IVFPQIndex(path, "vec_id", "embedding").build(corpus)
    with _pytest.raises(ValueError, match="missing"):
        similarity.IVFPQIndex.load(str(tmp_path))


def test_ivf_pq_index_add_vectors_equals_full_build(clustered_vectors, tmp_path, spark):
    """add_vectors parity: build on half the corpus, absorb the other
    half against the FROZEN stored quantizers — search must equal the
    index built over the full corpus with the same quantizers."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    queries = corpus.filter(F.col("vec_id") < 8)
    cbs = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
    cents = similarity._ivf_default_centroids(corpus, "vec_id", "embedding", 4)
    kw = dict(m=4, ksub=4, n_lists=4, centroids=cents, codebooks=cbs)
    full = similarity.IVFPQIndex(str(tmp_path / "full"), "vec_id", "embedding").build(
        corpus, **kw
    )
    half = F.pmod(F.col("vec_id"), F.lit(2))
    grown = similarity.IVFPQIndex(str(tmp_path / "grown"), "vec_id", "embedding").build(
        corpus.filter(half == 0), **kw
    )
    grown.add_vectors(corpus.filter(half == 1))
    args = dict(k=3, n_probe=2, shortlist=10)
    a = sorted(map(tuple, full.search(queries, **args).collect()))
    b = sorted(map(tuple, grown.search(queries, **args).collect()))
    assert a == b

    with _pytest.raises(ValueError, match="not built"):
        similarity.IVFPQIndex(str(tmp_path / "x")).add_vectors(corpus)


def test_ivf_pq_index_add_vectors_guards(clustered_vectors, tmp_path, spark):
    """add_vectors enforces exactly-once ids loudly (a silent re-append
    would double the re-sent id's summed ADC score), and build() refuses
    pre-trained codebooks whose shape contradicts (m, ksub)."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    idx = similarity.IVFPQIndex(str(tmp_path / "g"), "vec_id", "embedding").build(
        corpus.filter(F.col("vec_id") < 40), m=4, ksub=4, n_lists=4
    )
    with _pytest.raises(ValueError, match="already indexed"):
        idx.add_vectors(corpus.filter(F.col("vec_id") < 10))
    dup = corpus.filter(F.col("vec_id").isin(50, 51)).unionByName(
        corpus.filter(F.col("vec_id") == 50)
    )
    with _pytest.raises(ValueError, match="more than once"):
        idx.add_vectors(dup)
    cbs8 = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=8, ksub=4, n_iters=1)
    with _pytest.raises(ValueError, match="does not match"):
        similarity.IVFPQIndex(str(tmp_path / "bad"), "vec_id", "embedding").build(
            corpus, m=4, ksub=4, codebooks=cbs8
        )


def test_ivf_pq_index_remove_vectors_and_compact(clustered_vectors, tmp_path, spark):
    """Deletion lifecycle: remove_vectors tombstones ids (search answers
    as if they were never indexed — the filtered full-build is the
    oracle), compact() physically drops them and collapses add_vectors'
    small-file accretion to one file per cell partition, and the
    POST-compact answer equals the PRE-compact (tombstone-path) answer.
    After compact the freed ids become indexable again."""
    import glob
    import os

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    queries = corpus.filter(F.col("vec_id") < 8)
    dele = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    cbs = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
    cents = similarity._ivf_default_centroids(corpus, "vec_id", "embedding", 4)
    kw = dict(m=4, ksub=4, n_lists=4, centroids=cents, codebooks=cbs)
    args = dict(k=3, n_probe=2, shortlist=10)

    # oracle: an index BUILT without the deleted ids, same frozen quantizers
    never = similarity.IVFPQIndex(str(tmp_path / "never"), "vec_id", "embedding").build(
        corpus.join(dele, "vec_id", "anti"), **kw
    )
    expect = sorted(map(tuple, never.search(queries, **args).collect()))

    # grown in 3 deltas so compact() has small files to collapse
    path = str(tmp_path / "live")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus.filter(F.col("vec_id") % 3 == 0), **kw
    )
    idx.add_vectors(corpus.filter(F.col("vec_id") % 3 == 1))
    idx.add_vectors(corpus.filter(F.col("vec_id") % 3 == 2))
    idx.remove_vectors(dele)

    pre = sorted(map(tuple, idx.search(queries, **args).collect()))
    assert pre == expect  # tombstone path

    files_before = len(glob.glob(os.path.join(idx._store.path("codes"), "**", "*.parquet"),
                                 recursive=True))
    idx.compact()
    post = sorted(map(tuple, idx.search(queries, **args).collect()))
    assert post == expect  # rewritten generation
    # the compacted content is a NEW generation behind the atomic
    # pointer flip (crash-atomic; old files survive until the next sweep)
    assert idx.generation == 1
    gen_codes = idx._store.path("codes")
    files_after = len(glob.glob(os.path.join(gen_codes, "**", "*.parquet"),
                                recursive=True))
    cells = len(glob.glob(os.path.join(gen_codes, "__cell__=*")))
    assert files_after == cells < files_before
    # the new generation carries no tombstone sidecar (it stayed with g0)
    assert not os.path.isdir(idx._store.path("tombstones"))
    # tombstoned rows are physically gone
    vec_ids = {
        r.neighbor_id
        for r in spark.read.parquet(idx._store.path("vectors")).collect()
    }
    gone = {r.vec_id for r in dele.collect()}
    assert not (vec_ids & gone)
    # the freed ids are indexable again after compact
    idx.add_vectors(corpus.join(dele, "vec_id", "semi"))
    assert sorted(
        map(tuple, idx.search(queries, **args).collect())
    ) == sorted(
        map(
            tuple,
            similarity.IVFPQIndex(str(tmp_path / "full"), "vec_id", "embedding")
            .build(corpus, **kw)
            .search(queries, **args)
            .collect(),
        )
    )


def test_ivf_pq_index_remove_vectors_guards(clustered_vectors, tmp_path):
    """Loud-failure contract: deleting an unknown id, the same id twice
    (in one batch or across batches), or from an unbuilt index raises;
    a tombstoned id stays reserved against add_vectors until compact."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    idx = similarity.IVFPQIndex(str(tmp_path / "g"), "vec_id", "embedding").build(
        corpus.filter(F.col("vec_id") < 40), m=4, ksub=4, n_lists=4
    )
    spark = corpus.sparkSession
    one = spark.createDataFrame([(5,)], "vec_id bigint")
    with _pytest.raises(ValueError, match="not built"):
        similarity.IVFPQIndex(str(tmp_path / "x")).remove_vectors(one)
    with _pytest.raises(ValueError, match="not indexed"):
        idx.remove_vectors(spark.createDataFrame([(999,)], "vec_id bigint"))
    with _pytest.raises(ValueError, match="more than once"):
        idx.remove_vectors(spark.createDataFrame([(5,), (5,)], "vec_id bigint"))
    # empty delete batch refused (ADVICE r11 twin: it would pass every
    # guard vacuously and permanently materialize the tombstone sidecar,
    # taxing every later search/add with the anti-join for nothing)
    with _pytest.raises(ValueError, match="empty delete batch"):
        idx.remove_vectors(spark.createDataFrame([], "vec_id bigint"))
    import os as _os
    assert not _os.path.isdir(idx._store.path("tombstones"))
    idx.remove_vectors(one)
    with _pytest.raises(ValueError, match="already tombstoned"):
        idx.remove_vectors(one)
    # reserved until compact: re-adding the tombstoned id still raises
    with _pytest.raises(ValueError, match="already indexed"):
        idx.add_vectors(corpus.filter(F.col("vec_id") == 5))


def test_ivf_pq_index_search_prunes_code_partitions(spark, tmp_path):
    """The persisted index's serving claim, plan-pinned: the codes table
    is written PARTITIONED BY cell and search() pushes the distinct
    probed-cell set (<= n_lists values, a bounded fetch) as a STATIC
    partition IN-filter — so the scan PROVABLY reads only the probed
    cells' directories (dynamic partition pruning's benefit heuristic
    declines at small scale with dynamicpruningexpression(true); the
    static filter does not depend on it)."""
    import glob
    import random

    from storm_spark.functions import similarity

    rng = random.Random(3)
    rows = [
        (i, [float(rng.uniform(-1, 1)) for _ in range(8)]) for i in range(1500)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "dpp")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=16, n_iters=1
    )
    res = idx.search(corpus.filter(F.col("vec_id") < 4), k=3, n_probe=2, shortlist=10)
    got = res.collect()
    assert got
    plan = res._jdf.queryExecution().executedPlan().toString()
    pf = [
        m
        for m in __import__("re").findall(r"PartitionFilters: \[[^\]]*\]", plan)
        if "__cell__" in m and " IN " in m
    ]
    assert pf, plan[:2000]
    # the filter is real: probed cells < n_lists, so some partition dirs
    # must NOT appear in the filter's value list
    n_dirs = len(glob.glob(f"{idx._store.path('codes')}/__cell__=*"))
    listed = max(m.count(",") + 1 for m in pf)
    assert listed < n_dirs


def test_ivf_pq_index_tombstone_recovery_contract(clustered_vectors, tmp_path):
    """Crash-window semantics: a stale tombstone (clear failed or crashed
    after the rewrites) may DELAY a re-add — add_vectors refuses the id
    loudly and points at compact() — but can never silently hide a newly
    indexed vector. Also: tombstoning every remaining vector is refused
    (the emptied index would be a rebuild, not maintenance)."""
    import os

    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 20)
    spark = corpus.sparkSession
    idx = similarity.IVFPQIndex(str(tmp_path / "t"), "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    with _pytest.raises(ValueError, match="every remaining"):
        idx.remove_vectors(corpus.select("vec_id"))
    idx.remove_vectors(
        corpus.filter(F.col("vec_id").isin(5, 7)).select("vec_id")
    )
    idx.compact()  # ids 5 and 7 physically gone (new generation, g1)
    # a STALE tombstone on the serving generation (the rows are already
    # gone) still blocks the re-add loudly — and the next compact's
    # generation flip leaves it behind, freeing the id (the pending
    # sidecar stays with its generation; no separate clear step to lose)
    spark.createDataFrame([(7,)], "neighbor_id bigint").write.parquet(
        idx._store.path("tombstones")
    )
    with _pytest.raises(ValueError, match="tombstoned"):
        idx.add_vectors(clustered_vectors.filter(F.col("vec_id") == 7))
    idx.compact()
    idx.add_vectors(clustered_vectors.filter(F.col("vec_id").isin(5, 7)))


def test_ivf_pq_index_add_crash_between_writes_is_safe(clustered_vectors, tmp_path):
    """_encode_and_write's ordering claim, simulated: the write order is
    ids → vectors → codes, so a crash before the codes append leaves an
    id in ids/ and vectors/ without codes — (a) search results are
    UNCHANGED (the id is simply absent from the ADC scan, never a wrong
    answer) and (b) the interrupted batch's REPLAY raises loudly on the
    duplicate id instead of silently double-indexing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F2

    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 40)
    late = clustered_vectors.filter(F.col("vec_id") == 77)
    idx = similarity.IVFPQIndex(str(tmp_path / "cw"), "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    queries = corpus.filter(F.col("vec_id") < 4)
    args = dict(k=3, n_probe=2, shortlist=10)
    before = sorted(map(tuple, idx.search(queries, **args).collect()))

    # simulate the crash: the ids and vectors appends landed, codes didn't
    (
        late.select(
            F2.col("vec_id").alias("neighbor_id"),
            F2.pmod(F2.xxhash64(F2.col("vec_id")), F2.lit(idx.id_buckets)).alias(
                "__idb__"
            ),
        )
        .write.mode("append")
        .partitionBy("__idb__")
        .parquet(idx._store.path("ids"))
    )
    late.select(
        F2.col("vec_id").alias("neighbor_id"),
        F2.col("embedding").cast("array<double>").alias("__cv__"),
    ).write.mode("append").parquet(idx._store.path("vectors"))

    after = sorted(map(tuple, idx.search(queries, **args).collect()))
    assert after == before  # dangling vector row is invisible, never wrong

    with _pytest.raises(ValueError, match="already indexed"):
        idx.add_vectors(late)  # the replay fails loudly


def test_ivf_pq_index_tombstone_check_runs_without_enforce_unique(
    clustered_vectors, tmp_path
):
    """The tombstone-reservation check is UNCONDITIONAL (r10 ADVICE):
    even a trusted exactly-once feed (enforce_unique=False) must not
    re-add a tombstoned id — the re-added rows would be anti-joined out
    of every search and then physically deleted by the next compact(),
    i.e. silent data loss, not a dedup question."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 20)
    idx = similarity.IVFPQIndex(str(tmp_path / "tu"), "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    idx.remove_vectors(corpus.filter(F.col("vec_id") == 5).select("vec_id"))
    with _pytest.raises(ValueError, match="tombstoned"):
        idx.add_vectors(
            clustered_vectors.filter(F.col("vec_id") == 5), enforce_unique=False
        )
    # the trusted path still skips the duplicate-id scans: a brand-new id
    # lands without touching the stored id column
    idx.add_vectors(
        clustered_vectors.filter(F.col("vec_id") == 77), enforce_unique=False
    )


def test_ivf_pq_index_search_empty_queries_short_circuits(
    clustered_vectors, tmp_path
):
    """An empty query set returns an explicitly empty frame with the
    exact output schema (query_id, neighbor_id, cos_sim, rank) — the
    degenerate isin([]) pipeline is short-circuited (r10 ADVICE)."""
    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 20)
    idx = similarity.IVFPQIndex(str(tmp_path / "eq"), "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    out = idx.search(corpus.filter(F.col("vec_id") < 0), k=3)
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert out.count() == 0
    nonempty = idx.search(corpus.filter(F.col("vec_id") < 2), k=3)
    assert out.schema == nonempty.schema


def test_ivf_pq_index_exactly_once_check_is_partition_pruned(spark, tmp_path):
    """The add_vectors/remove_vectors exactly-once scan is DELTA-SIZED by
    plan (r11, VERDICT r10 #3): the ids/ sidecar is hash-partitioned and
    the check pushes the delta's touched buckets as a static partition
    IN-filter, so the scan provably reads only those directories — never
    an index-wide id column scan."""
    import glob
    import random
    import re

    from storm_spark.functions import similarity

    rng = random.Random(7)
    rows = [(i, [float(rng.uniform(-1, 1)) for _ in range(8)]) for i in range(800)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idsprune")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4, n_iters=1
    )
    delta = spark.createDataFrame(
        [(9001, rows[0][1])], "vec_id bigint, embedding array<float>"
    ).select(F.col("vec_id").alias("neighbor_id"), "embedding")
    pruned = idx._store.read_ids(spark, "neighbor_id", idx.id_buckets, delta)
    assert pruned.count() >= 0  # force execution so the plan is final
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = [
        m
        for m in re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
        if "__idb__" in m and ("IN" in m or "=" in m)
    ]
    assert pf, plan[:2000]
    n_dirs = len(glob.glob(f"{idx._store.path('ids')}/__idb__=*"))
    assert n_dirs > 1  # multiple buckets exist, the filter has teeth
    # one delta id touches exactly one bucket — far fewer than all dirs
    listed = max(m.count(",") + 1 for m in pf)
    assert listed < n_dirs


def test_ivf_pq_index_compact_heals_dangling_sidecar_id(clustered_vectors, tmp_path):
    """Crash window between an add's ids and vectors writes: the dangling
    sidecar id makes the replay raise loudly (ids-first ordering), and
    compact() rebuilds ids/ from vectors, freeing the id."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F2

    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 40)
    late = clustered_vectors.filter(F.col("vec_id") == 77)
    path = str(tmp_path / "heal")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    # simulate the crash: only the ids append landed
    (
        late.select(
            F2.col("vec_id").alias("neighbor_id"),
            F2.pmod(F2.xxhash64(F2.col("vec_id")), F2.lit(idx.id_buckets)).alias(
                "__idb__"
            ),
        )
        .write.mode("append")
        .partitionBy("__idb__")
        .parquet(idx._store.path("ids"))
    )
    # the replay fails loudly, never double-scores — and since the id is
    # DANGLING (sidecar only, no vector), the message points the operator
    # at compact(), the actual remedy (ADVICE r11), not at a replay bug
    with _pytest.raises(ValueError, match="compact\\(\\) to heal"):
        idx.add_vectors(late)
    idx.compact()  # rebuilds ids/ from vectors — the dangling id is freed
    idx.add_vectors(late)
    # a TRUE replay (vector present) still raises the already-indexed form
    with _pytest.raises(ValueError, match="already indexed"):
        idx.add_vectors(late)


def test_ivf_pq_index_retrain_equals_fresh_build(clustered_vectors, tmp_path, spark):
    """retrain() (r11 quantizer refresh): build with stale quantizers
    (trained on half the corpus), absorb the rest, retrain — the answer
    must equal a FRESH full-corpus build verbatim (defaults reproduce
    build's training), the old generation SURVIVES the flip (r12 reader-
    continuity contract: reclamation defers to the next retrain), and a
    fresh session load serves the new generation."""
    import os

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    q = corpus.filter(F.col("vec_id") < 8)
    args = dict(k=3, n_probe=2, shortlist=10)
    fresh = similarity.IVFPQIndex(
        str(tmp_path / "fresh"), "vec_id", "embedding"
    ).build(corpus, m=4, ksub=4, n_lists=4, n_iters=1)
    want = sorted(map(tuple, fresh.search(q, **args).collect()))

    half = F.pmod(F.col("vec_id"), F.lit(2))
    stale_half = corpus.filter(half == 0)
    cbs = similarity.pq_codebooks(
        stale_half, "vec_id", "embedding", m=4, ksub=4, n_iters=1
    )
    cents = similarity._ivf_default_centroids(stale_half, "vec_id", "embedding", 4)
    path = str(tmp_path / "drift")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        stale_half, m=4, ksub=4, n_lists=4, centroids=cents, codebooks=cbs
    )
    idx.add_vectors(corpus.filter(half == 1))
    idx.retrain(n_iters=1)
    assert idx.generation == 1
    got = sorted(map(tuple, idx.search(q, **args).collect()))
    assert got == want
    # the old generation is NOT reclaimed at the flip: a cross-process
    # reader that load()ed the pre-flip pointer keeps resolving g0's
    # parquet — it must still be fully readable. N−1 generations survive
    # on disk.
    assert os.path.isdir(os.path.join(path, "g0", "vectors"))
    assert os.path.isdir(os.path.join(path, "g0", "codes"))
    old_reader = similarity.IVFPQIndex(path, "vec_id", "embedding")
    for k_ in ("m", "ksub", "n_lists", "sub_len"):
        setattr(old_reader, k_, getattr(idx, k_))
    old_reader._store.generation = 0  # the pre-flip pointer a reader held
    assert len(old_reader.search(q, **args).collect()) > 0
    ns = spark.newSession()
    idx2 = similarity.IVFPQIndex.load(path)
    q2 = ns.createDataFrame(q.collect(), q.schema)
    assert sorted(map(tuple, idx2.search(q2, **args).collect())) == want
    # the NEXT retrain's orphan sweep reclaims the old generation
    idx.retrain(n_iters=1)
    assert idx.generation == 2
    assert not os.path.isdir(os.path.join(path, "g0"))
    assert sorted(map(tuple, idx.search(q, **args).collect())) == want


def test_ivf_pq_index_retrain_applies_deletes_and_frees_ids(
    clustered_vectors, tmp_path
):
    """retrain() applies pending tombstones like compact(): the new
    generation answers as an index never containing the removed ids,
    carries no tombstone sidecar, and the freed ids become indexable."""
    import os

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    q = corpus.filter(F.col("vec_id") < 8)
    args = dict(k=3, n_probe=2, shortlist=10)
    surv = corpus.filter(~F.col("vec_id").isin(9, 13))
    fresh = similarity.IVFPQIndex(
        str(tmp_path / "survfresh"), "vec_id", "embedding"
    ).build(surv, m=4, ksub=4, n_lists=4, n_iters=1)
    want = sorted(map(tuple, fresh.search(q, **args).collect()))

    path = str(tmp_path / "deltrain")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4, n_iters=1
    )
    idx.remove_vectors(corpus.filter(F.col("vec_id").isin(9, 13)).select("vec_id"))
    idx.retrain(n_iters=1)
    got = sorted(map(tuple, idx.search(q, **args).collect()))
    assert got == want
    assert not os.path.isdir(os.path.join(path, "g1", "tombstones"))
    idx.add_vectors(corpus.filter(F.col("vec_id") == 9))  # freed id


def test_train_sample_bounds_and_reproduces(clustered_vectors, tmp_path):
    """train_sample (r12, VERDICT r11 #2): (a) a sample >= the corpus is
    exactly full-corpus training; (b) a bounding sample equals training
    on the explicitly-materialized md5-top-N subset (the oracle's CTE
    claim); (c) IVFPQIndex.build records the choice in the meta, a
    loaded index reports it, and retrain()'s default reproduces it —
    sampled stale-build → retrain equals a fresh sampled build."""
    import pytest as _pytest

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    n = corpus.count()
    # (a) sample >= corpus ≡ no sampling
    full = similarity.kmeans_centroids(corpus, "vec_id", "embedding", k=4, n_iters=2)
    capped = similarity.kmeans_centroids(
        corpus, "vec_id", "embedding", k=4, n_iters=2, train_sample=n + 10
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, capped.collect()))
    # (b) sampled training ≡ full training on the materialized sample
    sample = corpus.orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    ).limit(16)
    want = similarity.pq_codebooks(
        sample, "vec_id", "embedding", m=4, ksub=4, n_iters=1
    )
    got = similarity.pq_codebooks(
        corpus, "vec_id", "embedding", m=4, ksub=4, n_iters=1, train_sample=16
    )
    assert sorted(map(tuple, want.collect())) == sorted(map(tuple, got.collect()))
    with _pytest.raises(ValueError, match="train_sample"):
        similarity.kmeans_centroids(corpus, "vec_id", "embedding", k=8, train_sample=4)
    # (c) the index records and reproduces the choice
    q = corpus.filter(F.col("vec_id") < 8)
    args = dict(k=3, n_probe=2, shortlist=10)
    fresh = similarity.IVFPQIndex(
        str(tmp_path / "tsfresh"), "vec_id", "embedding"
    ).build(corpus, m=4, ksub=4, n_lists=4, n_iters=1, train_sample=16)
    want_s = sorted(map(tuple, fresh.search(q, **args).collect()))
    path = str(tmp_path / "tsdrift")
    half = F.pmod(F.col("vec_id"), F.lit(2))
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus.filter(half == 0), m=4, ksub=4, n_lists=4, n_iters=1, train_sample=16
    )
    idx.add_vectors(corpus.filter(half == 1))
    loaded = similarity.IVFPQIndex.load(path)
    assert loaded.train_sample == 16
    loaded.retrain(n_iters=1)  # default train_sample="stored" → 16
    assert loaded.train_sample == 16
    assert sorted(map(tuple, loaded.search(q, **args).collect())) == want_s


def test_ivf_pq_index_compact_retrain_interleave(clustered_vectors, tmp_path, spark):
    """compact() and retrain() share the generation machinery (r12):
    compact→retrain→delete→compact walks g1→g2→g3 with answers stable
    across every flip, train_sample reproduced from the meta at each
    step, a fresh load resolving the final generation, exactly N−1
    generations on disk (g2 kept for reader continuity, g1 swept)."""
    import os

    from storm_spark.functions import similarity

    corpus = clustered_vectors
    q = corpus.filter(F.col("vec_id") < 5)
    args = dict(k=3, n_probe=2, shortlist=10)
    path = str(tmp_path / "ilv")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4, train_sample=32
    )
    a = sorted(map(tuple, idx.search(q, **args).collect()))
    idx.compact()
    assert idx.generation == 1
    assert sorted(map(tuple, idx.search(q, **args).collect())) == a
    idx.retrain(n_iters=1)
    assert idx.generation == 2 and idx.train_sample == 32
    idx.remove_vectors(corpus.filter(F.col("vec_id") == 9).select("vec_id"))
    idx.compact()
    assert idx.generation == 3
    assert not any(
        r["neighbor_id"] == 9 for r in idx.search(q, **args).collect()
    )
    idx2 = similarity.IVFPQIndex.load(path)
    assert idx2.generation == 3 and idx2.train_sample == 32
    assert os.path.isdir(os.path.join(path, "g2"))  # N−1 kept
    assert not os.path.isdir(os.path.join(path, "g1"))  # older swept


def test_ivf_pq_index_retrain_crash_windows(clustered_vectors, tmp_path):
    """Crash-window contract: an orphan generation dir left by a crashed
    retrain (meta never flipped) is invisible — load serves the old
    generation, search answers are unchanged — and the next retrain
    sweeps it. A reshaping retrain (new m) re-encodes consistently."""
    import os

    from storm_spark.functions import similarity

    corpus = clustered_vectors.filter(F.col("vec_id") < 40)
    q = corpus.filter(F.col("vec_id") < 4)
    args = dict(k=3, n_probe=2, shortlist=10)
    path = str(tmp_path / "cwr")
    idx = similarity.IVFPQIndex(path, "vec_id", "embedding").build(
        corpus, m=4, ksub=4, n_lists=4
    )
    before = sorted(map(tuple, idx.search(q, **args).collect()))
    # simulate the crashed retrain: a half-written generation, no flip
    os.makedirs(os.path.join(path, "g1", "centroids"))
    idx2 = similarity.IVFPQIndex.load(path)
    assert idx2.generation == 0  # the pointer still names g0
    assert sorted(map(tuple, idx2.search(q, **args).collect())) == before
    idx2.retrain(n_iters=1)  # sweeps the orphan, builds a REAL g1
    assert idx2.generation == 1
    assert os.path.isdir(os.path.join(path, "g1", "codes"))
    got = sorted(map(tuple, idx2.search(q, **args).collect()))
    assert len(got) > 0
    # reshape: m=8 re-encodes with 8 subspaces under g2
    idx2.retrain(n_iters=1, m=8)
    assert idx2.generation == 2 and idx2.m == 8 and idx2.sub_len == 1
    assert idx2.search(q, **args).count() > 0


def test_ivf_pq_index_auto_compact_cadence(clustered_vectors, tmp_path, spark):
    """auto_compact_every=K (r13, VERDICT r12 #6): every K-th
    add_vectors triggers the crash-atomic generation-swap compact
    between serving turns — a months-long feed gets a stated
    small-file-maintenance story instead of relying on manual
    compact() calls. Search answers are invariant to the cadence."""
    import glob
    import os

    import pytest as _pytest

    from storm_spark.functions import similarity

    with _pytest.raises(ValueError, match="auto_compact_every"):
        similarity.IVFPQIndex(str(tmp_path / "x"), auto_compact_every=0)

    corpus = clustered_vectors
    queries = corpus.filter(F.col("vec_id") < 8)
    cbs = similarity.pq_codebooks(corpus, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
    cents = similarity._ivf_default_centroids(corpus, "vec_id", "embedding", 4)
    kw = dict(m=4, ksub=4, n_lists=4, centroids=cents, codebooks=cbs)
    full = similarity.IVFPQIndex(str(tmp_path / "full"), "vec_id", "embedding").build(
        corpus, **kw
    )
    third = F.pmod(F.col("vec_id"), F.lit(3))
    auto = similarity.IVFPQIndex(
        str(tmp_path / "auto"), "vec_id", "embedding", auto_compact_every=2
    ).build(corpus.filter(third == 0), **kw)
    assert auto.generation == 0  # build does not count as an absorb
    auto.add_vectors(corpus.filter(third == 1))
    assert auto.generation == 0  # 1st absorb: below cadence
    auto.add_vectors(corpus.filter(third == 2))
    assert auto.generation == 1  # 2nd absorb triggered the compact
    assert auto._absorbs_since_compact == 0  # counter reset
    # compacted vectors/ holds ONE file (n_files=1 default), not 3 appends
    vec_files = glob.glob(os.path.join(auto._store.path("vectors"), "*.parquet"))
    assert len(vec_files) == 1, vec_files
    args = dict(k=3, n_probe=2, shortlist=10)
    a = sorted(map(tuple, full.search(queries, **args).collect()))
    b = sorted(map(tuple, auto.search(queries, **args).collect()))
    assert a == b
    # exactly-once survives the auto-compact (sidecar rebuilt in g1)
    with _pytest.raises(ValueError, match="already indexed"):
        auto.add_vectors(corpus.filter(F.col("vec_id") < 2))
