"""Property tests for the r6 operators — brute-force models on
randomized-but-deterministic inputs (the test_state_properties
convention: hypothesis, fixed derandomization)."""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.7]),
)
def test_prefix_jaccard_equals_bruteforce(spark, docs, threshold):
    """The prefix filter must be LOSSLESS: pairs and Jaccard values equal
    the all-pairs brute force over 3-gram shingle sets at any threshold."""
    from storm_spark.functions import dedup

    shingles = [
        {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        for toks in docs
    ]
    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles[i], shingles[j]
            if not a or not b:
                continue
            inter = len(a & b)
            if inter == 0:
                continue
            jac = round(inter / (len(a) + len(b) - inter), 6)
            if jac >= threshold:
                expect[(i, j)] = jac
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_prefix(
            df, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert got == pytest.approx(expect)


def _jaccard_bruteforce(docs, threshold, ndigits=6):
    shingles = [
        {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        for toks in docs
    ]
    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles[i], shingles[j]
            if not a or not b or not a & b:
                continue
            jac = round(len(a & b) / len(a | b), ndigits)
            if jac >= threshold:
                expect[(i, j)] = jac
    return expect


def test_prefix_jaccard_float_boundary_pairs(spark):
    """Regression (ADVICE r6): two boundary classes the double-arithmetic
    bounds silently dropped, both must now survive.

    1. float-ceil overshoot: ceil(0.07·100) evaluates to 8 in doubles
       (0.07·100 = 7.000000000000001), so a 7-shingle subset of a
       100-shingle doc (J exactly 0.07) failed the size filter AND fell
       outside the shortened prefix.
    2. round-up acceptance band: with ndigits=1 and t=0.5, a subset pair
       with J = 9/19 ≈ 0.474 is ACCEPTED by the verify filter
       (round(0.474, 1) = 0.5) but min=9 < ceil(0.5·19) = 10 failed the
       old size bound computed at t instead of t − 5·10^-(ndigits+1)."""
    from storm_spark.functions import dedup

    # case 1: A = w0..w101 (100 shingles), B = last 9 tokens (7 shingles ⊂ A)
    a1 = [f"w{k}" for k in range(102)]
    b1 = a1[-9:]
    docs1 = [a1, b1]
    df1 = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs1)], "doc_id long, text string"
    )
    got1 = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_prefix(
            df1, "doc_id", "text", n=3, threshold=0.07
        ).collect()
    }
    assert got1 == pytest.approx(_jaccard_bruteforce(docs1, 0.07))
    assert (0, 1) in got1  # the J = 0.07 subset pair itself

    # case 2: A = v0..v20 (19 shingles), B = v10..v20 (9 shingles ⊂ A)
    a2 = [f"v{k}" for k in range(21)]
    b2 = a2[10:]
    docs2 = [a2, b2]
    df2 = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs2)], "doc_id long, text string"
    )
    got2 = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_prefix(
            df2, "doc_id", "text", n=3, threshold=0.5, ndigits=1
        ).collect()
    }
    assert got2 == pytest.approx(_jaccard_bruteforce(docs2, 0.5, ndigits=1))
    assert (0, 1) in got2  # round(9/19, 1) = 0.5 crosses the threshold


@settings(**SETTINGS)
@given(
    ref=st.lists(st.tuples(st.integers(0, 2), st.integers(-20, 20)), min_size=1, max_size=40),
    cur=st.lists(st.tuples(st.integers(0, 2), st.integers(-20, 20)), min_size=1, max_size=40),
)
def test_ks_drift_matches_bruteforce(spark, ref, cur):
    from storm_spark.functions.profile import ks_drift

    def cdfs(rows, g):
        vals = sorted(v for gg, v in rows if gg == g)
        return vals

    expect = {}
    for g in {g for g, _ in ref} & {g for g, _ in cur}:
        rv, cv = cdfs(ref, g), cdfs(cur, g)
        if not rv or not cv:
            continue
        grid = sorted(set(rv) | set(cv))
        d = max(
            abs(
                sum(1 for x in rv if x <= v) / len(rv)
                - sum(1 for x in cv if x <= v) / len(cv)
            )
            for v in grid
        )
        expect[g] = (len(rv), len(cv), round(d, 6))
    rdf = spark.createDataFrame(ref, "g int, v long")
    cdf = spark.createDataFrame(cur, "g int, v long")
    got = {
        r.g: (r.n_ref, r.n_cur, r.ks)
        for r in ks_drift(rdf, cdf, "g", "v").collect()
    }
    assert set(got) == set(expect)
    for g in expect:
        assert got[g][:2] == expect[g][:2], (g, got[g], expect[g])
        assert got[g][2] == pytest.approx(expect[g][2], abs=1e-6), (g, got, expect)


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=0, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=0, max_size=25
    ),
)
def test_interval_join_batch_semantics(spark, left, right):
    """Batch-mode semantics of interval_join (the same Column expression
    the streaming twin runs): pairs = brute force over
    key equality and r.ts in [l.ts+lo, l.ts+hi]."""
    from datetime import datetime, timedelta

    from storm_spark.streaming.joins import interval_join

    t0 = datetime(2024, 1, 1)
    lo, hi = 10, 120
    expect = sorted(
        (lk, ls, rs)
        for lk, ls in left
        for rk, rs in right
        if lk == rk and ls + lo <= rs <= ls + hi
    )
    if not left or not right:
        return
    ldf = spark.createDataFrame(
        [(k, t0 + timedelta(seconds=s), s) for k, s in left],
        "user_id long, ts timestamp, sec long",
    )
    rdf = spark.createDataFrame(
        [(k, t0 + timedelta(seconds=s), s) for k, s in right],
        "user_id long, ts timestamp, sec long",
    )
    out = interval_join(ldf, rdf, "user_id", "ts", lo, hi)
    got = sorted((r.user_id, r.sec, r.sec_r) for r in out.collect())
    assert got == expect


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=10),
        min_size=2,
        max_size=12,
    ),
    bands=st.sampled_from([2, 4]),
    salt=st.sampled_from([None, 2, 7]),
)
def test_star_edges_same_components_as_pair_clique(spark, docs, bands, salt):
    """minhash_lsh_edges' connectivity claim, property-tested: on ANY
    corpus (hypothesis draws include exact duplicates, which land whole
    groups in one band bucket — the hot-bucket case the star emission
    exists for) the connected components of the O(m)-per-bucket star
    edges equal those of the O(m²) pair clique — in every emission mode:
    plain/globally-salted (drawn, with salt=False) AND the default
    salted star (salt=True, 32 salt buckets unless drawn)."""
    from storm_spark.functions import dedup

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_perm=12, bands=bands)
    via_pairs = {
        (r.id, r.cluster_id)
        for r in dedup.near_dup_clusters(
            dedup.minhash_lsh_pairs(df, "doc_id", "text", **kw)
        ).collect()
    }
    via_stars = {
        (r.id, r.cluster_id)
        for r in dedup.near_dup_clusters(
            dedup.minhash_lsh_edges(
                df, "doc_id", "text", salt_buckets=salt, salt=False, **kw
            )
        ).collect()
    }
    assert via_stars == via_pairs
    via_auto = {
        (r.id, r.cluster_id)
        for r in dedup.near_dup_clusters(
            dedup.minhash_lsh_edges(
                df, "doc_id", "text", salt_buckets=salt, salt=True, **kw
            )
        ).collect()
    }
    assert via_auto == via_pairs


@settings(**SETTINGS)
@given(
    values=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=120),
    ps=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_percentiles_from_counts_property(spark, values, ps):
    """streaming_percentile's foundation, property-tested: for ANY integer
    multiset and ANY p-list, the histogram reconstruction equals
    F.percentile on the raw rows exactly (same doubles, not approx)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.robust import percentiles_from_counts

    df = spark.createDataFrame([("g", v) for v in values], "g string, v long")
    hist = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
    got = percentiles_from_counts(hist, ["g"], "v", "n", ps).collect()[0]
    want = df.groupBy("g").agg(F.percentile("v", ps).alias("p")).collect()[0]
    assert [got[f"p_{i}"] for i in range(len(ps))] == list(want.p)

@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=10),
        min_size=3,
        max_size=12,
    ),
    bands=st.sampled_from([2, 4]),
    emit=st.sampled_from(["pairs", "edges"]),
    kill=st.integers(min_value=0, max_value=10),
)
def test_lsh_index_removal_equals_batch_over_survivors(spark, docs, bands, emit, kill):
    """IncrementalLSHIndex.remove_docs' semantic claim, property-tested
    (r11 delete lifecycle): on ANY corpus absorbed over two epochs, after
    removing an arbitrary doc the post-removal pairs() view clusters
    EXACTLY like the from-scratch batch pipeline over the surviving docs
    — in both emission modes (pairs: verbatim row set; edges: repair
    stars restore any severed connectivity)."""
    from storm_spark.functions import dedup

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    kw = dict(n=3, num_perm=12, bands=bands)
    dead = kill % len(docs)
    if len(docs) < 2:
        return
    idx = dedup.IncrementalLSHIndex("doc_id", "text", emit=emit, **kw)
    idx.add_docs(df.filter(f"doc_id % 2 = 0"))
    idx.add_docs(df.filter(f"doc_id % 2 = 1"))
    idx.remove_docs(df.filter(f"doc_id = {dead}").select("doc_id"))
    surv = df.filter(f"doc_id <> {dead}")
    want = {
        (r.id, r.cluster_id)
        for r in dedup.near_dup_clusters(
            dedup.minhash_lsh_pairs(surv, "doc_id", "text", **kw)
        ).collect()
    }
    got = {
        (r.id, r.cluster_id)
        for r in dedup.near_dup_clusters(idx.pairs()).collect()
    }
    assert got == want
    if emit == "pairs":
        exact = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_pairs(surv, "doc_id", "text", **kw).collect()
        }
        assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == exact
