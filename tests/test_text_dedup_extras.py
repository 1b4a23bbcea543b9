"""Direct coverage for the remaining public text/dedup surface:
exact_duplicates groups, simhash near-pair detection, the one-pass analyze
profile, and the quality-score range."""

import pytest
from pyspark.sql import functions as F

from conftest import sorted_rows
from storm_spark.functions import dedup, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "The quick  brown fox jumps over the lazy dog again and again today"),  # = 1 normalized
        (3, "an entirely different document about spark engines and data plumbing"),
        (4, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
        (5, "!!! ??? ###"),  # junk
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_duplicates_groups(docs):
    groups = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    assert [(r.keep_id, r.n_dups) for r in groups] == [(1, 2)]


def test_simhash_near_pairs_finds_near_dup(docs):
    pairs = dedup.simhash_near_pairs(docs, "doc_id", "text", bits=32, max_hamming=6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # identical docs: hamming 0
    assert (1, 4) in found or (2, 4) in found  # one-word difference
    for r in pairs:
        assert r.hamming <= 6


def test_analyze_profile_columns(docs):
    out = text.analyze(docs, "text").collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_tokens == 13
    assert by_id[1].lang_guess == "en"
    assert by_id[5].n_tokens == 0
    for r in out:
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert len(r.fingerprint) == 32  # md5 hex
    # normalized duplicates share a fingerprint
    assert by_id[1].fingerprint == by_id[2].fingerprint
    # junk doc scores worse than real prose
    assert by_id[5].quality < by_id[1].quality


def test_near_dup_clusters_chain_and_clique(spark):
    """Min-label propagation: a 4-chain (worst diameter case), a triangle,
    and an isolated pair all resolve to min-reachable-id clusters."""
    from storm_spark.functions.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        # chain 1-2-3-4; triangle 10-11-12; pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = {r.id: r.cluster_id for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_near_cluster_keeps_representatives(spark):
    from storm_spark.functions.dedup import dedup_near_cluster

    df = spark.createDataFrame([(i, f"doc{i}") for i in [1, 2, 3, 7, 9]], "doc_id bigint, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    kept = sorted(r.doc_id for r in dedup_near_cluster(df, "doc_id", pairs).collect())
    # cluster {1,2,3} -> keep 1; 7 and 9 untouched
    assert kept == [1, 7, 9]


def test_ngram_containment_decontamination(spark):
    """Corpus-level containment: verbatim copies score 1.0, half-overlapping
    docs score the overlap fraction, fresh docs 0 (dropped by threshold)."""
    from storm_spark.functions import dedup

    train = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id bigint, text string",
    )
    test = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # verbatim
            (3, "one two three four five completely different tail here now"),
            (5, "totally novel words with no overlap whatsoever at all"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_shingles, r.n_contained, r.containment)
        for r in dedup.ngram_containment(
            train, test, "doc_id", "text", n=3, threshold=0.0
        ).collect()
    }
    assert out[1][2] == 1.0
    # doc 3: 8 trigrams, 3 contained ("one two three", "two three four",
    # "three four five")
    assert out[3] == (8, 3, 0.375)
    assert out[5][2] == 0.0
    dropped = dedup.ngram_containment(train, test, "doc_id", "text", n=3, threshold=0.5)
    assert [r.doc_id for r in dropped.collect()] == [1]


def test_repetition_signals(spark):
    from pyspark.sql import functions as F

    from storm_spark.functions import text

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now"),
            (2, "each word here appears exactly once only"),
            (3, "ab"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.rep3, r.top_tok)
        for r in df.select(
            "doc_id",
            text.repetition_ratio_t(text.tokens("text"), n=3).alias("rep3"),
            text.top_token_ratio_t(text.tokens("text")).alias("top_tok"),
        ).collect()
    }
    # "buy now ..." has 6 trigrams but only 2 distinct; top token = 4/8
    assert out[1] == (round(1 - 2 / 6, 6), 0.5)
    assert out[2] == (0.0, round(1 / 7, 6))
    assert out[3] == (0.0, 1.0)  # shorter than n: no grams, single token


def test_pii_redact_and_count(spark):
    from storm_spark.functions import text

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com or call 415-555-0123 now"),
            (2, "server at 10.0.42.7 rebooted"),
            (3, "nothing sensitive here"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n, r.red)
        for r in df.select(
            "doc_id",
            text.pii_count("text").alias("n"),
            text.pii_redact("text").alias("red"),
        ).collect()
    }
    assert out[1] == (2, "mail [EMAIL] or call [PHONE] now")
    assert out[2] == (1, "server at [IPV4] rebooted")
    assert out[3] == (0, "nothing sensitive here")


def test_url_extraction_and_domain_counts(spark):
    from storm_spark.functions import text

    df = spark.createDataFrame(
        [
            (1, "see http://a.example.org/x and https://b.example.net"),
            (2, "again http://a.example.org/other/page?q=1"),
            (3, "no links"),
        ],
        "doc_id bigint, text string",
    )
    urls = {r.doc_id: r.urls for r in df.select("doc_id", text.extract_urls("text").alias("urls")).collect()}
    assert urls[1] == ["http://a.example.org/x", "https://b.example.net"]
    assert urls[2] == ["http://a.example.org/other/page?q=1"]
    assert urls[3] == []
    counts = {r.domain: r.n_links for r in text.domain_counts(df, "text").collect()}
    assert counts == {"a.example.org": 2, "b.example.net": 1}


def test_tfidf_top_terms(spark):
    from storm_spark.functions import text

    # 'cat' only in doc 1, 'dog' only in doc 2, 'the' everywhere (idf=0)
    df = spark.createDataFrame(
        [
            (1, "the cat cat cat sat"),
            (2, "the dog sat sat"),
            (3, "the the the bird"),
        ],
        "doc_id bigint, text string",
    )
    out = text.tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: (r.term, r.tf) for r in out}
    assert top[1] == ("cat", 3)
    assert top[2] == ("dog", 1)
    assert top[3] == ("bird", 1)
    # 'the' appears in every doc -> ln(3/3)=0 tfidf, never the top term
    assert all(r.term != "the" for r in out)


def test_duplicated_spans_merges_islands(spark):
    from storm_spark.functions import dedup

    # docs 1 and 2 share the run "a b c d e f" (token positions 1..6 in doc 1,
    # 0..5 in doc 2); with n=3 the four shared windows overlap into ONE span.
    # doc 3 has no repeated 3-gram anywhere -> absent from the output.
    df = spark.createDataFrame(
        [
            (1, "x a b c d e f y"),
            (2, "a b c d e f z w"),
            (3, "totally unrelated words here only once"),
        ],
        "doc_id bigint, text string",
    )
    out = dedup.duplicated_spans(df, "doc_id", "text", n=3)
    rows = {(r.doc_id): (r.span_start, r.span_end, r.n_dup_grams) for r in out.collect()}
    assert rows[1] == (1, 6, 4)
    assert rows[2] == (0, 5, 4)
    assert 3 not in rows


def test_duplicated_spans_within_doc_and_gaps(spark):
    from storm_spark.functions import dedup

    # the SAME doc repeats "p q r" at positions 0 and 6 with a unique middle:
    # two disjoint spans (gap > adjacency), both from within-doc repetition.
    df = spark.createDataFrame(
        [(7, "p q r unique middle tokens p q r")],
        "doc_id bigint, text string",
    )
    out = dedup.duplicated_spans(df, "doc_id", "text", n=3).collect()
    spans = sorted((r.span_start, r.span_end, r.n_dup_grams) for r in out)
    assert spans == [(0, 2, 1), (6, 8, 1)]


def test_duplicated_spans_adjacent_windows_merge(spark):
    from storm_spark.functions import dedup

    # doc 1 vs doc 2: shared grams at positions 0 and 4 of doc 1 ("a b c" and
    # "d e f" split by one non-shared token are NOT adjacent (4 > 2+1) ->
    # wait: positions 0..2 and 4..6 — gap of one token — window end 2, next
    # start 4 > end+1=3 -> two spans.
    df = spark.createDataFrame(
        [
            (1, "a b c x d e f"),
            (2, "a b c y d e f"),
        ],
        "doc_id bigint, text string",
    )
    out = dedup.duplicated_spans(df, "doc_id", "text", n=3)
    spans = sorted(
        (r.doc_id, r.span_start, r.span_end) for r in out.collect()
    )
    assert spans == [(1, 0, 2), (1, 4, 6), (2, 0, 2), (2, 4, 6)]


def test_pmi_collocations_ranks_true_pair(spark):
    from storm_spark.functions import text

    # "san francisco" always co-occurs (perfect association); "the" pairs
    # with everything (association ~ chance). min_count=2, k=2.
    df = spark.createDataFrame(
        [
            (1, "san francisco is the city"),
            (2, "san francisco has the bay"),
            (3, "the city has the bay"),
        ],
        "doc_id bigint, text string",
    )
    out = text.pmi_collocations(df, "text", k=2, min_count=2).collect()
    assert (out[0].w1, out[0].w2) == ("san", "francisco")
    assert out[0].pair_count == 2
    # every 'san' and every 'francisco' occurrence is inside the pair —
    # PMI = ln(n_tok^2 / (n_big * c_san * c_fran)) with c=2 each
    import math

    n_tok, n_big = 15.0, 12.0
    expected = round(math.log((2 / n_big) / ((2 / n_tok) * (2 / n_tok))), 6)
    assert abs(out[0].pmi - expected) < 1e-9


def test_pmi_min_count_drops_hapax(spark):
    from storm_spark.functions import text

    # hapax bigrams (count 1) would dominate PMI; min_count=2 removes them
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta epsilon zeta")],
        "doc_id bigint, text string",
    )
    out = text.pmi_collocations(df, "text", k=10, min_count=2).collect()
    assert [(r.w1, r.w2) for r in out] == [("alpha", "beta")]


def test_duplicated_spans_matches_naive_model(spark):
    """Property-style sweep: random small corpora vs a naive in-Python span
    model (mark every position whose n-gram occurs >= 2 times corpus-wide,
    merge overlapping/adjacent windows). One Spark job over the union of
    cases keeps the runtime test-suite-friendly."""
    import random

    from storm_spark.functions import dedup

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d"]
    n = 3
    corpora = []
    for case in range(12):
        docs = [
            (case * 100 + i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
            for i in range(rng.randint(1, 5))
        ]
        corpora.append(docs)

    def naive(docs):
        grams = {}
        for did, txt in docs:
            toks = txt.split()
            for p in range(len(toks) - n + 1):
                grams.setdefault(tuple(toks[p : p + n]), []).append((did, p))
        dup_pos = {}
        for g, occ in grams.items():
            if len(occ) >= 2:
                for did, p in occ:
                    dup_pos.setdefault(did, set()).add(p)
        out = set()
        for did, ps in dup_pos.items():
            spans = []
            for p in sorted(ps):
                if spans and p <= spans[-1][1] + 1:
                    spans[-1] = (spans[-1][0], max(spans[-1][1], p + n - 1), spans[-1][2] + 1)
                else:
                    spans.append((p, p + n - 1, 1))
            for s, e, c in spans:
                out.add((did, s, e, c))
        return out

    # run each corpus separately through the operator (corpus-wide frequency
    # is per-corpus), but collect expected/actual per case
    for docs in corpora:
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
            for r in dedup.duplicated_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == naive(docs), f"mismatch for corpus {docs}"


def test_quality_gate_per_group_quantile(spark):
    """The gate keeps exactly the docs at or above the group's nearest-rank
    q-quantile score, independently per group."""
    from storm_spark.functions import text

    rows = []
    # lang A: 8 docs with strictly increasing quality (longer = higher score)
    for i in range(8):
        rows.append((i, "A", "the and of to is " * (2 + 4 * i)))
    # lang B: 4 identical docs (all tie -> everything kept at any q)
    for i in range(8, 12):
        rows.append((i, "B", "the and of to is word"))
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    kept = text.quality_gate(df, "text", "lang", q=0.25, id_col="doc_id").collect()
    kept_a = sorted(r.doc_id for r in kept if r.lang == "A")
    kept_b = sorted(r.doc_id for r in kept if r.lang == "B")
    # A: threshold = 2nd-lowest score (ceil(.25*8)=2) -> doc 0 dropped
    assert kept_a == [1, 2, 3, 4, 5, 6, 7]
    # B: all tie at the threshold -> all kept
    assert kept_b == [8, 9, 10, 11]


def test_quality_gate_single_exchange(spark):
    """Rank, count, and threshold all ride one group-key exchange."""
    from storm_spark.functions import text

    df = spark.createDataFrame(
        [(i, "x", "some text here") for i in range(10)],
        "doc_id bigint, lang string, text string",
    )
    plan = text.quality_gate(df, "text", "lang")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_quality_gate_invariants_random(spark):
    """Random corpora: the gate's cut is a clean order statistic — every
    dropped score is strictly below every kept score, and at most
    ceil(q*n)-1 rows drop per group."""
    import math
    import random

    from storm_spark.functions import text

    rng = random.Random(5)
    words = ["the", "and", "zz!!", "word", "of", "##", "to", "is"]
    rows = []
    for i in range(60):
        rows.append(
            (i, rng.choice(["a", "b", "c"]),
             " ".join(rng.choice(words) for _ in range(rng.randint(1, 30))))
        )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    q = 0.25
    kept = text.quality_gate(df, "text", "lang", q=q).collect()
    scored = {
        (r.doc_id): (r.lang, r.quality)
        for r in df.select(
            "doc_id", "lang", text.quality_score("text").alias("quality")
        ).collect()
    }
    by_group_all = {}
    for did, (g, s) in scored.items():
        by_group_all.setdefault(g, []).append((did, s))
    kept_ids = {r.doc_id for r in kept}
    for g, members in by_group_all.items():
        k_scores = [s for did, s in members if did in kept_ids]
        d_scores = [s for did, s in members if did not in kept_ids]
        assert k_scores, g
        if d_scores:
            assert max(d_scores) < min(k_scores), g
        assert len(d_scores) <= math.ceil(q * len(members)) - 1, g


def test_quality_gate_q_zero_keeps_all_and_validates(spark):
    import pytest

    from storm_spark.functions import text

    df = spark.createDataFrame(
        [(i, "x", "some words here") for i in range(5)],
        "doc_id bigint, lang string, text string",
    )
    assert text.quality_gate(df, "text", "lang", q=0.0).count() == 5
    with pytest.raises(ValueError, match="q must be"):
        text.quality_gate(df, "text", "lang", q=1.5)


def test_corpus_diff_statuses(spark):
    from storm_spark.functions.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(2, "gamma delta"), (3, "epsilon zeta CHANGED"), (4, "eta theta")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new, "doc_id", "text").collect()}
    # 1 removed, 3 changed, 4 added; 2 unchanged -> excluded
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_corpus_diff_normalization_insensitive(spark):
    """The fingerprint normalizes (tokens joined) — case/whitespace-only
    edits are NOT 'changed'."""
    from storm_spark.functions.dedup import corpus_diff

    old = spark.createDataFrame([(1, "Alpha   Beta")], "doc_id bigint, text string")
    new = spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
    assert corpus_diff(old, new, "doc_id", "text").count() == 0


def test_corpus_diff_duplicate_ids_collapse(spark):
    """Duplicate ids collapse to one MIN fingerprint per id before the
    join — no fan-out, no contradictory changed+unchanged rows."""
    from storm_spark.functions.dedup import corpus_diff

    old = spark.createDataFrame(
        [(7, "alpha"), (7, "beta"), (8, "keep")], "doc_id bigint, text string"
    )
    new = spark.createDataFrame(
        [(7, "alpha"), (8, "keep"), (8, "keep")], "doc_id bigint, text string"
    )
    out = corpus_diff(old, new, "doc_id", "text").collect()
    # id 8 unchanged (dup in new collapses); id 7: min(md5(alpha),md5(beta))
    # on the old side vs md5(alpha) on the new — one deterministic row max
    assert len(out) <= 1
    ids = [r.doc_id for r in out]
    assert 8 not in ids


def test_bpe_train_greedy_and_tiebreak(spark):
    """BPE merge learning on a corpus small enough to hand-compute:
    'aaaa' x2 and 'ab' x3. Round 1: pairs (a,a) count 2*3=6 — 'aaaa' has
    three (a,a) occurrences per word — vs (a,b) count 3; merge (a,a).
    Greedy left-to-right re-segmentation: (a)(a)(a)(a) -> (aa)(aa), NOT
    (aa)(a)(a) — the run-sharing case a space-separated replace encoding
    gets wrong. Round 2: pairs (aa,aa) count 2 vs (a,b) count 3 ->
    merge (a,b). Round 3: (aa,aa) -> merge. Round 4: nothing adjacent
    remains -> early exit at 3 rows."""
    from storm_spark.functions.text import bpe_train

    docs = spark.createDataFrame(
        [("aaaa",), ("aaaa",), ("ab",), ("ab",), ("ab",)], "text string"
    )
    got = [(r.rank, r.lhs, r.rhs, r.cnt) for r in bpe_train(docs, "text", k=4).collect()]
    assert got == [(1, "a", "a", 6), (2, "a", "b", 3), (3, "aa", "aa", 2)], got


def test_bpe_train_lexicographic_tiebreak(spark):
    """Equal-count pairs resolve to the lexicographically smallest
    (lhs, rhs) — 'ba' and 'bc' both give their pair count 1; (b,a) < (b,c)."""
    from storm_spark.functions.text import bpe_train

    docs = spark.createDataFrame([("bc ba",)], "text string")
    got = [(r.rank, r.lhs, r.rhs) for r in bpe_train(docs, "text", k=1).collect()]
    assert got == [(1, "b", "a")], got


def test_bpe_segment_applies_merges_in_rank_order(spark):
    """Encode replay: with merges [(a,a), (aa,aa)] the word 'aaaa'
    segments to ONE token; 'aaa' to two (aa + a); 'ab' stays two chars
    (no matching rule)."""
    from storm_spark.functions.text import bpe_segment

    docs = spark.createDataFrame([("aaaa aaa ab",)], "text string")
    got = {
        r.word: r.n_tokens
        for r in bpe_segment(docs, "text", [("a", "a"), ("aa", "aa")]).collect()
    }
    assert got == {"aaaa": 1, "aaa": 2, "ab": 2}, got


def test_incremental_lsh_index_matches_batch_on_any_split(spark):
    """IncrementalLSHIndex contract: over ANY arrival order, the union of
    per-epoch emitted pairs equals the batch minhash_lsh_pairs set, each
    pair emitted in exactly ONE epoch (the later endpoint's); ids arrive
    non-monotonically so the least/greatest canonicalization is
    exercised."""
    import hashlib

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    rows = [
        (i, f"the quick brown fox {i % 7} jumps over the lazy dog {i % 7}")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4).collect()
    }
    assert expect, "fixture must produce collisions"

    def h(x):
        return int.from_bytes(hashlib.md5(str(x).encode()).digest()[:4], "big")

    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    seen_epochs = []
    for chunk in range(3):
        batch = [r for r in rows if h(r[0]) % 3 == chunk]
        new = {
            (r.id_a, r.id_b)
            for r in idx.add_docs(
                spark.createDataFrame(batch, "doc_id long, text string")
            ).collect()
        }
        for prev in seen_epochs:
            assert not (new & prev), "a pair was emitted in two epochs"
        seen_epochs.append(new)
    got = set().union(*seen_epochs)
    assert got == expect, got ^ expect
    assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == expect


def test_incremental_lsh_index_bucketed_mode(spark, tmp_path):
    """Bucketed-index mode: same emissions as the in-memory mode on the
    same split, and the index side of the epoch join scans SHUFFLE-FREE —
    exactly one Exchange in the cross-join plan (the |delta| side), the
    100-TB claim plan-asserted."""
    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        _band_buckets,
        minhash_lsh_pairs,
    )

    rows = [
        (i, f"the quick brown fox {i % 5} jumps over the lazy dog {i % 5}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4).collect()
    }
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        index_table="lsh_idx_test", index_path=str(tmp_path / "lsh_idx"),
        n_buckets=8,
    )
    try:
        _bucketed_mode_body(spark, idx, rows, expect)
    finally:
        # always drop — a failed assertion must not leave the global
        # metastore entry (and its parquet) behind for later runs
        idx.drop_tables()


def _bucketed_mode_body(spark, idx, rows, expect):
    from storm_spark.functions.dedup import _band_buckets

    got = set()
    for chunk in range(3):
        batch = [r for r in rows if r[0] % 3 == chunk]
        got |= {
            (r.id_a, r.id_b)
            for r in idx.add_docs(
                spark.createDataFrame(batch, "doc_id long, text string")
            ).collect()
        }
    assert got == expect, got ^ expect

    # plan shape of the epoch cross join: bucketed index scan, one Exchange
    delta = _band_buckets(
        spark.createDataFrame(rows[:3], "doc_id long, text string"),
        "doc_id", "text", 3, 12, 4,
    )
    # at test scale AQE broadcasts the tiny index (also shuffle-free on the
    # index side); disable broadcast to expose the at-scale sort-merge
    # shape the claim is about
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(idx._table()).alias("o").join(
            delta.alias("a"),
            (F.col("a.__band__") == F.col("o.__band__"))
            & (F.col("a.__bucket__") == F.col("o.__bucket__")),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan, plan
    # the INDEX branch (join → bucketed FileScan) carries no Exchange —
    # the delta branch keeps its own small shuffles (|delta|-sized)
    head, _, _ = plan.partition("FileScan parquet spark_catalog.default.lsh_idx_test")
    index_branch = head[head.index("SortMergeJoin"):]
    assert "Exchange" not in index_branch, plan


def test_incremental_lsh_index_resent_id_raises(spark):
    """A replayed/re-sent doc id must fail LOUDLY (foreachBatch is
    at-least-once). COMPLETE detection (r9 review fix): the check is an
    id semi-join against the stored index, so it catches a re-sent id
    even when its TEXT changed (different buckets — collision-based
    detection would miss it) and a duplicate id within one batch."""
    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = [
        (i, f"the quick brown fox {i} jumps over the lazy dog {i}")
        for i in range(6)
    ]
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    idx.add_docs(spark.createDataFrame(rows[:4], "doc_id long, text string"))
    with pytest.raises(ValueError, match="already indexed"):
        # replay overlap: docs 2-3 arrive a second time, identical text
        idx.add_docs(spark.createDataFrame(rows[2:6], "doc_id long, text string"))

    idx2 = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    idx2.add_docs(spark.createDataFrame(rows[:4], "doc_id long, text string"))
    with pytest.raises(ValueError, match="already indexed"):
        # re-crawl: id 1 returns with ENTIRELY different text
        idx2.add_docs(
            spark.createDataFrame(
                [(1, "completely new words after a recrawl of this url")],
                "doc_id long, text string",
            )
        )

    idx3 = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    with pytest.raises(ValueError, match="more than once in this batch"):
        idx3.add_docs(
            spark.createDataFrame(
                [rows[0], rows[1], (1, "same id twice in one batch")],
                "doc_id long, text string",
            )
        )


def test_incremental_lsh_index_refuses_nonempty_path(spark, tmp_path):
    """Bucketed mode must not silently rmtree a non-empty index_path the
    caller didn't opt into wiping — it could hold unrelated data."""
    from storm_spark.functions.dedup import IncrementalLSHIndex

    victim = tmp_path / "precious"
    victim.mkdir()
    (victim / "data.txt").write_text("do not delete")
    rows = [(i, f"document text number {i}") for i in range(3)]
    batch = spark.createDataFrame(rows, "doc_id long, text string")

    idx = IncrementalLSHIndex(
        "doc_id", "text", index_table="lsh_idx_guard_test", index_path=str(victim)
    )
    with pytest.raises(ValueError, match="non-empty"):
        idx.add_docs(batch)
    assert (victim / "data.txt").read_text() == "do not delete"

    # explicit opt-in wipes the path and proceeds
    idx2 = IncrementalLSHIndex(
        "doc_id", "text", index_table="lsh_idx_guard_test",
        index_path=str(victim), overwrite_index=True,
    )
    try:
        idx2.add_docs(batch)
        assert not (victim / "data.txt").exists()
    finally:
        idx2.drop_tables()


def test_incremental_survivorship_equals_batch_every_epoch(spark):
    """IncrementalSurvivorship: after EVERY epoch the live
    (cluster_id, canonical_id, cluster_size) table equals the batch
    canonicalize_clusters over docs-so-far — fold-map relabels, new-doc
    merges, and singleton coverage all exercised on the real fixture."""
    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        IncrementalSurvivorship,
        canonicalize_clusters,
        near_dup_clusters,
    )
    from storm_spark.functions.mining import IncrementalComponents

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text", "n_chars")
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    cc = IncrementalComponents()
    surv = IncrementalSurvivorship("doc_id", "n_chars")
    chunk = F.pmod(F.hash("doc_id"), F.lit(3))
    seen = None
    for b in range(3):
        batch = docs.filter(chunk == b).localCheckpoint()
        seen = batch if seen is None else seen.unionByName(batch).localCheckpoint()
        pairs = idx.add_docs(batch.select("doc_id", "text"))
        cc.add_edges(pairs)
        surv.absorb(batch, cc.labels(), cc.last_fold())
        expect = {
            (r.cluster_id, r.canonical_id, r.cluster_size)
            for r in canonicalize_clusters(
                seen, near_dup_clusters(idx.pairs()), "doc_id", "n_chars"
            ).collect()
        }
        got = {
            (r.cluster_id, r.canonical_id, r.cluster_size)
            for r in surv.canonical().collect()
        }
        assert got == expect, f"epoch {b}: {sorted(got ^ expect)[:10]}"


def test_incremental_lsh_index_resume_after_restart(spark, tmp_path):
    """Bucketed mode survives a driver restart (r9): a NEW instance with
    resume=True attaches to the persisted index table and keeps
    absorbing — pairs from before + after the restart union to the batch
    answer, and a re-sent id from a PRE-restart epoch still raises (the
    contract is enforced by the stored table, not driver memory)."""
    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    rows = [
        (i, f"the quick brown fox {i % 5} jumps over the lazy dog {i % 5}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=12, bands=4
        ).collect()
    }
    path = str(tmp_path / "resume_idx")
    kw = dict(n=3, num_perm=12, bands=4, index_table="lsh_resume_test", index_path=path)
    got = set()
    try:
        idx1 = IncrementalLSHIndex("doc_id", "text", **kw)
        for b in (0, 1):
            batch = [r for r in rows if r[0] % 3 == b]
            got |= {
                (r.id_a, r.id_b)
                for r in idx1.add_docs(
                    spark.createDataFrame(batch, "doc_id long, text string")
                ).collect()
            }
        # --- driver "restart": fresh instance, no shared python state ---
        idx2 = IncrementalLSHIndex("doc_id", "text", resume=True, **kw)
        batch = [r for r in rows if r[0] % 3 == 2]
        got |= {
            (r.id_a, r.id_b)
            for r in idx2.add_docs(
                spark.createDataFrame(batch, "doc_id long, text string")
            ).collect()
        }
        assert got == expect, got ^ expect
        # contract survives the restart: a pre-restart id re-arrives
        with pytest.raises(ValueError, match="already indexed"):
            idx2.add_docs(
                spark.createDataFrame(rows[:1], "doc_id long, text string")
            )
        # resume against a missing table fails loudly
        with pytest.raises(ValueError, match="does not exist"):
            IncrementalLSHIndex(
                "doc_id", "text", n=3, num_perm=12, bands=4,
                index_table="lsh_no_such_table", index_path=path, resume=True,
            ).add_docs(docs.limit(1))
    finally:
        idx1.drop_tables()


def test_minhash_lsh_edges_linear_on_hot_bucket(spark):
    """Star-edge emission (VERDICT r9 #1): a degenerate band bucket — the
    same boilerplate text under m distinct ids — must cost O(m) edges,
    not O(m²) pairs, while the connected components stay IDENTICAL to the
    pair-clique form's."""
    from storm_spark.functions.dedup import (
        minhash_lsh_edges,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    m = 24
    rows = [(i, "exactly the same boilerplate footer text on every page") for i in range(m)]
    rows += [
        (100 + i, f"the quick brown fox {i % 2} jumps over the lazy dog {i % 2}")
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4)
    edges = minhash_lsh_edges(docs, "doc_id", "text", n=3, num_perm=12, bands=4)
    hot_pairs = pairs.filter(F.col("id_b") < 100).count()
    hot_edges = edges.filter(F.col("id_b") < 100).count()
    assert hot_pairs == m * (m - 1) // 2, hot_pairs  # the quadratic blow-up
    assert hot_edges == m - 1, hot_edges  # linear in bucket size
    cl_pairs = {
        (r.id, r.cluster_id) for r in near_dup_clusters(pairs).collect()
    }
    cl_edges = {
        (r.id, r.cluster_id) for r in near_dup_clusters(edges).collect()
    }
    assert cl_pairs == cl_edges


def test_incremental_lsh_index_edges_mode_matches_batch_clusters(spark):
    """emit="edges" over ANY arrival order: the union of per-epoch star
    edges has the same connected components as the batch pair set, and a
    bucket re-hit every epoch emits O(|Δ|) rows per epoch — total m-1
    edges for m same-text docs (vs Σ|Δ_t|·stored ~ O(m²) pairs)."""
    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    m = 18
    rows = [(i, "exactly the same boilerplate footer text on every page") for i in range(m)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch_pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4)
    expect = {(r.id, r.cluster_id) for r in near_dup_clusters(batch_pairs).collect()}

    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4, emit="edges")
    total = 0
    # non-monotonic arrival: id order must not matter (least/greatest path)
    for chunk in range(3):
        batch = [r for r in rows if (r[0] * 7) % 3 == chunk]
        total += idx.add_docs(
            spark.createDataFrame(batch, "doc_id long, text string")
        ).count()
    assert total == m - 1, total
    got = {(r.id, r.cluster_id) for r in near_dup_clusters(idx.pairs()).collect()}
    assert got == expect, got ^ expect


def test_incremental_lsh_index_pairs_plan_bounded(spark):
    """pairs() plan depth is O(1) in stream length (VERDICT r9 #7): the
    per-epoch frame list folds into one checkpointed frame every
    compact_every epochs, so a long-running stream never accretes a
    thousands-node union plan."""
    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    rows = [
        (i, f"the quick brown fox {i % 4} jumps over the lazy dog {i % 4}")
        for i in range(24)
    ]
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        compact_every=4, enforce_unique=False,
    )
    for i in range(24):  # 24 single-doc epochs
        idx.add_docs(spark.createDataFrame([rows[i]], "doc_id long, text string"))
        assert len(idx._pairs) <= 4
    plan = idx.pairs()._jdf.queryExecution().logical().toString()
    assert plan.count("Union") <= 4, plan
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4).collect()
    }
    assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == expect


def test_incremental_lsh_index_resume_validates_params(spark, tmp_path):
    """resume=True must refuse an incarnation whose structural LSH
    parameters differ from the ones that wrote the index (ADVICE r9
    medium): a silent mismatch mixes incompatible band buckets."""
    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = [(i, f"document body text number {i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "meta_idx")
    try:
        IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=4,
            index_table="lsh_meta_test", index_path=path,
        ).add_docs(docs)
        with pytest.raises(ValueError, match="do not match"):
            IncrementalLSHIndex(
                "doc_id", "text", n=3, num_perm=12, bands=6,
                index_table="lsh_meta_test", index_path=path, resume=True,
            ).add_docs(docs.limit(1))
        with pytest.raises(ValueError, match="do not match"):
            IncrementalLSHIndex(
                "doc_id", "text", n=3, num_perm=12, bands=4, n_buckets=8,
                index_table="lsh_meta_test", index_path=path, resume=True,
            ).add_docs(docs.limit(1))
        # a missing pointer fails loudly too
        import os

        os.remove(os.path.join(path, "_pointer.json"))
        with pytest.raises(ValueError, match="missing"):
            IncrementalLSHIndex(
                "doc_id", "text", n=3, num_perm=12, bands=4,
                index_table="lsh_meta_test", index_path=path, resume=True,
            ).add_docs(docs.limit(1))
    finally:
        IncrementalLSHIndex(index_table="lsh_meta_test", index_path=path).drop_tables()


def test_incremental_survivorship_fractional_quality(spark):
    """ADVICE r9 #4: a DOUBLE quality column must keep its native type
    through the argmax — the old bigint cast truncated 1.9 and 1.2 to the
    same 1, flipping the canonical pick to the tie-break."""
    from storm_spark.functions.dedup import (
        IncrementalSurvivorship,
        canonicalize_clusters,
    )

    docs = spark.createDataFrame(
        [(1, 1.2), (2, 1.9), (3, 0.5)], "doc_id long, score double"
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "id long, cluster_id long"
    )
    surv = IncrementalSurvivorship("doc_id", "score")
    surv.absorb(docs, labels, None)
    got = {
        (r.cluster_id, r.canonical_id, r.cluster_size)
        for r in surv.canonical().collect()
    }
    expect = {
        (r.cluster_id, r.canonical_id, r.cluster_size)
        for r in canonicalize_clusters(docs, labels, "doc_id", "score").collect()
    }
    assert got == expect == {(1, 2, 2), (3, 3, 1)}, (got, expect)

    with pytest.raises(ValueError, match="must be numeric"):
        IncrementalSurvivorship("doc_id", "text").absorb(
            spark.createDataFrame([(1, "x")], "doc_id long, text string"),
            None,
            None,
        )
    with pytest.raises(ValueError, match="integral"):
        IncrementalSurvivorship("url", "score").absorb(
            spark.createDataFrame([("http://a", 1.0)], "url string, score double"),
            None,
            None,
        )


def test_incremental_components_edge_plan_bounded(spark):
    """IncrementalComponents' accumulated edge state folds every
    compact_every epochs (r10 — the pairs() plan-depth fix's twin): the
    cascade joins _edges every round, so a long stream must not put an
    O(epochs)-leaf union plan under every join. Labels stay exact."""
    from storm_spark.functions.dedup import near_dup_clusters
    from storm_spark.functions.mining import IncrementalComponents

    edges = [(i, i + 1) for i in range(0, 40, 2)]  # 20 disjoint pairs
    cc = IncrementalComponents(compact_every=4)
    for e in edges:  # 20 single-edge epochs
        cc.add_edges(spark.createDataFrame([e], "id_a long, id_b long"))
    plan = cc._edges._jdf.queryExecution().logical().toString()
    assert plan.count("Union") <= 4, plan
    batch = near_dup_clusters(spark.createDataFrame(edges, "id_a long, id_b long"))
    assert {(r.id, r.cluster_id) for r in cc.labels().collect()} == {
        (r.id, r.cluster_id) for r in batch.collect()
    }


def test_incremental_lsh_index_compact(spark, tmp_path):
    """compact_index rewrites the appended bucketed index (epochs x
    n_buckets small files) into one generation of full buckets: far
    fewer files, identical emissions afterwards, exactly-once contract
    intact, resume still attaches."""
    import glob
    import os

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    rows = [
        (i, f"the quick brown fox {i % 5} jumps over the lazy dog {i % 5}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=12, bands=4).collect()
    }
    path = str(tmp_path / "cidx")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
              index_table="lsh_compact_test", index_path=path)
    got = set()
    try:
        idx = IncrementalLSHIndex("doc_id", "text", **kw)
        for b in (0, 1, 2):
            batch = [r for r in rows if r[0] % 4 == b]
            got |= {(r.id_a, r.id_b) for r in idx.add_docs(
                spark.createDataFrame(batch, "doc_id long, text string")).collect()}
        before = len(glob.glob(os.path.join(idx._store.path("index"), "*.parquet")))
        idx.compact_index()
        # the compacted generation is a NEW table behind the pointer
        # (crash-atomic flip); the old generation's files survive until
        # the next compact/rebuild sweeps them
        assert idx.generation == 1
        after = len(glob.glob(os.path.join(idx._store.path("index"), "*.parquet")))
        assert after < before and after <= 8, (before, after)
        assert os.path.isfile(os.path.join(path, "_pointer.json"))
        # absorption continues correctly on the compacted generation
        batch = [r for r in rows if r[0] % 4 == 3]
        got |= {(r.id_a, r.id_b) for r in idx.add_docs(
            spark.createDataFrame(batch, "doc_id long, text string")).collect()}
        assert got == expect, got ^ expect
        # exactly-once survives compaction (ids sidecar rewritten too)
        with pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(spark.createDataFrame(rows[:1], "doc_id long, text string"))
        # resume attaches to the compacted generation (pointer flipped)
        idx2 = IncrementalLSHIndex("doc_id", "text", resume=True, **kw)
        with pytest.raises(ValueError, match="already indexed"):
            idx2.add_docs(spark.createDataFrame(rows[:1], "doc_id long, text string"))
        # in-memory mode refuses
        with pytest.raises(ValueError, match="bucketed mode"):
            IncrementalLSHIndex("doc_id", "text").compact_index()
        # a SECOND compact sweeps g0 AND a crashed compact's half-written
        # orphan (pointer never flipped), and lands at g2; emissions and
        # exactly-once survive again
        os.makedirs(os.path.join(path, "g2"), exist_ok=True)  # the simulated crash
        idx.compact_index()
        assert idx.generation == 2
        assert not spark.catalog.tableExists("lsh_compact_test__g0")
        with pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(spark.createDataFrame(rows[:1], "doc_id long, text string"))
    finally:
        idx.drop_tables()


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """DSIR importance scoring: raw docs made of target-domain tokens must
    outscore raw docs made of off-domain tokens; target docs themselves are
    excluded from the output; empty raw docs are absent; and the BIGINT
    nano-unit score is exactly the sum of per-term log-ratios (no float
    accumulation surprises)."""
    import math

    from pyspark.sql import functions as F

    from storm_spark.functions.text import dsir_scores

    rows = [
        (1, "apple banana apple banana", True),
        (2, "apple apple banana", True),
        (10, "apple banana apple", False),   # target-like raw doc
        (11, "rock metal rock metal", False),  # off-domain raw doc
        (12, "", False),                      # empty raw doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {
        r.doc_id: (r.n_tokens, r.dsir_n)
        for r in dsir_scores(df, F.col("is_t"), "doc_id", "text").collect()
    }
    assert set(out) == {10, 11}  # targets and the empty doc excluded
    assert out[10][1] > out[11][1]

    # exact nano-unit reconstruction: vocab = {apple, banana, rock, metal}
    ct = {"apple": 4, "banana": 3, "rock": 0, "metal": 0}
    cr = {"apple": 2, "banana": 1, "rock": 2, "metal": 2}
    nt, nr, v = sum(ct.values()), sum(cr.values()), 4
    lr = {
        t: round(
            (math.log((ct[t] + 1) / (nt + v)) - math.log((cr[t] + 1) / (nr + v)))
            * 1e9
        )
        for t in ct
    }
    assert out[10] == (3, 2 * lr["apple"] + lr["banana"])
    assert out[11] == (4, 2 * lr["rock"] + 2 * lr["metal"])


def test_dsir_scores_null_predicate_counts_as_raw(spark):
    """A NULL target predicate (e.g. lang IS NULL under lang = 'en') must
    count the doc as RAW — CASE WHEN semantics, matching the SQL oracle —
    not silently drop it from both unigram models."""
    from pyspark.sql import functions as F

    from storm_spark.functions.text import dsir_scores

    rows = [
        (1, "apple apple", "en"),
        (10, "apple banana", "de"),
        (11, "apple banana", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r.dsir_n
        for r in dsir_scores(df, F.col("lang") == "en", "doc_id", "text").collect()
    }
    # the NULL-lang doc is scored as raw, and identically to the 'de' twin
    assert set(out) == {10, 11}
    assert out[10] == out[11]

    # cross-check the DuckDB oracle ON THIS NULL-bearing corpus: its
    # scoring filter must be `t IS DISTINCT FROM TRUE` (plain NOT t drops
    # the NULL-lang doc and the gate would go red on real data)
    import duckdb

    from storm_spark.queries import ORACLE_DSIR_SAMPLE

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    oracle = {
        r[0]: (r[1], r[2]) for r in con.sql(ORACLE_DSIR_SAMPLE).fetchall()
    }
    spark_rows = {
        r.doc_id: (r.n_tokens, r.dsir_n)
        for r in dsir_scores(df, F.col("lang") == "en", "doc_id", "text").collect()
    }
    assert oracle == spark_rows


def test_gopher_quality_flags_named_rules(spark):
    """The Gopher/C4 rule suite on crafted documents: a clean long doc
    passes; short, symbol-heavy, bullet-dominated, ellipsis-heavy,
    non-alphabetic, and stopword-free docs each fail on THEIR named rule
    with the expected signal values."""
    from storm_spark.functions.text import gopher_quality_flags

    clean = " ".join(
        ["the quick brown fox jumps over that lazy dog with zeal of be have to"]
        * 6
    )
    bullets = "\n".join(["- item one of the list"] * 9 + ["the end of it"])
    ells = "\n".join(["the line trails off..."] * 2 + ["the solid line here"] * 3)
    rows = [
        (1, clean),
        (2, "too short to pass the fifty word rule"),
        (3, clean + " " + "#" * 200),
        (4, bullets),
        (5, ells),
        (6, " ".join(["12345 67890"] * 40)),
        (7, " ".join(["zebra quark bongo"] * 30)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_flags(df, "doc_id", "text").collect()}
    assert out[1].passes
    assert not out[2].passes and out[2].n_words < 50
    assert not out[3].passes and out[3].symbol_ratio >= 0.1
    assert out[4].bullet_frac == 0.9 and not out[4].passes
    assert out[5].ellipsis_frac == 0.4 and not out[5].passes
    assert not out[6].passes and out[6].alpha_frac == 0.0
    assert not out[7].passes and out[7].stop_hits == 0


def _lsh_del_docs(spark, n=40, mod=7):
    rows = [
        (i, f"the quick brown fox {i % mod} jumps over the lazy dog {i % mod}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_index_remove_docs_pairs_mode_exact(spark):
    """remove_docs under emit='pairs' (r11 delete lifecycle): pairs() is
    VERBATIM the batch pair set over the surviving docs — the anti-join
    alone is exact because a surviving pair's endpoints both survive —
    and the epoch after a removal collides only against survivors."""
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    docs = _lsh_del_docs(spark)
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    idx.add_docs(docs.filter(F.col("doc_id") < 20))
    idx.add_docs(docs.filter(F.col("doc_id") >= 20))
    dele = docs.filter(F.col("doc_id") % 5 == 2).select("doc_id")
    rep = idx.remove_docs(dele)
    assert rep.count() == 0  # pairs mode needs no repair
    surv = docs.filter(F.col("doc_id") % 5 != 2)
    want = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            surv, "doc_id", "text", n=3, num_perm=12, bands=4
        ).collect()
    }
    assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == want
    # post-removal absorb: the new doc must NOT pair with removed docs
    extra = spark.createDataFrame(
        [(100, "the quick brown fox 2 jumps over the lazy dog 2")],
        "doc_id long, text string",
    )
    idx.add_docs(extra)
    want2 = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            surv.unionByName(extra), "doc_id", "text", n=3, num_perm=12, bands=4
        ).collect()
    }
    assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == want2


def test_lsh_index_remove_docs_edges_mode_star_root_repair(spark):
    """The repair-edge necessity case: remove a doc that was a STAR ROOT.
    Docs {1, 2, 3} share a bucket (edges (1,2), (1,3)); removing 1 must
    not disconnect 2 and 3, which still collide — the repair star over
    the touched bucket's survivors keeps them one cluster."""
    from storm_spark.functions.dedup import IncrementalLSHIndex, near_dup_clusters

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text shared by every doc") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4, emit="edges")
    idx.add_docs(docs)
    rep = idx.remove_docs(docs.filter("doc_id = 1").select("doc_id"))
    assert {(r.id_a, r.id_b) for r in rep.collect()} == {(2, 3)}
    labels = {(r.id, r.cluster_id) for r in near_dup_clusters(idx.pairs()).collect()}
    assert labels == {(2, 2), (3, 2)}


def test_lsh_index_remove_docs_bucketed_compact_lifecycle(spark, tmp_path):
    """The full bucketed delete lifecycle (the dedup_index_delete gate's
    pytest twin, plus what the oracle can't see): pre-compact clusters
    (tombstone path) == post-compact clusters == batch over survivors;
    compact physically drops the tombstoned rows from BOTH tables and
    clears the sidecar; the freed id is indexable again and its NEW
    pairs are not filtered from the view."""
    import os

    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    docs = _lsh_del_docs(spark)
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        index_table="lsh_del_test", index_path=str(tmp_path / "idx"),
        n_buckets=8, emit="edges",
    )
    try:
        idx.add_docs(docs.filter(F.col("doc_id") < 20))
        idx.add_docs(docs.filter(F.col("doc_id") >= 20))
        dele = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
        idx.remove_docs(dele)
        surv = docs.filter(F.col("doc_id") % 7 != 3)
        want = sorted(
            map(
                tuple,
                near_dup_clusters(
                    minhash_lsh_pairs(surv, "doc_id", "text", n=3, num_perm=12, bands=4)
                ).collect(),
            )
        )
        pre = sorted(map(tuple, near_dup_clusters(idx.pairs()).collect()))
        assert pre == want  # tombstone path, before any physical drop
        idx.compact_index()
        # the new generation starts with no tombstone sidecar (the
        # pending tombstones stayed behind with the old generation)
        assert idx.generation == 1
        assert not os.path.isdir(idx._store.path("tombstones"))
        # the index table resolves through the catalog (bucket spec lives
        # there); the partitioned ids sidecar is plain path parquet
        for src in (spark.table(idx._table()), spark.read.parquet(idx._store.path("ids"))):
            left = (
                src.join(dele, F.col("__id__") == F.col("doc_id"), "semi")
                .count()
            )
            assert left == 0, "index still holds tombstoned rows"
        post = sorted(map(tuple, near_dup_clusters(idx.pairs()).collect()))
        assert post == want
        # freed ids are indexable again; their new pairs survive the view
        readd = docs.filter(F.col("doc_id").isin(3, 10))
        idx.add_docs(readd)
        want2 = sorted(
            map(
                tuple,
                near_dup_clusters(
                    minhash_lsh_pairs(
                        surv.unionByName(readd),
                        "doc_id", "text", n=3, num_perm=12, bands=4,
                    )
                ).collect(),
            )
        )
        got2 = sorted(map(tuple, near_dup_clusters(idx.pairs()).collect()))
        assert got2 == want2
    finally:
        idx.drop_tables()


def test_lsh_index_remove_docs_guards(spark):
    """remove_docs loud-failure contract: duplicate id in the delete
    batch, never-indexed id, double delete, emptying the index, and
    removing before any absorb each raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex

    docs = _lsh_del_docs(spark, n=10)
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    with _pytest.raises(ValueError, match="no documents indexed"):
        idx.remove_docs(docs.select("doc_id"))
    idx.add_docs(docs)
    dup = docs.filter("doc_id in (1, 2)").unionByName(docs.filter("doc_id = 1"))
    with _pytest.raises(ValueError, match="more than once"):
        idx.remove_docs(dup.select("doc_id"))
    with _pytest.raises(ValueError, match="not indexed"):
        idx.remove_docs(spark.createDataFrame([(999,)], "doc_id long"))
    # empty delete batch refused (ADVICE r11: it passed every guard
    # vacuously and permanently materialized the tombstone sidecar)
    with _pytest.raises(ValueError, match="empty delete batch"):
        idx.remove_docs(docs.filter("doc_id = 999").select("doc_id"))
    idx.remove_docs(docs.filter("doc_id = 1").select("doc_id"))
    with _pytest.raises(ValueError, match="already tombstoned"):
        idx.remove_docs(docs.filter("doc_id = 1").select("doc_id"))
    with _pytest.raises(ValueError, match="every remaining"):
        idx.remove_docs(docs.filter("doc_id <> 1").select("doc_id"))


def test_lsh_index_tombstone_readd_refused_even_trusted(spark, tmp_path):
    """The tombstone-reservation check runs UNCONDITIONALLY (the r11
    IVFPQIndex-parity contract): even enforce_unique=False refuses a
    tombstoned id — its rows would be anti-joined out of pairs() and
    physically dropped by the next compact (silent data loss). Also the
    crash window: a stale tombstone left by a lost clear only DELAYS the
    re-add loudly; re-running compact_index frees the id."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex

    docs = _lsh_del_docs(spark, n=12)
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        index_table="lsh_tomb_test", index_path=str(tmp_path / "idx"),
        n_buckets=8, enforce_unique=False,
    )
    try:
        idx.add_docs(docs.filter(F.col("doc_id") < 10))
        idx.remove_docs(docs.filter("doc_id = 4").select("doc_id"))
        with _pytest.raises(ValueError, match="tombstoned"):
            idx.add_docs(docs.filter("doc_id = 4"))
        idx.compact_index()
        # a STALE tombstone on the serving generation (id 4's rows are
        # already gone) still blocks the re-add loudly — and the next
        # compact's generation flip leaves it behind with the old
        # generation, freeing the id (the pending sidecar stays with the
        # generation; no separate "clear" step to lose)
        spark.createDataFrame([(4,)], "__id__ long").write.parquet(
            idx._store.path("tombstones")
        )
        with _pytest.raises(ValueError, match="tombstoned"):
            idx.add_docs(docs.filter("doc_id = 4"))
        idx.compact_index()
        idx.add_docs(docs.filter("doc_id = 4"))  # freed id re-indexable
    finally:
        idx.drop_tables()


def test_dsir_fold_trajectory_equals_batch_at_every_epoch(spark):
    """The streaming_dsir gate's state claim, pinned per epoch: folding
    the (term, ct, cr) models by SUM and appending raw (doc, term, n)
    counts epoch-by-epoch yields — at EVERY epoch — scores identical to
    batch dsir_scores over the docs absorbed so far (token-count tables
    are linear sketches; the scoring tail is shared code)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.text import dsir_scores, dsir_scores_from_counts
    from storm_spark.functions.text import tokens as _tokens

    rows = [
        (i, f"alpha beta {('gamma ' * (i % 3))}delta word{i % 5}",
         "en" if i % 4 == 0 else ("de" if i % 4 in (1, 2) else None))
        for i in range(24)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    model = raw = None
    seen = []
    for epoch in range(3):
        batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == epoch)
        seen.append(batch)
        toks = batch.select(
            "doc_id",
            F.coalesce(F.col("lang") == "en", F.lit(False)).alias("__t__"),
            F.explode(_tokens("text")).alias("term"),
        ).localCheckpoint()
        dm = toks.groupBy("term").agg(
            F.sum(F.col("__t__").cast("bigint")).cast("bigint").alias("ct"),
            F.sum((~F.col("__t__")).cast("bigint")).cast("bigint").alias("cr"),
        )
        model = (
            dm if model is None else model.unionByName(dm).groupBy("term").agg(
                F.sum("ct").cast("bigint").alias("ct"),
                F.sum("cr").cast("bigint").alias("cr"),
            )
        ).localCheckpoint()
        draw = (
            toks.filter(~F.col("__t__"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("__n__"))
        )
        raw = (draw if raw is None else raw.unionByName(draw)).localCheckpoint()
        so_far = seen[0]
        for b in seen[1:]:
            so_far = so_far.unionByName(b)
        want = sorted(
            map(tuple, dsir_scores(so_far, F.col("lang") == "en").collect())
        )
        got = sorted(
            map(tuple, dsir_scores_from_counts(model, raw, "doc_id").collect())
        )
        assert got == want, f"epoch {epoch} diverged"


def test_lsh_index_readd_with_new_content_after_compact(spark, tmp_path):
    """Re-adding a freed id with DIFFERENT content (the re-crawled-page
    case) must NOT resurrect the removed incarnation's pairs: suppression
    binds to the removed rows, not the id (r11 review finding #1 — the
    read-time id filter, pruned on re-add, un-hid historical frames that
    still contained the old content's edges)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    text_a = "the same boilerplate text shared by the first pair of docs"
    text_b = "an entirely different body of words for the second family"
    docs_v1 = spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_b)], "doc_id long, text string"
    )
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        index_table="lsh_readd_test", index_path=str(tmp_path / "idx"),
        n_buckets=8,
    )
    try:
        idx.add_docs(docs_v1)
        assert {(r.id_a, r.id_b) for r in idx.pairs().collect()} == {(1, 2)}
        idx.remove_docs(docs_v1.filter("doc_id = 1").select("doc_id"))
        idx.compact_index()
        # id 1 returns with doc 3's text — it must now pair with 3, and
        # the OLD (1, 2) pair (removed content) must stay gone
        readd = spark.createDataFrame([(1, text_b)], "doc_id long, text string")
        idx.add_docs(readd)
        got = {(r.id_a, r.id_b) for r in idx.pairs().collect()}
        current = docs_v1.filter("doc_id <> 1").unionByName(readd)
        want = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(
                current, "doc_id", "text", n=3, num_perm=12, bands=4
            ).collect()
        }
        assert want == {(1, 3)}  # fixture sanity
        assert got == want, got
    finally:
        idx.drop_tables()


def test_lsh_index_remove_docs_on_resumed_incarnation(spark, tmp_path):
    """A takedown arriving BEFORE any absorb in a resumed incarnation
    (restart + takedown — the advertised lifecycle) must succeed in both
    emission modes, not crash on the empty per-incarnation pairs list
    (r11 review finding #2)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_pairs

    docs = _lsh_del_docs(spark, n=12)
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8)
    for emit, tbl in (("pairs", "lsh_res_p"), ("edges", "lsh_res_e")):
        try:
            idx1 = IncrementalLSHIndex(
                "doc_id", "text", index_table=tbl,
                index_path=str(tmp_path / tbl), emit=emit, **kw,
            )
            idx1.add_docs(docs)
            idx2 = IncrementalLSHIndex(
                "doc_id", "text", index_table=tbl,
                index_path=str(tmp_path / tbl), emit=emit, resume=True, **kw,
            )
            rep = idx2.remove_docs(docs.filter("doc_id = 4").select("doc_id"))
            assert rep.columns == ["id_a", "id_b"]
            if emit == "pairs":
                assert rep.count() == 0
            # the removal is durably in force across the resume
            # (pre-compact the id is still stored, so the enforce path's
            # "already indexed" fires first — the IVFPQIndex convention)
            import pytest as _pytest

            with _pytest.raises(ValueError, match="already indexed|tombstoned"):
                idx2.add_docs(docs.filter("doc_id = 4"))
        finally:
            idx1.drop_tables()


def test_lsh_index_repair_edges_recovery(spark):
    """repair_edges re-derives a crashed remove_docs' repair stars
    idempotently (r11 review finding #3): same edges as the original
    return, only for tombstoned ids, edges mode only."""
    import pytest as _pytest

    from storm_spark.functions.dedup import IncrementalLSHIndex

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text shared by every doc") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    idx = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4, emit="edges")
    idx.add_docs(docs)
    dele = docs.filter("doc_id = 1").select("doc_id")
    original = {(r.id_a, r.id_b) for r in idx.remove_docs(dele).collect()}
    # simulate the lost repair: recover it from the durable tombstones
    recovered = {(r.id_a, r.id_b) for r in idx.repair_edges(dele).collect()}
    assert recovered == original == {(2, 3)}
    with _pytest.raises(ValueError, match="not tombstoned"):
        idx.repair_edges(docs.filter("doc_id = 2").select("doc_id"))
    # empty ids batch refused loudly (ADVICE r11: it slipped past the
    # not-tombstoned guard into F.broadcast(None) — a confusing TypeError)
    with _pytest.raises(ValueError, match="empty ids batch|no pending"):
        idx.repair_edges(docs.filter("doc_id = 999").select("doc_id"))
    idx_p = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    with _pytest.raises(ValueError, match="edges"):
        idx_p.repair_edges(dele)
    # ... and the no-tombstones-at-all shape raises the same ValueError,
    # never a TypeError, even with a NON-empty ids batch on a fresh index
    idx_e = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4, emit="edges"
    )
    idx_e.add_docs(docs)
    with _pytest.raises(ValueError, match="no pending"):
        idx_e.repair_edges(dele)


def test_lsh_index_adaptive_salting_equivalence(spark):
    """The index's emission modes — plain star (salt=False), salted with
    an explicit salt_buckets, and the default salted star — cluster
    identically, through epochs AND through a removal's repair stars."""
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, near_dup_clusters

    # one boilerplate group (hot: 14 identical docs) + small groups (cold)
    rows = [(i, "the exact same boilerplate page text") for i in range(14)]
    rows += [
        (100 + i, f"unique little document number {i} with words {i}")
        for i in range(6)
    ]
    rows += [(200 + i, "a small shared duplicate pair") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def run(**salt_kw):
        idx = IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=4, emit="edges", **salt_kw
        )
        idx.add_docs(docs.filter("doc_id % 2 = 0"))
        idx.add_docs(docs.filter("doc_id % 2 = 1"))
        idx.remove_docs(docs.filter("doc_id = 0").select("doc_id"))
        return {
            (r.id, r.cluster_id)
            for r in near_dup_clusters(idx.pairs()).collect()
        }

    plain = run(salt=False)
    manual = run(salt_buckets=4, salt=False)
    default = run()  # salted, 32 salt buckets
    assert plain == manual == default
    # sanity: the boilerplate survivors cluster together under doc 1
    assert {(i, 1) for i in range(1, 14)} <= default


def test_lsh_index_rebuild_parameter_migration(spark, tmp_path):
    """rebuild() (r12, VERDICT r11 #3): absorb at loose parameters,
    tombstone, rebuild at tight parameters — pairs() must equal the
    batch emission over the survivors AT THE NEW PARAMETERS verbatim
    (pairs mode) / connectivity-equal (edges mode); the generation
    tables serve through the pointer, absorption continues after the
    migration, and a fresh resume=True incarnation attaches through the
    pointer with the NEW parameters (the old ones are refused)."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    docs = _lsh_del_docs(spark, n=36)
    path = str(tmp_path / "reb")
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=2,
        index_table="lsh_reb_test", index_path=path, n_buckets=8,
        emit="pairs",
    )
    try:
        idx.add_docs(docs.filter("doc_id < 18"))
        idx.add_docs(docs.filter("doc_id >= 18"))
        idx.remove_docs(docs.filter("doc_id % 7 = 3").select("doc_id"))
        surv = docs.filter("doc_id % 7 <> 3")
        idx.rebuild(surv, bands=4, n_buckets=16)
        assert (idx.generation, idx.bands, idx.n_buckets) == (1, 4, 16)
        want = sorted_rows(minhash_lsh_pairs(surv, "doc_id", "text", 3, 12, 4))
        assert sorted_rows(idx.pairs()) == want
        # the pointer exists; the new generation's tables serve; the OLD
        # generation's tables survive until the next rebuild (reader
        # continuity — the IVFPQIndex.retrain N−1 contract)
        assert os.path.isfile(os.path.join(path, "_pointer.json"))
        assert spark.catalog.tableExists("lsh_reb_test__g1")
        assert spark.catalog.tableExists("lsh_reb_test__g0")  # old gen intact
        # tombstones are applied: the freed id is indexable again (its
        # whole text class was removed, so it has no collision partners
        # yet — the point is the add is ACCEPTED, not refused as
        # tombstoned or already-indexed)
        idx.add_docs(docs.filter("doc_id = 3"))
        assert idx.pairs().count() == len(want)
        # a fresh incarnation resumes THROUGH the pointer at new params
        idx2 = IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=4,
            index_table="lsh_reb_test", index_path=path, n_buckets=16,
            resume=True, emit="pairs",
        )
        idx2.add_docs(
            spark.createDataFrame(
                [(100, "the quick brown fox 3 jumps over the lazy dog 3")],
                "doc_id long, text string",
            )
        )
        # resuming with the PRE-migration parameters is refused loudly
        idx3 = IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=2,
            index_table="lsh_reb_test", index_path=path, n_buckets=8,
            resume=True, emit="pairs",
        )
        with _pytest.raises(ValueError, match="do not match"):
            idx3.add_docs(docs.filter("doc_id = 999"))
        # a SECOND rebuild sweeps the pre-migration generation g0
        surv2 = docs.filter("doc_id % 7 <> 3").unionByName(
            docs.filter("doc_id = 3")
        ).unionByName(
            spark.createDataFrame(
                [(100, "the quick brown fox 3 jumps over the lazy dog 3")],
                "doc_id long, text string",
            )
        )
        idx.rebuild(surv2, bands=4)
        assert idx.generation == 2
        assert not spark.catalog.tableExists("lsh_reb_test__g0")
        assert not os.path.isdir(os.path.join(path, "g0"))
        assert sorted_rows(idx.pairs()) == sorted_rows(
            minhash_lsh_pairs(surv2, "doc_id", "text", 3, 12, 4)
        )
    finally:
        idx.drop_tables()


def test_lsh_index_rebuild_guards_and_crash_window(spark, tmp_path):
    """rebuild() loud-failure contract: in-memory mode, unbuilt index,
    duplicate/missing/extra corpus ids each raise; a crashed rebuild
    (generation tables written, pointer never flipped) leaves the old
    generation serving and the next rebuild sweeps the orphan."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_edges

    docs = _lsh_del_docs(spark, n=20)
    mem = IncrementalLSHIndex("doc_id", "text", n=3, num_perm=12, bands=4)
    with _pytest.raises(ValueError, match="bucketed mode"):
        mem.rebuild(docs)
    path = str(tmp_path / "rebg")
    idx = IncrementalLSHIndex(
        "doc_id", "text", n=3, num_perm=12, bands=4,
        index_table="lsh_rebg_test", index_path=path, n_buckets=8,
        emit="edges",
    )
    try:
        with _pytest.raises(ValueError, match="no index table"):
            idx.rebuild(docs)
        idx.add_docs(docs)
        with _pytest.raises(ValueError, match="more than once"):
            idx.rebuild(docs.unionByName(docs.filter("doc_id = 1")))
        with _pytest.raises(ValueError, match="absent from the rebuild"):
            idx.rebuild(docs.filter("doc_id < 19"))
        with _pytest.raises(ValueError, match="not live in the index"):
            idx.rebuild(
                docs.unionByName(
                    spark.createDataFrame(
                        [(999, "extra doc")], "doc_id long, text string"
                    )
                )
            )
        with _pytest.raises(ValueError, match="not divisible"):
            idx.rebuild(docs, bands=5)
        # simulate the crashed rebuild: a half-written orphan generation,
        # pointer never flipped — invisible to the serving index
        os.makedirs(os.path.join(path, "g1"), exist_ok=True)
        idx.add_docs(
            spark.createDataFrame(
                [(50, "the quick brown fox 1 jumps over the lazy dog 1")],
                "doc_id long, text string",
            )
        )
        assert idx.generation == 0  # the orphan is invisible
        # the real rebuild sweeps the orphan and lands at g1
        full = docs.unionByName(
            spark.createDataFrame(
                [(50, "the quick brown fox 1 jumps over the lazy dog 1")],
                "doc_id long, text string",
            )
        )
        got = idx.rebuild(full, bands=4)
        assert idx.generation == 1
        assert {(r.id_a, r.id_b) for r in got.collect()} == {
            (r.id_a, r.id_b)
            for r in minhash_lsh_edges(full, "doc_id", "text", 3, 12, 4).collect()
        }
    finally:
        idx.drop_tables()


def test_pretrain_reselection_trajectory_equals_batch_at_every_checkpoint(spark):
    """The streaming capstone's periodic re-selection (r12, VERDICT r11
    #5), pinned per checkpoint: with reselect_every=1 the selection tail
    re-runs after EVERY epoch over the live dedup/survivorship state,
    and each checkpoint's chunk output must equal the BATCH
    pretrain_pipeline over the docs absorbed so far (the same
    pmod(hash(doc_id), 3) epoch split the stream scaffold feeds) — the
    streaming_dsir trajectory-pinning pattern lifted to the composed
    capstone. The final answer stays on the composed oracle (the
    driver's streaming_pretrain_pipeline gate)."""
    import os

    from pyspark.sql import functions as F

    from storm_spark import queries as Q

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    got = {}

    def on_checkpoint(k, chunks):
        got[k] = sorted_rows(chunks)

    final = Q.q_streaming_pretrain_pipeline(
        spark, sf_dir, reselect_every=1, on_checkpoint=on_checkpoint
    )
    final_rows = sorted_rows(final)
    assert sorted(got) == [1, 2, 3]
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    for k in (1, 2, 3):
        prefix = docs.filter(F.pmod(F.hash("doc_id"), F.lit(3)) < k)
        want = sorted_rows(Q._pretrain_pipeline_batch(prefix))
        assert got[k] == want, f"checkpoint {k} diverged from batch-over-prefix"
    # the last checkpoint IS the final answer (all three epochs absorbed)
    assert got[3] == final_rows


def test_tfidf_fold_trajectory_equals_batch_at_every_epoch(spark):
    """The streaming_tfidf gate's state claim, pinned per epoch: appending
    per-doc (doc, term, tf) counts and bumping the n_docs counter
    epoch-by-epoch yields — at EVERY epoch — top-k terms identical to
    batch tfidf_top_terms over the docs absorbed so far (shared
    tfidf_from_counts tail)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.text import tfidf_from_counts, tfidf_top_terms
    from storm_spark.functions.text import tokens as _tokens

    rows = [
        (i, f"alpha beta {('gamma ' * (i % 3))}delta word{i % 5} zed{i % 2}")
        for i in range(24)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tf = None
    n = 0
    seen = []
    for epoch in range(3):
        batch = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == epoch)
        seen.append(batch)
        etf = (
            batch.select("doc_id", F.explode(_tokens("text")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tf = (etf if tf is None else tf.unionByName(etf)).localCheckpoint()
        n += batch.count()
        so_far = seen[0]
        for b in seen[1:]:
            so_far = so_far.unionByName(b)
        want = sorted(map(tuple, tfidf_top_terms(so_far, k=3).collect()))
        n_docs = spark.range(1).select(F.lit(n).cast("bigint").alias("n_docs"))
        got = sorted(map(tuple, tfidf_from_counts(tf, n_docs, k=3).collect()))
        assert got == want, f"epoch {epoch} diverged"


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _lsh_rows(n=30, mod=5):
    return [
        (i, f"the quick brown fox {i % mod} jumps over the lazy dog {i % mod}")
        for i in range(n)
    ]


def test_lsh_index_fresh_start_clears_generations_and_pointer(spark, tmp_path):
    """A fresh index at a path whose PRIOR index was compacted (its
    pointer names g2, g1 is kept for readers) must refuse without
    overwrite_index=True — and WITH it must remove the pointer and every
    generation, so a later resume=True incarnation attaches to the fresh
    index, never to the stale pre-wipe generation (the phantom-pairs
    failure)."""
    import os

    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = _lsh_rows()
    path = str(tmp_path / "fresh")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
              index_table="lsh_fresh_test", index_path=path)
    try:
        old = IncrementalLSHIndex("doc_id", "text", **kw)
        old.add_docs(_mk_docs(spark, rows[:10])).collect()
        old.compact_index()
        old.compact_index()
        assert old._store.generations() == {1, 2}
        fresh = IncrementalLSHIndex("doc_id", "text", **kw)
        with pytest.raises(ValueError, match="prior index"):
            fresh.add_docs(_mk_docs(spark, rows[10:20])).collect()
        # opting in wipes pointer + generations, then writes the fresh root
        fresh2 = IncrementalLSHIndex(
            "doc_id", "text", overwrite_index=True, **kw
        )
        fresh2.add_docs(_mk_docs(spark, rows[10:20])).collect()
        assert fresh2.generation == 0 and fresh2._store.generations() == {0}
        assert not spark.catalog.tableExists("lsh_fresh_test__g2")
        # a resume attaches to the FRESH index: a doc only the stale
        # pre-wipe generation knew is accepted (it would raise "already
        # indexed" if the resume had chased the stale pointer to g2)
        res = IncrementalLSHIndex("doc_id", "text", resume=True, **kw)
        res.add_docs(_mk_docs(spark, rows[:5])).collect()
        with pytest.raises(ValueError, match="already indexed"):
            res.add_docs(_mk_docs(spark, rows[10:11]))
    finally:
        old.drop_tables()


def test_lsh_orphan_sweep_catches_suffix_only_generations(spark, tmp_path):
    """A maintenance op that crashed after writing only part of its
    generation (here: just the ids sidecar) leaves a partial orphan; the
    next op's sweep must remove it whatever it holds (it would leak
    permanently once the pointer advances past N)."""
    import os

    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = _lsh_rows()
    path = str(tmp_path / "orph")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
              index_table="lsh_orph_test", index_path=path)
    try:
        idx = IncrementalLSHIndex("doc_id", "text", **kw)
        idx.add_docs(_mk_docs(spark, rows[:10])).collect()
        # simulated crash: a rebuild died after its ids write — g3 holds
        # only ids (a number the upcoming compact won't reuse, so "swept"
        # is unambiguous)
        os.makedirs(os.path.join(path, "g3", "ids"), exist_ok=True)
        idx.compact_index()  # sweeps, then compacts into a fresh gen
        assert not os.path.isdir(os.path.join(path, "g3"))
        # whatever generation the compact chose is the pointer's and is
        # complete
        assert os.path.isdir(idx._store.path("index"))
        assert os.path.isdir(idx._store.path("ids"))
        with pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(_mk_docs(spark, rows[:1]))
    finally:
        idx.drop_tables()


def test_lsh_compact_n_files_knob(spark, tmp_path):
    """compact_index(n_files=k): ≤ k files per bucket with up to
    n_buckets·k-way write parallelism (VERDICT r12 #3's knob); k=1
    keeps the exact one-file-per-bucket invariant; emissions and
    exactly-once are invariant to the knob."""
    import collections
    import glob
    import os
    import re

    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = _lsh_rows()
    path = str(tmp_path / "nfiles")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
              index_table="lsh_nfiles_test", index_path=path)
    try:
        idx = IncrementalLSHIndex("doc_id", "text", **kw)
        for b in (0, 1, 2):
            idx.add_docs(
                _mk_docs(spark, [r for r in rows if r[0] % 3 == b])
            ).collect()
        with pytest.raises(ValueError, match="n_files"):
            idx.compact_index(n_files=0)
        idx.compact_index()  # k=1: exactly one file per non-empty bucket
        per = collections.Counter(
            re.search(r"_(\d{5})\.c", os.path.basename(f)).group(1)
            for f in glob.glob(os.path.join(idx._store.path("index"), "*.parquet"))
        )
        assert per and max(per.values()) == 1, per
        n_rows = spark.read.parquet(idx._store.path("index")).count()
        idx.compact_index(n_files=3)
        per3 = collections.Counter(
            re.search(r"_(\d{5})\.c", os.path.basename(f)).group(1)
            for f in glob.glob(os.path.join(idx._store.path("index"), "*.parquet"))
        )
        assert max(per3.values()) <= 3, per3
        assert spark.read.parquet(idx._store.path("index")).count() == n_rows
        with pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(_mk_docs(spark, rows[:1]))
    finally:
        idx.drop_tables()


def test_adaptive_salting_default_on(spark):
    """Salting is on by default: the index and minhash_lsh_edges emit the
    salted star unless salt=False; below a salt partition's size the
    salted emission is the plain star row-for-row."""
    from storm_spark.functions.dedup import IncrementalLSHIndex, minhash_lsh_edges

    rows = [
        (i, f"the quick brown fox {i % 4} jumps over the lazy dog {i % 4}")
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    salted_rows = sorted_rows(minhash_lsh_edges(docs, "doc_id", "text", bands=4))
    plain_rows = sorted_rows(
        minhash_lsh_edges(docs, "doc_id", "text", bands=4, salt=False)
    )
    assert salted_rows == plain_rows
    assert IncrementalLSHIndex("doc_id", "text").salt is True
    assert IncrementalLSHIndex("doc_id", "text", salt=False).salt is False


def test_lsh_index_auto_compact_cadence(spark, tmp_path):
    """auto_compact_every=K (r13, VERDICT r12 #6): every K-th add_docs
    triggers the crash-atomic generation-swap compact_index between
    epochs — bounding physical small-file accretion (epochs × n_buckets
    files) without manual maintenance calls. Emissions, pairs(), and
    the exactly-once contract are invariant to the cadence; pending
    tombstones are applied at the triggered compact (the documented
    compact semantics — the freed id becomes indexable again)."""
    import glob
    import os

    from storm_spark.functions.dedup import (
        IncrementalLSHIndex,
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    rows = _lsh_rows()
    path = str(tmp_path / "autoc")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8,
              index_table="lsh_autoc_test", index_path=path)
    with pytest.raises(ValueError, match="bucketed mode"):
        IncrementalLSHIndex("doc_id", "text", auto_compact_every=2)
    with pytest.raises(ValueError, match="auto_compact_every"):
        IncrementalLSHIndex("doc_id", "text", auto_compact_every=0, **kw)
    try:
        idx = IncrementalLSHIndex(
            "doc_id", "text", auto_compact_every=2, **kw
        )
        got = set()
        got |= {(r.id_a, r.id_b) for r in idx.add_docs(
            _mk_docs(spark, [r for r in rows if r[0] % 3 == 0])).collect()}
        assert idx.generation == 0  # 1st absorb: below cadence
        got |= {(r.id_a, r.id_b) for r in idx.add_docs(
            _mk_docs(spark, [r for r in rows if r[0] % 3 == 1])).collect()}
        assert idx.generation == 1  # 2nd absorb triggered the compact
        assert idx._absorbs_since_compact == 0
        # tombstone then hit the cadence again: compact applies it
        idx.remove_docs(_mk_docs(spark, rows[:1]).select("doc_id"))
        got |= {(r.id_a, r.id_b) for r in idx.add_docs(
            _mk_docs(spark, [r for r in rows if r[0] % 3 == 2])).collect()}
        assert idx.generation == 1
        got |= {(r.id_a, r.id_b) for r in idx.add_docs(
            _mk_docs(spark, [(100, "a brand new unique document")])).collect()}
        assert idx.generation == 2  # 4th absorb: second auto compact
        assert not os.path.isdir(os.path.join(path, "g2", "tombstones"))  # applied
        # one file per non-empty bucket in the live generation
        files = glob.glob(os.path.join(idx._store.path("index"), "*.parquet"))
        assert 0 < len(files) <= 8, files
        # the freed id is indexable again (5th absorb, below cadence)
        idx.add_docs(_mk_docs(spark, [(0, "recycled id new content")])).collect()
        with pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(_mk_docs(spark, rows[1:2]))
        # pairs() over survivors == batch operator over survivors,
        # connectivity-wise (doc 0's OLD content pairs are gone)
        live_rows = ([r for r in rows if r[0] != 0]
                     + [(100, "a brand new unique document"),
                        (0, "recycled id new content")])
        want = near_dup_clusters(
            minhash_lsh_pairs(_mk_docs(spark, live_rows), "doc_id", "text",
                              n=3, num_perm=12, bands=4))
        got_cl = near_dup_clusters(idx.pairs())
        assert sorted_rows(got_cl) == sorted_rows(want)
    finally:
        idx.drop_tables()


def test_lsh_index_dangling_sidecar_diagnosed_and_healed(spark, tmp_path):
    """r14 (the IVFPQIndex dangling-id convention, ADVICE r11 pattern):
    an absorb interrupted between the ids-sidecar append and the index
    append — or an in-flight emission failure under the r14 overlapped
    ids write — leaves ids with no band-bucket rows behind them. The
    replay must be DIAGNOSED (a distinct loud error naming the remedy,
    not the generic "already indexed"), and compact_index() must HEAL
    the sidecar (re-derived from the index's band-0 rows), after which
    the replay succeeds."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from storm_spark.functions.dedup import IncrementalLSHIndex

    docs = _lsh_del_docs(spark, n=20)
    path = str(tmp_path / "dangling")
    try:
        idx = IncrementalLSHIndex(
            "doc_id", "text", n=3, num_perm=12, bands=4,
            index_table="lsh_dangling_test", index_path=path,
        )
        idx.add_docs(docs.filter("doc_id < 10"))
        # simulate the interrupted absorb: the batch's ids land in the
        # sidecar, the index append never happens
        idx._store.write_ids(
            docs.filter("doc_id >= 10").select(F.col("doc_id").alias("__id__")),
            "__id__", idx.id_buckets, "append",
        )
        with _pytest.raises(ValueError, match="dangling entry"):
            idx.add_docs(docs.filter("doc_id >= 10"))
        idx.compact_index()  # heals: sidecar re-derived from index rows
        assert idx._store.read_ids(spark, "__id__", idx.id_buckets).count() == 10
        idx.add_docs(docs.filter("doc_id >= 10"))  # replay now succeeds
        assert idx._store.read_ids(spark, "__id__", idx.id_buckets).count() == 20
        # a TRUE replay still raises the generic loud error
        with _pytest.raises(ValueError, match="already indexed"):
            idx.add_docs(docs.filter("doc_id < 10"))
    finally:
        idx.drop_tables()


def test_bpe_train_rematerialization_cadence_is_invisible(spark):
    """r14 (ADVICE r13 low): bpe_train re-materializes its lazy merge
    chain every 64 rounds to bound the Catalyst expression depth at
    large k. The checkpoint holds exactly the chain's value, so the
    learned merge table must be IDENTICAL across the cadence boundary —
    asserted by learning k > 64 rules over a corpus engineered to have
    many distinct frequent pairs and checking the table against a pure
    greedy reference implementation."""
    from storm_spark.functions.text import bpe_train

    # one long word per row, each repeated a distinct number of times →
    # a long deterministic sequence of learnable merges
    words = [
        ("abcdefghij"[: 2 + i % 9] + f"x{i}", 100 - i) for i in range(40)
    ]
    rows = [(w,) for w, n in words for _ in range(n)]
    docs = spark.createDataFrame(rows, "text string")
    got = [
        (r["rank"], r["lhs"], r["rhs"], r["cnt"])
        for r in bpe_train(docs, "text", k=70).orderBy("rank").collect()
    ]
    assert len(got) > 64  # the cadence boundary was actually crossed

    # pure-python greedy reference (same tie-break: count desc, l asc, r asc)
    vocab = {}
    for w, n in words:
        vocab[w] = vocab.get(w, 0) + n
    segs = {w: [c for c in w] for w in vocab}
    want = []
    for rank in range(1, 71):
        counts = {}
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + vocab[w]
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((rank, l, r, cnt))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    assert got == want
