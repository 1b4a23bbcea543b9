"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of this module):

- **exact**: one hash-partitioned groupBy on the fingerprint — a single
  shuffle of (hash, id), no text movement.
- **jaccard / minhash**: candidate generation never compares all pairs —
  docs meet only through shared shingles (inverted index join) or shared
  LSH band buckets, so cost tracks duplicate density, not n².
- hot shingles (appearing in thousands of docs) explode the pair count at
  scale: ``max_shingle_df`` drops shingles whose document frequency exceeds
  a cap before the self-join — the standard inverted-index guard.
- everything is built-in expressions + joins: codegen'd, AQE-skew-safe,
  no Python on any hot path.

Determinism: md5 (identical across Spark/DuckDB) is the only hash used, so
every operator has an exact SQL oracle.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from storm_spark.functions.text import fingerprint, ngrams_from_tokens, tokens, word_ngrams
from storm_spark.session import bounded_persist
from storm_spark.state.generations import GenerationStore, check_adds, check_deletes

#: sentinel distinguishing "caller left the cap at its default" from an
#: explicit ``max_shingle_df=1000`` — only the former warns.
_DEFAULT_SHINGLE_CAP = object()
_warned_default_cap = False


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Snapshot diff between two corpus versions — the dataset-versioning
    report a training pipeline runs before re-training: which documents
    were ``added``, ``removed``, or ``changed`` (same id, different
    normalized-text fingerprint). Unchanged documents are EXCLUDED — at
    corpus scale they are the overwhelming majority and emitting them would
    make the diff as big as the corpus.

    Returns ``(id_col, status)`` with status ∈ {added, removed, changed}.

    Scale shape: each side collapses to (id, md5 fingerprint) before the
    join — 2 thin columns per row, never the text; one full-outer
    hash join on the id. Output size tracks the CHANGE volume, not the
    corpus.

    Duplicate ids (a realistic ingestion artifact) are collapsed to ONE
    fingerprint per id — the MIN — before the join; without this guard the
    full-outer join fans out and the same id can be reported both changed
    and unchanged. A dup whose copies differ compares by its min
    fingerprint (deterministic, engine-portable).
    """
    o = (
        old.select(F.col(id_col), fingerprint(text_col).alias("__ofp__"))
        .groupBy(id_col)
        .agg(F.min("__ofp__").alias("__ofp__"))
    )
    n = (
        new.select(F.col(id_col), fingerprint(text_col).alias("__nfp__"))
        .groupBy(id_col)
        .agg(F.min("__nfp__").alias("__nfp__"))
    )
    j = o.join(n, on=id_col, how="full_outer")
    status = (
        F.when(F.col("__ofp__").isNull(), "added")
        .when(F.col("__nfp__").isNull(), "removed")
        .when(F.col("__ofp__") != F.col("__nfp__"), "changed")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(id_col, "status")
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) docs: one row per duplicate
    group → (keep_id, n_dups). Groups of size 1 are *not* returned."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("__fp__"))
        .groupBy("__fp__")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select("keep_id", "n_dups")
    )


def dedup_exact(
    df: DataFrame, id_col: str, text_col: str, toks_col: str | None = None
) -> DataFrame:
    """Exact dedup: keep the min-id representative of each normalized text.
    Pass ``toks_col`` (a pre-materialized token array) to skip re-tokenizing
    in composed pipelines."""
    from storm_spark.functions.text import fingerprint_t

    fp = fingerprint_t(F.col(toks_col)) if toks_col else fingerprint(text_col)
    keep = (
        df.select(F.col(id_col), fp.alias("__fp__"))
        .groupBy("__fp__")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def _shingle_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
    toks_col: str | None = None,
) -> DataFrame:
    """(id, shingle-hash) inverted index, distinct per doc, optionally
    dropping ultra-frequent shingles (the scale guard).

    Shingles are hashed to 60-bit ints (md5 prefix — engine-portable) before
    the self-join: an 8-byte join key instead of a ~25-byte string cuts the
    shuffle roughly 3× and keeps the sort-merge comparisons cheap."""
    sh_hash = F.conv(F.substring(F.md5(F.col("__s__")), 1, 15), 16, 10).cast("bigint")
    toks = F.col(toks_col) if toks_col else tokens(text_col)
    idx = (
        df.select(F.col(id_col).alias("__id__"), toks.alias("__toks__"))
        .select(F.col("__id__"), F.explode(ngrams_from_tokens(F.col("__toks__"), n)).alias("__s__"))
        .select(F.col("__id__"), sh_hash.alias("__sh__"))
        .distinct()
    )
    if max_shingle_df is not None:
        hot = (
            idx.groupBy("__sh__")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") > max_shingle_df)
            .select("__sh__")
        )
        idx = idx.join(hot, on="__sh__", how="left_anti")
    return idx


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = _DEFAULT_SHINGLE_CAP,  # type: ignore[assignment]
    ndigits: int = 6,
    toks_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Pairs meet through the shingle inverted index (never all-pairs):
    |A∩B| from the self-join, |A|,|B| from per-doc shingle counts,
    J = inter / (|A| + |B| - inter). Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    ``max_shingle_df`` (PRODUCTION DEFAULT: 1000) drops shingles appearing
    in more than that many documents before the self-join. On natural-
    language corpora a handful of stock phrases appear in a large fraction
    of documents; each contributes O(df²) candidate pairs, turning the
    inverted-index join superlinear — the cap bounds any shingle's
    contribution at O(cap²) while barely moving Jaccard for genuinely
    similar pairs (hot shingles carry no discriminative signal). Because
    set sizes (hence Jaccard values and the pair set) are computed on the
    capped shingle sets, capped results are APPROXIMATE: the first call
    that relies on the default emits a ``UserWarning`` saying so. Pass
    ``max_shingle_df=1000`` explicitly to opt in silently, or ``None``
    when exact uncapped Jaccard semantics are required.

    The index feeds three plan branches (both join sides + sizes); it is
    persisted so tokenization/hashing runs once, not three times. The cache
    lives until the session drops it (LRU) — long-lived sessions running
    many corpora should ``spark.catalog.clearCache()`` between runs.
    """
    if max_shingle_df is _DEFAULT_SHINGLE_CAP:
        max_shingle_df = 1000
        global _warned_default_cap
        if not _warned_default_cap:
            _warned_default_cap = True
            warnings.warn(
                "ngram_jaccard_pairs is using the production default "
                "max_shingle_df=1000: Jaccard values are computed on capped "
                "shingle sets and are approximate for documents touching "
                "ultra-frequent shingles. Pass max_shingle_df explicitly "
                "(an int to cap, None for exact) to silence this.",
                UserWarning,
                stacklevel=2,
            )
    idx = bounded_persist(
        _shingle_index(df, id_col, text_col, n, max_shingle_df, toks_col),
        "dedup.jaccard.shingle_index",
    )
    sizes = idx.groupBy("__id__").agg(F.count(F.lit(1)).alias("__n__"))
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(b, (F.col("a.__sh__") == F.col("b.__sh__")) & (F.col("a.__id__") < F.col("b.__id__")))
        .groupBy(F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter__"))
    )
    sa = sizes.select(F.col("__id__").alias("id_a"), F.col("__n__").alias("__na__"))
    sb = sizes.select(F.col("__id__").alias("id_b"), F.col("__n__").alias("__nb__"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter__").cast("double")
                / (F.col("__na__") + F.col("__nb__") - F.col("__inter__")),
                ndigits,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    ndigits: int = 6,
    toks_col: str | None = None,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via prefix filtering (the
    PPJoin-family bound) — same results as uncapped
    :func:`ngram_jaccard_pairs`, structurally cheaper candidate
    generation, and unlike ``max_shingle_df`` it is LOSSLESS: the cap
    trades recall for boundedness; the prefix trades nothing.

    The bound: order every doc's shingles by one global total order
    (ascending document frequency, shingle hash tie-break — rarest
    first). If J(A,B) >= t then |A∩B| >= ceil(t·|A|), so A and B must
    share at least one shingle among each one's first
    ``|A| − ceil(t·|A|) + 1`` shingles — two docs whose PREFIXES are
    disjoint cannot reach the threshold. Only prefix shingles enter the
    candidate self-join; full shingle sets are consulted only to verify
    the (few) candidates exactly.

    Scale shape: the candidate join's fan-out per shingle is O(prefix
    postings²) over the RAREST shingles — precisely the ones with tiny
    document frequency, the opposite end of the hot-shingle problem the
    cap exists for; stock phrases shared by half the corpus sit at the
    TAIL of every doc's ordering and never generate candidates at
    t >= ~0.1. Verification semi-filters the full index down to docs
    that appear in some candidate pair, runs the ordinary shingle-keyed
    intersection join over THAT subset, and keeps only candidate pairs —
    worst case the plain inverted-index cost restricted to candidate
    docs, typically far less. (The first cut joined each candidate PAIR
    against its full shingle list — Σ pairs×|A| rows — which the r6 10×
    sweep caught exploding 27× on a duplicate-dense fixture where every
    doc had 9 exact clones; the join-then-filter shape runs the same
    pathological input at plain-path cost.) The size filter
    ``min >= ceil(t·max)`` prunes length-incompatible candidates before
    any of that. At 100 TB this is the difference between "bounded with
    a disclosed recall cut" (capped) and "bounded and exact" (prefix).

    Returns ``(id_a, id_b, jaccard)``, ``id_a < id_b``,
    ``jaccard >= threshold`` rounded to ``ndigits``.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # Candidate-generation bounds run at a RATIONAL LOWER BOUND t' of the
    # acceptance region, in pure BIGINT arithmetic — two float hazards made
    # the old double-ceil version subtly lossy (ADVICE r6):
    #   1. the verify filter accepts round(J, ndigits) >= t, i.e. true
    #      J >= t − 5·10^-(ndigits+1); bounds computed at t itself missed
    #      pairs in that half-ulp band;
    #   2. double ceil(t·n) can land one ABOVE the exact integer (e.g.
    #      0.07·100 → 7.000000000000001 → 8), SHORTENING the prefix.
    # t' = floor((t − 5·10^-(ndigits+1)) · 10^7) / 10^7 <= every accepted
    # pair's true Jaccard, and a smaller threshold only ENLARGES prefixes /
    # loosens the size filter — conservative, hence lossless; the handful
    # of extra candidates die in exact verification. Division-free forms:
    #   pos <= n − ceil(t'·n) + 1   ⟺  p·n <= q·(n − pos + 1)
    #   min >= ceil(t'·max)         ⟺  q·min >= p·max
    # (ceil(x) <= m ⟺ x <= m for integer m). p <= 10^7, so p·n stays
    # far inside BIGINT for any real shingle count.
    from fractions import Fraction

    t_eff = Fraction(threshold) - Fraction(1, 2 * 10**ndigits)
    p = max(0, (t_eff * 10**7).__floor__())
    q = 10**7
    idx = bounded_persist(
        _shingle_index(df, id_col, text_col, n, None, toks_col),
        "dedup.jaccard_prefix.shingle_index",
    )
    sh_df = idx.groupBy("__sh__").agg(F.count(F.lit(1)).alias("__df__"))
    # rank AND size ride one id-keyed exchange: row_number and the
    # whole-partition count share the same window partitioning, so the
    # separate sizes aggregate (and its join back) would be a second
    # shuffle of the index for information this exchange already has
    w = Window.partitionBy("__id__").orderBy("__df__", "__sh__")
    w_id = Window.partitionBy("__id__")
    ranked = (
        idx.join(sh_df, "__sh__")
        .withColumn("__pos__", F.row_number().over(w))
        .withColumn("__n__", F.count(F.lit(1)).over(w_id))
    )
    # prefix length |A| − ceil(t'·|A|) + 1, as the integer inequality
    # p·n <= q·(n − pos + 1) — see the t' derivation above
    prefix = ranked.filter(
        F.lit(p) * F.col("__n__")
        <= F.lit(q) * (F.col("__n__") - F.col("__pos__") + 1)
    ).select("__id__", "__sh__", "__n__")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__sh__") == F.col("b.__sh__"))
            & (F.col("a.__id__") < F.col("b.__id__"))
            # size-compatibility: J >= t' forces min(|A|,|B|) >= t'·max,
            # as the integer inequality q·min >= p·max
            & (
                F.lit(q) * F.least(F.col("a.__n__"), F.col("b.__n__"))
                >= F.lit(p)
                * F.greatest(F.col("a.__n__"), F.col("b.__n__"))
            ),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
            F.col("a.__n__").alias("__na__"),
            F.col("b.__n__").alias("__nb__"),
        )
        .distinct()
    )
    # the candidate set feeds THREE plan branches (each side's doc-id
    # semi-filter and the final verify join); without a cache the prefix
    # self-join re-runs once per branch — persisting it (it is small by
    # the prefix bound: survivors of the rarest-shingle join) computes it
    # once, and its measured size lets the verify join broadcast it
    cand = bounded_persist(cand, "dedup.jaccard_prefix.cand")
    # distinct alias names on the two sides: both derive from the same
    # cached index, and a bare __sh__ == __sh__ would resolve ambiguously
    # (Spark warns "trivially true equals predicate")
    fa = idx.join(
        cand.select(F.col("id_a").alias("__id__")).distinct(), "__id__", "left_semi"
    ).select(F.col("__id__").alias("id_a"), F.col("__sh__").alias("__sha__"))
    fb = idx.join(
        cand.select(F.col("id_b").alias("__id__")).distinct(), "__id__", "left_semi"
    ).select(F.col("__id__").alias("id_b"), F.col("__sh__").alias("__shb__"))
    inter_all = (
        fa.join(
            fb,
            (F.col("__sha__") == F.col("__shb__")) & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter__"))
    )
    inter = inter_all.join(cand, ["id_a", "id_b"])
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter__").cast("double")
                / (F.col("__na__") + F.col("__nb__") - F.col("__inter__")),
                ndigits,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_perm: int = 12
) -> DataFrame:
    """MinHash signature per doc: permutation i's hash is
    ``min(md5(i || ':' || shingle))`` over the doc's shingles — md5-as-random-
    permutation, identical in any engine. Returns (id, h0..h{num_perm-1}).

    Explode + groupBy deliberately (NOT map-side array folds): md5 inside a
    higher-order-function lambda evaluates interpreted, while md5 over
    exploded rows is whole-stage-codegen'd — measured ~8× faster here even
    paying the shuffle, and the exchange doubles as the materialization point
    ReuseExchange dedups when the signature feeds a self-join.
    """
    sh = (
        df.select(F.col(id_col), tokens(text_col).alias("__toks__"))
        .select(F.col(id_col), F.explode(ngrams_from_tokens(F.col("__toks__"), n)).alias("__sh__"))
        .distinct()
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("__sh__")))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """Per-doc LSH band buckets ``(__id__, __band__, __bucket__)`` — the
    shared signature step of :func:`minhash_lsh_pairs` and the streaming
    :class:`IncrementalLSHIndex` (factored so the two paths are
    bit-identical by construction)."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must divide evenly into bands")
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bucket"))
        )
    return sig.select(
        F.col(id_col).alias("__id__"), F.explode(F.array(*band_cols)).alias("__b__")
    ).select(
        "__id__",
        F.col("__b__.band").alias("__band__"),
        F.col("__b__.bucket").alias("__bucket__"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash + LSH banding.

    Signatures are split into ``bands`` bands of ``num_perm/bands`` rows;
    docs sharing any band bucket become a candidate pair (id_a < id_b,
    distinct). Verification (exact Jaccard on candidates) composes with
    :func:`ngram_jaccard_pairs` on the candidate set.
    """
    buckets = _band_buckets(df, id_col, text_col, n, num_perm, bands)
    a, bb = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.__band__") == F.col("b.__band__"))
            & (F.col("a.__bucket__") == F.col("b.__bucket__"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b"))
        .distinct()
    )


def minhash_lsh_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 12,
    bands: int = 4,
    salt_buckets: int | None = None,
    salt: bool = True,
) -> DataFrame:
    """Connectivity-equivalent STAR EDGES from MinHash-LSH band buckets —
    the linear-cost sibling of :func:`minhash_lsh_pairs` for pipelines
    whose next stage is CLUSTERING, not pairwise verification (VERDICT r9
    #1, the last quadratic corner in the 100-TB dedup path).

    Per ``(band, bucket)``, every member gets one edge to the bucket's
    MINIMUM id instead of one pair per member combination: a degenerate
    bucket of m docs (a boilerplate page duplicated m times — guaranteed
    at crawl scale) costs O(m) edges here vs O(m²) pairs there, while the
    union over buckets has exactly the same connected components — within
    a bucket the star reaches everything the clique does, and cross-bucket
    reachability only ever flowed through shared membership. Feed into
    :func:`near_dup_clusters` / ``IncrementalComponents`` interchangeably
    with the pair form (same ``dedup_cluster`` oracle); use
    :func:`minhash_lsh_pairs` when the caller verifies candidates
    pairwise (exact-Jaccard composition needs the actual pairs).

    Output ``(id_a, id_b)`` distinct with ``id_a < id_b`` (``id_a`` is
    the bucket min; under salting, a salt-partition min).

    ``salt`` (the default) emits the star in two levels so a degenerate
    bucket never lands on one task: each member links to its
    ``(band, bucket, salt)`` partition's min, and the ≤ ``salt_buckets``
    (default 32) partition-mins link to the bucket min — one linear plan,
    see :func:`_salted_star_edges`. Its cost over the plain star is one
    extra narrow exchange, paid by every bucket. ``salt=False`` with
    ``salt_buckets`` unset gives the plain single-window star (one
    exchange). Connectivity, and so the ``dedup_cluster`` oracle, is the
    same in every mode (property-tested); row counts grow by at most
    salt−1 per bucket."""
    buckets = _band_buckets(df, id_col, text_col, n, num_perm, bands)
    if salt or salt_buckets:
        return _salted_star_edges(buckets, salt_buckets or 32)
    w = Window.partitionBy("__band__", "__bucket__")
    return (
        buckets.withColumn("__root__", F.min("__id__").over(w))
        .filter(F.col("__id__") != F.col("__root__"))
        .select(F.col("__root__").alias("id_a"), F.col("__id__").alias("id_b"))
        .distinct()
    )


def _salted_star_edges(buckets: DataFrame, salt_buckets: int) -> DataFrame:
    """Two-level star emission over ``(__band__, __bucket__, __id__)``
    rows (shared by :func:`minhash_lsh_edges` and
    ``IncrementalLSHIndex(emit="edges")``): level 1 links every member to
    its salt partition's min — the heavy window, balanced because the
    deterministic salt (xxhash64 of the id, no RNG) splits even a monster
    bucket into ~equal slices — and level 2 links the ≤ ``salt_buckets``
    salt-mins to the bucket min. Connectivity is identical to the plain
    single-window star (members reach their salt-min, salt-mins reach the
    bucket min — property-tested).

    ONE LINEAR plan: every row flows through both windows once. Level 2
    re-keys the salt-min REPRESENTATIVES (rows whose id IS their salt
    partition's min — known row-locally after window 1) into one
    partition per bucket, ≤ ``salt_buckets`` rows wide, while non-rep
    rows keep a disjoint per-salt key so a degenerate bucket never
    reconverges on one task. No probe, no cache, no broadcast, no branch:
    the cost over the plain star is one extra narrow exchange."""
    salted = buckets.withColumn(
        "__salt__", F.pmod(F.xxhash64("__id__"), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("__band__", "__bucket__", "__salt__")
    lvl1 = salted.withColumn("__smin__", F.min("__id__").over(w1))
    is_rep = F.col("__id__") == F.col("__smin__")
    # reps collapse to key -1 (≤ salt_buckets rows per bucket); non-reps
    # keep their salt key, where min(rep-only smin) is NULL and no edge
    # is emitted from the second window
    w2 = Window.partitionBy(
        "__band__",
        "__bucket__",
        F.when(is_rep, F.lit(-1)).otherwise(F.col("__salt__")),
    )
    rooted = lvl1.withColumn(
        "__root__", F.min(F.when(is_rep, F.col("__smin__"))).over(w2)
    )
    edge = F.when(
        ~is_rep,
        F.struct(
            F.col("__smin__").alias("id_a"), F.col("__id__").alias("id_b")
        ),
    ).when(
        is_rep & (F.col("__smin__") != F.col("__root__")),
        F.struct(
            F.col("__root__").alias("id_a"), F.col("__smin__").alias("id_b")
        ),
    )
    return (
        rooted.select(edge.alias("__e__"))
        .filter(F.col("__e__").isNotNull())
        .select("__e__.id_a", "__e__.id_b")
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, cluster_id)
    with ``cluster_id`` = the minimum id reachable from ``id``. The dedup
    capstone step — pairwise output (jaccard/minhash/simhash/embedding)
    becomes keep-one-per-cluster via ``cluster_id == id``.

    Min-label propagation ("hash-to-min"): each round every node takes the
    min label among itself and its neighbors — one join + one groupBy per
    round, converging in graph-diameter rounds. Near-dup graphs are unions
    of near-cliques (diameter ~2-3), so rounds stay small at any scale; the
    iteration cap + convergence check bound adversarial chains.
    ``localCheckpoint`` truncates lineage each round so plans don't nest.
    """
    # symmetric closure in ONE scan of ``pairs`` (r14): the old
    # self-union referenced the input plan twice, so materializing the
    # persist evaluated the caller's whole emission pipeline twice
    # (ReuseExchange does not fire across union branches here —
    # guide §2.4, duplicated subtrees). explode emits both directions
    # per row from a single pass; rows are identical to the union's.
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("__e__")
        )
        .select("__e__.src", "__e__.dst")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "cluster_id")
        )
        new_labels = (
            labels.union(neighbor_min)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_near_cluster(
    df: DataFrame, id_col: str, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Keep one representative (the min id) per near-dup cluster: rows not
    in any pair survive untouched; clustered rows survive iff they ARE the
    cluster representative."""
    clusters = near_dup_clusters(pairs, id_a, id_b)
    losers = clusters.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def simhash64(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token, md5 → ``bits`` bit votes (+1/-1),
    summed over the doc; the sign vector is packed into a bigint.

    ``bits`` <= 60 to stay in signed-64 range. SHUFFLE-FREE: the token hash
    array materializes once per row, then a SINGLE map-side fold carries an
    array of ``bits`` vote counters (``zip_with`` against a bit-index
    sequence) — one traversal of the token array instead of ``bits``
    separate folds, and an expression tree ~``bits``× smaller (HOF lambdas
    are interpreted, so tree size is per-task setup cost). No explode, no
    groupBy — at scale this is a pure scan+projection, vs the naive
    explode-and-aggregate's shuffle of one row per token.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")
    # big-endian md5 hex prefix as a bigint — exactly ceil(bits/4) hex chars
    # so bit i of h is the same bit in every engine
    hex_chars = (bits + 3) // 4
    # zero-token docs have no votes and no fingerprint (the explode-based
    # formulation and the SQL oracle drop them; keep that contract)
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks__")).filter(
        F.size("__toks__") >= 1
    )
    hashed = base.select(
        F.col(id_col),
        F.transform(
            F.col("__toks__"),
            lambda t: F.conv(F.substring(F.md5(t), 1, hex_chars), 16, 10).cast("bigint"),
        ).alias("__hs__"),
    )
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        F.col("__hs__"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(
            acc, bit_idx, lambda a, i: a + F.when(F.getbit(x, i) == 1, 1).otherwise(-1)
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            bit_idx,
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return hashed.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidates meet through ``max_hamming+1`` byte-block buckets (two hashes
    within distance d must agree on at least one of d+1 blocks — the
    pigeonhole trick), then exact popcount filters. Avoids all-pairs.
    """
    if bits // (max_hamming + 1) < 1:
        # zero-width blocks would make every block value 0 → the candidate
        # join silently degenerates to an all-pairs cross join
        raise ValueError(
            f"bits={bits} cannot form {max_hamming + 1} non-empty blocks; "
            "raise bits or lower max_hamming"
        )
    sh = simhash64(df, id_col, text_col, bits)
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    blocks = sh.select(
        F.col(id_col).alias("__id__"),
        F.col("simhash").alias("__sh__"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("__b__"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__b__.blk") == F.col("b.__b__.blk"))
            & (F.col("a.__b__.val") == F.col("b.__b__.val"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
            F.col("a.__sh__").alias("__ha__"),
            F.col("b.__sh__").alias("__hb__"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__ha__").bitwiseXOR(F.col("__hb__")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_containment(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Eval-set decontamination: for each TEST document, the fraction of its
    word-n-grams that appear ANYWHERE in the train corpus (corpus-level
    containment — the standard LLM contamination measure; ``n`` runs longer
    than near-dup shingling because only verbatim overlaps of meaningful
    length matter). Returns ``(id, n_shingles, n_contained, containment)``
    for test docs with containment ≥ ``threshold`` — the drop list.

    Plan: one inverted-index join of the test shingle index against the
    DISTINCT train shingle set (8-byte hashed shingles). Never pairwise —
    cost is |test shingles| + |train shingles|, independent of train×test
    document combinations; the train set can be 100 TB while the index join
    shuffles only hashes. No df cap: unlike near-dup pairing there is no df²
    blowup (the train side is deduplicated to one row per shingle).
    """
    # the test index feeds two branches (sizes + containment join) —
    # persist so test-side tokenization/hashing runs once
    t_idx = bounded_persist(
        _shingle_index(test, id_col, text_col, n, None), "dedup.decontaminate.t_idx"
    )
    train_sh = (
        _shingle_index(train, id_col, text_col, n, None).select("__sh__").distinct()
    )
    sizes = t_idx.groupBy("__id__").agg(F.count(F.lit(1)).alias("n_shingles"))
    contained = (
        t_idx.join(train_sh, "__sh__", "left_semi")
        .groupBy("__id__")
        .agg(F.count(F.lit(1)).alias("n_contained"))
    )
    return (
        sizes.join(contained, "__id__", "left")
        .select(
            F.col("__id__").alias(id_col),
            "n_shingles",
            F.coalesce("n_contained", F.lit(0)).alias("n_contained"),
            F.round(
                F.coalesce("n_contained", F.lit(0)).cast("double") / F.col("n_shingles"),
                ndigits,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplication inventory at span granularity — the
    n-gram approximation of suffix-array substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): a token
    position is duplicated when its n-gram occurs ``min_count``+ times
    anywhere in the corpus (other docs or elsewhere in the same doc);
    per doc, overlapping/adjacent duplicated windows merge into maximal
    spans (the classic gaps-and-islands fold).

    Returns ``(id_col, span_start, span_end, n_dup_grams)`` — token-index
    spans, end inclusive: the removable repeated regions.

    Scale shape: positional shingle index (ONE explode → ~n_tokens rows of
    (60-bit gram hash, id, pos) — the gram string reduces to an 8-byte hash
    before any exchange) → partial-agg'd groupBy count on the hash (the
    wordcount shuffle class) → semi-join positions against the dup-gram set
    → per-doc window island-merge (one shuffle on id). Never pairwise; cost
    tracks corpus token count, not doc pairs.

    Precision: counting on the TRUNCATED 60-bit hash trades exactness for
    shuffle width — two distinct grams colliding both look duplicated
    (false-positive spans only; never false negatives). Expected colliding
    pairs ≈ G²/2^61 for G distinct grams: negligible below ~10^8 grams, but
    at trillion-gram corpora verify flagged spans against the actual text
    before deleting (or widen to the full md5); the n-gram approximation of
    Lee et al.'s suffix array already errs in the same direction.
    """
    sh_hash = F.conv(F.substring(F.md5(F.col("__s__")), 1, 15), 16, 10).cast("bigint")
    base = df.select(F.col(id_col).alias("__id__"), tokens(text_col).alias("__toks__"))
    pos_idx = base.select(
        "__id__",
        F.posexplode(ngrams_from_tokens(F.col("__toks__"), n)).alias("__p__", "__s__"),
    ).select("__id__", "__p__", sh_hash.alias("__sh__"))
    dup_grams = (
        pos_idx.groupBy("__sh__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .filter(F.col("__c__") >= min_count)
        .select("__sh__")
    )
    hits = pos_idx.join(dup_grams, on="__sh__", how="left_semi")
    # island detection: a window starting at p covers [p, p+n-1]; it extends
    # the current span when it overlaps or touches the furthest end seen so
    # far (running MAX, not lag — an earlier long window can outreach the
    # previous row's). First row per doc: MAX over the empty frame is NULL,
    # the comparison is NULL, and the WHEN falls through to 1 — a new span.
    w_prev = Window.partitionBy("__id__").orderBy("__p__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    marked = hits.select(
        "__id__",
        "__p__",
        F.when(
            F.col("__p__") <= F.max(F.col("__p__") + (n - 1)).over(w_prev) + 1, 0
        ).otherwise(1).alias("__brk__"),
    )
    w_run = Window.partitionBy("__id__").orderBy("__p__").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = marked.select(
        "__id__", "__p__", F.sum("__brk__").over(w_run).alias("__isl__")
    )
    return (
        islands.groupBy("__id__", "__isl__")
        .agg(
            F.min("__p__").cast("bigint").alias("span_start"),
            (F.max("__p__") + (n - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(F.col("__id__").alias(id_col), "span_start", "span_end", "n_dup_grams")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    snippet_len: int = 40,
    prefix_len: int = 8,
    max_block_df: int | None = None,
    two_pass: bool = False,
) -> DataFrame:
    """Typo-level near-duplicate pairs by bounded edit distance — the
    character-granular complement of the token-set detectors
    (:func:`ngram_jaccard_pairs` / MinHash / SimHash), which are blind to
    single-character corruptions that don't change the token multiset much
    (OCR noise, mojibake, truncated words). Reference parity surface:
    Trident's join verb (storm-core/src/jvm/storm/trident/Stream.java);
    the fuzzy candidate generation is the beyond-reference layer.

    Each doc collapses to a normalized snippet (lowercase, whitespace
    collapsed, first ``snippet_len`` chars). Docs pair only within a BLOCK
    — identical first ``prefix_len`` chars — then
    ``levenshtein(snippet_a, snippet_b) <= max_dist`` filters, ``id_a <
    id_b`` dedups. Returns ``(id_a, id_b, dist)``.

    Recall tradeoff (standard blocking): an edit inside the prefix escapes
    detection — widen recall by lowering ``prefix_len`` (bigger blocks) or
    setting ``two_pass=True``, which unions a second pass blocked on the
    snippet SUFFIX (a pair then escapes only when edits hit BOTH ends —
    already ≥2 of the ``max_dist`` budget; cost: 2× candidate generation,
    one extra pair-dedup agg). Cost: one block-keyed shuffle of (prefix,
    id, snippet); O(k²/2) levenshtein evaluations per k-occupant block,
    each O(snippet_len²) — both engine-built-in (Catalyst's levenshtein
    is JVM-side with the max-distance early-exit). ``max_block_df`` drops
    blocks with more occupants (boilerplate prefixes — the hot-shingle
    cap convention from :func:`ngram_jaccard_pairs`): deterministic,
    documented recall cut that bounds any block at O(cap²).
    """
    snip = F.substring(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
        1,
        snippet_len,
    )
    base = df.select(F.col(id_col).alias("__id__"), snip.alias("__sn__"))

    def _pairs_for(block_expr):
        s = base.select("__id__", "__sn__", block_expr.alias("__blk__"))
        if max_block_df is not None:
            # whole-partition window count, NOT a broadcast join of the
            # occupancy table — block cardinality tracks |docs|, far past
            # any broadcast threshold at scale; the window's block-keyed
            # exchange is the same key the pair join shuffles on anyway
            s = (
                s.withColumn(
                    "__occ__", F.count(F.lit(1)).over(Window.partitionBy("__blk__"))
                )
                .filter(F.col("__occ__") <= max_block_df)
                .drop("__occ__")
            )
        a = s.select(
            F.col("__blk__"),
            F.col("__id__").alias("id_a"),
            F.col("__sn__").alias("__sa__"),
        )
        b = s.select(
            F.col("__blk__"),
            F.col("__id__").alias("id_b"),
            F.col("__sn__").alias("__sb__"),
        )
        # thresholded levenshtein: Catalyst computes the banded DP and
        # returns -1 past the bound — O(max_dist·len) per pair instead of
        # the full O(len²) table (the early-exit the docstring promises)
        return (
            a.join(b, "__blk__")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "dist",
                F.levenshtein(F.col("__sa__"), F.col("__sb__"), max_dist),
            )
            .filter(F.col("dist") >= 0)
        )

    cand = _pairs_for(F.substring(F.col("__sn__"), 1, prefix_len))
    if two_pass:
        cand = cand.unionByName(
            _pairs_for(F.substring(F.col("__sn__"), -prefix_len, prefix_len))
        )
        # a pair found by both passes appears twice with the same dist
        return cand.groupBy("id_a", "id_b").agg(
            F.min("dist").cast("int").alias("dist")
        )
    return (
        cand
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_containment: float = 0.2,
    top_k: int = 3,
    max_shingle_df: int | None = 1000,
    ndigits: int = 6,
) -> DataFrame:
    """Pair-level contamination ATTRIBUTION — where :func:`ngram_containment`
    answers "is this test doc contaminated?", this answers "by WHICH train
    doc?": for each test document, the ``top_k`` train documents sharing
    the largest fraction of its n-gram shingles (ties broken by train id),
    for pairs at or above ``min_containment``. The dataset-forensics
    report a leak post-mortem needs — drop lists name documents, sources
    get fixed at the pair level.

    Returns ``(test_id, train_id, n_overlap, containment, rank)``.

    Scale shape: both corpora collapse to DISTINCT (doc, 60-bit-shingle)
    inverted indexes; the pair fan-out is the shingle-keyed index join
    whose per-shingle cost is df_test × df_train — bounded by the
    ``max_shingle_df`` hot-shingle cap (dropping ultra-frequent shingles
    from BOTH sides, the same deterministic recall cut the Jaccard path
    documents). Overlap counting is a (test, train)-keyed partial agg;
    the top-k cut is one window over the test key. Never all-pairs.
    """
    t_idx = bounded_persist(
        _shingle_index(test, id_col, text_col, n, max_shingle_df),
        "dedup.contamination.t_idx",
    )
    tr_idx = _shingle_index(train, id_col, text_col, n, max_shingle_df)
    sizes = t_idx.groupBy("__id__").agg(F.count(F.lit(1)).alias("__n__"))
    overlap = (
        t_idx.select(F.col("__id__").alias("test_id"), "__sh__")
        .join(tr_idx.select(F.col("__id__").alias("train_id"), "__sh__"), "__sh__")
        .groupBy("test_id", "train_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    scored = overlap.join(
        sizes.select(F.col("__id__").alias("test_id"), "__n__"), "test_id"
    ).withColumn(
        "containment",
        F.round(F.col("n_overlap").cast("double") / F.col("__n__"), ndigits),
    )
    w = Window.partitionBy("test_id").orderBy(
        F.col("containment").desc(), F.col("train_id").asc()
    )
    return (
        scored.filter(F.col("containment") >= float(min_containment))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= int(top_k))
        .select("test_id", "train_id", "n_overlap", "containment", "rank")
    )


def canonicalize_clusters(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
    cluster_id_col: str = "id",
) -> DataFrame:
    """Survivorship step after near-dup clustering: per duplicate cluster
    keep the best record and report the collapse. Input is the corpus plus
    a ``(id, cluster_id)`` assignment (:func:`near_dup_clusters` output —
    which only covers nodes that appeared in a near-dup pair); documents
    absent from the assignment are their own singleton cluster. The
    canonical record is the cluster member with the highest
    ``quality_col`` (ties broken by smallest id — deterministic).

    Returns ``(cluster_id, canonical_id, cluster_size)`` — one row per
    cluster. Downstream "keep one per cluster" is a semi-join of the
    corpus against ``canonical_id``.

    Scale shape: one LEFT join of the corpus against the (much smaller)
    assignment table — AQE broadcasts it when it fits — then ONE exchange
    keyed on cluster_id shared by both window computations (row_number for
    the argmax and count for the size run over the same partition), with
    the filter collapsing each cluster to a single row before anything
    else sees it. No join-back, no driver collect; nothing scales past
    |corpus| rows through a single keyed shuffle.
    """
    assign = clusters.select(
        F.col(cluster_id_col).alias(id_col), F.col("cluster_id").alias("__cl__")
    )
    d = (
        docs.select(id_col, quality_col)
        .join(assign, id_col, "left")
        .select(
            F.col(id_col),
            F.col(quality_col),
            F.coalesce(F.col("__cl__"), F.col(id_col)).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        d.withColumn("__rn__", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("__rn__") == 1)
        .select(
            F.col("cluster_id").cast("bigint"),
            F.col(id_col).cast("bigint").alias("canonical_id"),
            "cluster_size",
        )
    )


class IncrementalLSHIndex:
    """Streaming MinHash-LSH dedup index — the production crawl-dedup
    shape: documents ARRIVE over epochs, each batch is signed once,
    collided against the ACCUMULATED band-bucket index, and the newly
    discovered near-dup pairs are emitted that epoch (feed them into
    :class:`storm_spark.functions.mining.IncrementalComponents` to keep
    the cluster assignment live — the full streaming dedup pipeline).

    Exactness: band buckets come from the same :func:`_band_buckets` step
    as the batch :func:`minhash_lsh_pairs`, and a pair's two docs collide
    exactly when both are present — so every pair surfaces in exactly ONE
    epoch (the later endpoint's), and the union of per-epoch emissions
    over any arrival order equals the batch pair set verbatim (pinned in
    tests and by the `streaming_dedup_pipeline` gate's batch oracle).

    Contract: each doc id arrives EXACTLY once across the stream (the
    crawl-frontier contract) — the id contract of
    :mod:`storm_spark.state.generations`, checked on ids, not collisions
    (a re-crawl with CHANGED text would not self-collide), in both storage
    modes; run the exact-dedup step upstream. Scale: per epoch ONE
    bucket-keyed join of |Δ| signature rows against the index plus the
    within-batch bucket self-collision — never index × index; the index
    itself grows by |Δ|·bands rows per epoch. ``emit="pairs"`` (default)
    materializes every intra-bucket pair — O(m²) in a hot bucket's m
    members, what pairwise verifiers need; ``emit="edges"`` returns
    connectivity-equivalent STAR EDGES instead (see
    :func:`minhash_lsh_edges`) — O(|Δ|) within-batch rows plus ONE edge
    per touched bucket, the shape to feed straight into
    ``IncrementalComponents`` at crawl scale.

    Storage. By default the index is an in-memory DataFrame that
    re-shuffles into each epoch's join (fine for gates; measured in
    SCALE.md). With ``index_table``/``index_path`` it persists in a
    :class:`~storm_spark.state.generations.GenerationStore` rooted at
    ``index_path`` (the layout, its durability argument and the id
    contract are stated there, once): generation N holds ``index/`` — the
    band-bucket rows as a BUCKETED parquet table registered as
    ``{index_table}__g{N}``, hash-partitioned on the join key so the index
    side of the epoch join scans shuffle-free (zero Exchange,
    plan-asserted) — plus the shared ``ids`` sidecar that serves the
    exactly-once check at 1/bands of the index rows, and pending
    ``tombstones``. The pointer records the structural parameters
    (``_META_KEYS``) and ``id_buckets``; ``resume=True`` in a new driver
    incarnation attaches through it, refusing any parameter mismatch (it
    would silently mix incompatible band buckets), and keeps enforcing the
    exactly-once contract against the stored ids.

    Deletion: :meth:`remove_docs` tombstones ids in O(|Δ|) (pairs() and
    the collision join anti-join them out; edges mode emits repair stars
    over the touched buckets' survivors), and :meth:`compact_index`
    physically drops the rows and frees the ids. :meth:`rebuild` migrates
    the structural parameters. Reference parity: Trident state is mutable
    through StateUpdater (storm-core/src/jvm/storm/trident/state/
    StateUpdater.java) — deletion is an update.
    """

    #: structural LSH parameters recorded in the pointer and verified on
    #: ``resume=True`` — a restart with a different value for any of these
    #: would silently mix incompatible band buckets (wrong / missed pairs)
    #: or break the table's bucket layout on append
    _META_KEYS = ("n", "num_perm", "bands", "n_buckets")

    def __init__(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_perm: int = 12,
        bands: int = 4,
        index_table: str | None = None,
        index_path: str | None = None,
        n_buckets: int = 32,
        overwrite_index: bool = False,
        resume: bool = False,
        emit: str = "pairs",
        enforce_unique: bool = True,
        compact_every: int = 16,
        salt_buckets: int | None = None,
        salt: bool = True,
        id_buckets: int | str = "auto",
        auto_compact_every: int | None = None,
    ):
        if (index_table is None) != (index_path is None):
            raise ValueError("index_table and index_path go together")
        if resume and index_table is None:
            raise ValueError(
                "resume=True requires the bucketed mode (index_table/"
                "index_path) — the in-memory index dies with the driver"
            )
        if emit not in ("pairs", "edges"):
            raise ValueError(f"emit must be 'pairs' or 'edges', got {emit!r}")
        if compact_every < 2:
            raise ValueError("compact_every must be >= 2")
        if auto_compact_every is not None:
            if index_table is None:
                raise ValueError(
                    "auto_compact_every requires the bucketed mode "
                    "(index_table/index_path) — the in-memory index has no "
                    "physical files to compact"
                )
            if auto_compact_every < 1:
                raise ValueError("auto_compact_every must be >= 1")
        self.id_col, self.text_col = id_col, text_col
        self.n, self.num_perm, self.bands = n, num_perm, bands
        self.index_table, self.index_path = index_table, index_path
        self.n_buckets = n_buckets
        self.overwrite_index = overwrite_index
        self.resume = resume
        self.emit = emit
        self.enforce_unique = enforce_unique
        self.compact_every = compact_every
        # emission shape under emit="edges" (see minhash_lsh_edges):
        # two-level salted star unless salt=False and salt_buckets is
        # unset. Connectivity (and so the dedup_cluster oracle) is the same
        # in every mode; the cross-epoch link always uses the true batch
        # bucket min.
        self.salt_buckets = salt_buckets
        self.salt = salt
        # every auto_compact_every-th absorb runs compact_index() after the
        # epoch's emission — a stated small-file maintenance story for a
        # months-long stream. Per-incarnation: the counter restarts at 0 on
        # resume (at worst one period of extra files).
        self.auto_compact_every = auto_compact_every
        self._absorbs_since_compact = 0
        # ids-sidecar partition count ("auto" resolves from the first
        # absorbed batch); the pointer's value wins on resume
        self.id_buckets = id_buckets
        self._store = None if index_path is None else GenerationStore(index_path)
        self._index: DataFrame | None = None  # in-memory mode
        self._index_epochs = 0  # unions since the last in-memory fold
        self._resume_checked = False
        self._pairs: list[DataFrame] = []  # checkpointed per-epoch frames
        self._tombs: DataFrame | None = None  # in-memory pending tombstones
        self._repaired = False  # any edges-mode repair frame emitted

    @property
    def generation(self) -> int | None:
        """Serving generation of the bucketed index; None before its
        first write (and always in memory mode)."""
        return None if self._store is None else self._store.generation

    def _table(self, generation: int | None = None) -> str:
        gen = self.generation if generation is None else generation
        return f"{self.index_table}__g{gen}"

    def _params(self) -> dict:
        return {k: getattr(self, k) for k in self._META_KEYS}

    def drop_tables(self) -> None:
        """Drop the metastore entry of every generation on disk (the
        files stay) — for callers discarding a bucketed index."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        for g in self._store.generations():
            spark.sql(f"DROP TABLE IF EXISTS {self._table(g)}")

    def _attach_if_resuming(self, spark) -> None:
        """Driver-restart support: with ``resume=True`` the first call
        attaches to the generation the pointer names — the crawl-dedup
        job restarts, the index survives as parquet, and absorption
        continues where it left off. The exactly-once id contract
        survives the restart too (the stored-ids semi-join in
        :meth:`add_docs`). Pairs are emitted going forward only (the
        prior incarnation already emitted its epochs' pairs)."""
        if not self.resume or self._resume_checked:
            return
        meta = self._store.load()
        if meta is None:
            raise ValueError(
                f"resume=True but {self._store.pointer!r} is missing — "
                "nothing to resume; start a fresh index instead"
            )
        if not spark.catalog.tableExists(self._table()):
            raise ValueError(
                f"resume=True but index table {self._table()!r} does not "
                "exist — nothing to resume; start a fresh index instead"
            )
        mismatches = {
            k: (meta.get(k), getattr(self, k))
            for k in self._META_KEYS
            if meta.get(k) != getattr(self, k)
        }
        if mismatches:
            raise ValueError(
                f"resume=True with LSH parameters that do not match the "
                f"persisted index {self._table()!r}: "
                + ", ".join(
                    f"{k}: stored {s!r} != requested {r!r}"
                    for k, (s, r) in sorted(mismatches.items())
                )
            )
        # physical layout, not correctness: the stored value wins silently
        self.id_buckets = meta["id_buckets"]
        self._resume_checked = True

    def _stored_index(self, spark) -> DataFrame | None:
        if self._store is None:
            return self._index
        return None if self.generation is None else spark.table(self._table())

    def _write_index(
        self, rows: DataFrame, mode: str, generation: int | None = None,
        n_buckets: int | None = None,
    ) -> None:
        (
            rows.write.mode(mode)
            .option("path", self._store.path("index", generation))
            .bucketBy(n_buckets or self.n_buckets, "__band__", "__bucket__")
            .sortBy("__bucket__")
            .format("parquet")
            .saveAsTable(self._table(generation))
        )

    def _write_generation(self, rows: DataFrame, ids: DataFrame, params: dict) -> None:
        """Write a whole new generation — the bucketed index table from
        ``rows`` and the ids sidecar from ``ids``, concurrently (nothing
        references the generation until the flip) — then flip the pointer
        to it with ``params``."""
        from concurrent.futures import ThreadPoolExecutor

        gen = self._store.next_generation()
        with ThreadPoolExecutor(max_workers=2) as pool:
            fi = pool.submit(
                self._store.write_ids, ids, "__id__", self.id_buckets, "overwrite", gen
            )
            ft = pool.submit(
                self._write_index, rows, "overwrite", gen, params["n_buckets"]
            )
            self.id_buckets = fi.result()
            ft.result()
        self._store.flip(gen, {**params, "id_buckets": self.id_buckets})

    def _sweep(self, spark) -> None:
        """Start of every maintenance op: drop the generations the pointer
        does not name — a crashed op's orphan and the previous serving
        generation kept for reader continuity — files and tables."""
        for g in self._store.sweep():
            spark.sql(f"DROP TABLE IF EXISTS {self._table(g)}")

    def _tombstones(self, spark) -> DataFrame | None:
        """PENDING tombstoned ids (``__id__`` rows) awaiting physical
        drop, or None when no removal is outstanding — delta-sized
        between compactions, so every use site broadcasts it."""
        if self._store is None:
            return self._tombs
        return self._store.tombstones(spark)

    def _star_edges(self, frame: DataFrame) -> DataFrame:
        """Star emission over ``(__band__, __bucket__, __id__)`` rows in
        the index's configured mode — salted (the default, or whenever
        ``salt_buckets`` is set) or the plain single-window star. One body
        so the within-batch emission, the repair stars, and
        :meth:`rebuild` cannot diverge; every mode clusters identically
        (property-tested)."""
        if self.salt or self.salt_buckets:
            return _salted_star_edges(frame, self.salt_buckets or 32)
        w = Window.partitionBy("__band__", "__bucket__")
        return (
            frame.withColumn("__root__", F.min("__id__").over(w))
            .filter(F.col("__id__") != F.col("__root__"))
            .select(F.col("__root__").alias("id_a"), F.col("__id__").alias("id_b"))
        )

    def _within(self, nb: DataFrame) -> DataFrame:
        """Rows emitted among ``nb``'s own docs: every intra-bucket pair
        (``emit="pairs"``) or the star edges."""
        if self.emit == "edges":
            return self._star_edges(nb)
        a, b = nb.alias("a"), nb.alias("b")
        return a.join(
            b,
            (F.col("a.__band__") == F.col("b.__band__"))
            & (F.col("a.__bucket__") == F.col("b.__bucket__"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        ).select(F.col("a.__id__").alias("id_a"), F.col("b.__id__").alias("id_b"))

    def _repair_stars(self, spark, dele: DataFrame, all_tombs: DataFrame) -> DataFrame:
        """Repair star edges over the SURVIVING members of every bucket
        touched by ``dele`` — O(touched-bucket members) rows, bounded by
        the removed docs' bucket fan-out, never index-sized. Honors the
        salting mode: a takedown inside a degenerate bucket repairs
        through the same balanced two-level star the emission uses."""
        index = self._stored_index(spark)
        dead_buckets = (
            index.join(F.broadcast(dele), "__id__", "semi")
            .select("__band__", "__bucket__")
            .distinct()
        )
        survivors = index.join(
            F.broadcast(dead_buckets), ["__band__", "__bucket__"], "semi"
        ).join(F.broadcast(all_tombs), "__id__", "anti")
        return self._star_edges(survivors).distinct()

    def remove_docs(self, ids: DataFrame) -> DataFrame:
        """Delete indexed documents — the other half of the crawl-dedup
        lifecycle (takedowns, re-crawled pages, license withdrawals).
        Deletes are TOMBSTONES, mirroring
        :meth:`similarity.IVFPQIndex.remove_vectors`: the ids land in a
        delta-sized sidecar (the serving generation's ``tombstones`` in
        bucketed mode), so a delete never rewrites the INDEX;
        :meth:`compact_index` later drops the band-bucket rows (and the
        ids-sidecar rows) physically and frees the ids for re-indexing.
        After a removal, :meth:`pairs` answers as if the docs were never
        indexed, and subsequent epochs' cross-collisions skip them.

        The accumulated pairs view is filtered EAGERLY here (one
        anti-join fold over this incarnation's emitted frames,
        materialized — the same cost class as a ``compact_every`` fold;
        removals are rare): suppression must bind to the REMOVED
        INCARNATION's rows, not to the id — a read-time id filter would
        either keep suppressing a freed id re-indexed with new content
        after :meth:`compact_index` (wrongly hiding its new pairs) or,
        pruned on re-add, resurrect the removed content's stale pairs.
        Emissions a PRIOR driver incarnation already handed downstream
        are out of reach by design (emit-and-forget): reconcile there —
        anti-join the consumer's store, or rebuild from a batch pass.

        Under ``emit="edges"`` removal must also REPAIR connectivity:
        a removed doc may have been a star root, and merely dropping its
        edges would disconnect surviving docs that still share a bucket.
        So this method returns repair star edges over the surviving
        members of every touched bucket (see :meth:`_repair_stars`),
        which are also folded into :meth:`pairs`. Feed them downstream
        like an epoch's emission; if the driver crashes AFTER the
        tombstone append but before downstream consumed the repair,
        recover with :meth:`repair_edges` (idempotent re-derivation;
        valid until compact_index drops the rows). Connected components
        are NOT decremental — after a removal epoch, rebuild cluster
        labels from :meth:`pairs` (the ``dedup_index_delete`` gate's
        shape) rather than patching a live ``IncrementalComponents``.
        Under ``emit="pairs"`` the eager anti-join alone is exact (a
        surviving pair's endpoints both survive) and the returned frame
        is empty.

        The delete guards and the tombstone reservation are the id
        contract of :mod:`storm_spark.state.generations`; ``remove_docs``
        before any absorb raises."""
        from concurrent.futures import ThreadPoolExecutor

        spark = ids.sparkSession
        self._attach_if_resuming(spark)
        col = self.id_col if self.id_col in ids.columns else ids.columns[0]
        # checkpoint up front: the guards and the repair derivation run
        # several separate driver actions against this frame, and the
        # caller's lineage may be an expensive plan
        dele = ids.select(F.col(col).alias("__id__")).localCheckpoint()
        if self.generation is not None:
            stored_probe = self._store.read_ids(spark, "__id__", self.id_buckets, dele)
            stored_full = self._store.read_ids(spark, "__id__", self.id_buckets)
        elif self._index is not None:
            stored_probe = stored_full = (
                self._index.filter(F.col("__band__") == 0).select("__id__")
            )
        else:
            raise ValueError("no documents indexed yet")
        prior = self._tombstones(spark)
        # the repair derivation is a side-effect-free read: it overlaps the
        # guards; nothing durable happens until the tombstone append below
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_repair = None
            if self.emit == "edges":
                all_tombs = dele if prior is None else dele.unionByName(prior)
                f_repair = pool.submit(
                    lambda: self._repair_stars(spark, dele, all_tombs).localCheckpoint()
                )
            check_deletes(dele, "__id__", stored_probe, stored_full, prior)
            # repair edges are computed BEFORE the durable tombstone append
            # (a crash before the append means the removal never happened)
            if f_repair is not None:
                repaired = f_repair.result()
            else:
                # empty (id_a, id_b) frame with the id column's type —
                # buildable on a resumed incarnation whose _pairs is empty
                repaired = dele.select(
                    F.col("__id__").alias("id_a"), F.col("__id__").alias("id_b")
                ).limit(0)
        # EAGERLY strip the removed incarnation's rows from this
        # incarnation's accumulated view (see docstring). The durable
        # tombstone append and the fold's materialization are independent,
        # so the append runs on a worker thread while the fold checkpoints
        # here. Instance state mutates ONLY after the durable append is
        # confirmed: pairs suppressed in memory with no tombstone on disk
        # would diverge from the stored index.
        folded = None
        if self._pairs:
            folded = self._pairs[0]
            for p in self._pairs[1:]:
                folded = folded.unionByName(p)
            gone = F.broadcast(dele)
            folded = (
                folded.join(
                    gone.withColumnRenamed("__id__", "id_a"), "id_a", "anti"
                )
                .join(gone.withColumnRenamed("__id__", "id_b"), "id_b", "anti")
                .select("id_a", "id_b")  # USING joins front the key column
            )
        folded_ckpt = None
        if self._store is not None:
            with ThreadPoolExecutor(max_workers=1) as pool:
                f_append = pool.submit(self._store.append_tombstones, dele)
                if folded is not None:
                    folded_ckpt = folded.localCheckpoint()
                f_append.result()
        else:
            if folded is not None:
                folded_ckpt = folded.localCheckpoint()
            # in-memory tombstones mutate only after the fold succeeded —
            # same no-half-state contract as the bucketed branch
            self._tombs = (
                dele
                if self._tombs is None
                else self._tombs.unionByName(dele).localCheckpoint()
            )
        if folded_ckpt is not None:
            self._pairs = [folded_ckpt]
        if self.emit == "edges":
            # repair edges may re-state already-emitted edges (e.g. the
            # surviving root's old spokes) — pairs() distincts when any
            # repair frame exists, keeping its set contract
            self._pairs.append(repaired)
            self._repaired = True
        return repaired

    def repair_edges(self, ids: DataFrame) -> DataFrame:
        """Idempotently re-derive the repair stars for ALREADY-tombstoned
        ids — the recovery path when a driver crashed after
        :meth:`remove_docs`' durable tombstone append but before
        downstream consumed the returned repair frame (re-running
        remove_docs would correctly raise "already tombstoned"). Valid
        until :meth:`compact_index` physically drops the rows; requires
        every id to be currently tombstoned (loud otherwise). Edges mode
        only — pairs mode has no repair to lose."""
        if self.emit != "edges":
            raise ValueError("repair_edges is for emit='edges' only")
        spark = ids.sparkSession
        self._attach_if_resuming(spark)
        col = self.id_col if self.id_col in ids.columns else ids.columns[0]
        dele = ids.select(F.col(col).alias("__id__")).localCheckpoint()
        # an empty ids batch (or no tombstones at all) would slip past the
        # not-tombstoned guard below — reject it up front, loudly
        tomb = self._tombstones(spark)
        if tomb is None or not dele.head(1):
            raise ValueError(
                "repair_edges got an empty ids batch or found no pending "
                "tombstones — there is no crashed remove_docs to recover; "
                "for a live removal call remove_docs"
            )
        not_dead = (
            dele.join(F.broadcast(tomb), "__id__", "anti")
        ).head(1)
        if not_dead:
            raise ValueError(
                f"doc id {not_dead[0]['__id__']!r} is not tombstoned — "
                "repair_edges recovers a crashed remove_docs; for a live "
                "removal call remove_docs"
            )
        return self._repair_stars(spark, dele, tomb).localCheckpoint()

    def add_docs(self, batch: DataFrame) -> DataFrame:
        """Absorb one epoch of new documents; returns the epoch's newly
        discovered ``(id_a, id_b)`` rows (id_a < id_b), materialized —
        near-dup PAIRS under ``emit="pairs"``, connectivity-equivalent
        STAR EDGES under ``emit="edges"`` (see :func:`minhash_lsh_edges`).

        Bucketed mode: the first absorb of a fresh index writes generation
        0 and flips the pointer to it. That first write is preceded by the
        store's fresh-start guard (refuse a non-empty ``index_path``, or
        wipe it under ``overwrite_index=True``), which runs only once the
        epoch's emission has materialized — a failing first epoch leaves
        a prior index at the path untouched. Later absorbs append to the
        serving generation, ids sidecar strictly before index rows: a
        crash between the two makes the batch's replay raise loudly (a
        diagnosable dangling id, healed by :meth:`compact_index`), while
        the opposite order would let the replay silently double-index."""
        from concurrent.futures import ThreadPoolExecutor
        from functools import partial

        spark = batch.sparkSession
        self._attach_if_resuming(spark)
        nb = _band_buckets(
            batch, self.id_col, self.text_col, self.n, self.num_perm, self.bands
        ).localCheckpoint()
        b0 = nb.filter(F.col("__band__") == 0).select("__id__")
        tomb = self._tombstones(spark)
        stored = self._stored_index(spark)
        if stored is not None and tomb is not None:
            # pending-tombstoned rows are still physically present until
            # compact_index(); the collision join must answer as if they
            # were never indexed (broadcast anti-join — no extra shuffle)
            stored = stored.join(F.broadcast(tomb), "__id__", "anti")
        within = self._within(nb)
        if stored is not None and self.emit == "pairs":
            # arrival order need not respect id order: canonicalize
            a = nb.alias("a")
            within = within.unionByName(
                a.join(
                    stored.alias("o"),
                    (F.col("a.__band__") == F.col("o.__band__"))
                    & (F.col("a.__bucket__") == F.col("o.__bucket__")),
                ).select(
                    F.least(F.col("a.__id__"), F.col("o.__id__")).alias("id_a"),
                    F.greatest(F.col("a.__id__"), F.col("o.__id__")).alias("id_b"),
                )
            )
        elif stored is not None:
            # STAR EDGES across epochs: ONE edge per touched bucket links
            # the batch minimum to the stored bucket minimum. Connectivity
            # equals the pair clique by induction over epochs: every doc
            # stored in bucket B is already connected to B's stored
            # minimum. The roots come from a groupBy min, balanced
            # regardless of bucket skew (map-side partial aggregation).
            roots = nb.groupBy("__band__", "__bucket__").agg(
                F.min("__id__").alias("__root__")
            )
            within = within.unionByName(
                roots.join(stored, ["__band__", "__bucket__"])
                .groupBy("__band__", "__bucket__", "__root__")
                .agg(F.min("__id__").alias("__smin__"))
                .select(
                    F.least(F.col("__root__"), F.col("__smin__")).alias("id_a"),
                    F.greatest(F.col("__root__"), F.col("__smin__")).alias("id_b"),
                )
            )
        # the guards run on the RAW batch ids: the signature step groupBys
        # on id, blending a duplicate pair's shingles into one row
        ids = batch.select(F.col(self.id_col).alias("__id__"))
        stored_ids = rows = None
        if self.generation is not None:
            stored_ids = partial(
                self._store.read_ids, spark, "__id__", self.id_buckets, ids
            )
            rows = partial(spark.table, self._table())
        elif self._index is not None:
            band0 = self._index.filter(F.col("__band__") == 0).select("__id__")
            stored_ids = lambda: band0  # noqa: E731
        # the emission (a read of checkpointed frames) materializes while
        # the guards run; nothing is written until every guard has passed
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_emit = pool.submit(lambda: within.distinct().localCheckpoint())
            check_adds(
                ids, "__id__", stored_ids, tomb, self.enforce_unique, rows,
                "compact_index()",
            )
            # steady state: the ids append overlaps the emission — the
            # emission never reads the sidecar, and a failed emission
            # leaves the same diagnosable dangling id as a crash between
            # the two appends
            f_ids = (
                pool.submit(
                    self._store.write_ids, b0, "__id__", self.id_buckets, "append"
                )
                if self.generation is not None
                else None
            )
            new_pairs = f_emit.result()
            if f_ids is not None:
                f_ids.result()
        if self._store is None:
            self._index = nb if self._index is None else self._index.unionByName(nb)
            # the index joins into EVERY epoch's collision: fold the lazy
            # union every compact_every epochs to bound its plan depth
            self._index_epochs += 1
            if self._index_epochs >= self.compact_every:
                self._index = self._index.localCheckpoint()
                self._index_epochs = 0
        elif self.generation is None:
            for g in self._store.fresh_start(self.overwrite_index, "overwrite_index"):
                spark.sql(f"DROP TABLE IF EXISTS {self._table(g)}")
            self._write_generation(nb, b0, self._params())
        else:
            self._write_index(nb, "append")
        # keep the already-checkpointed per-epoch frames and union LAZILY
        # in pairs(); fold the list into ONE checkpointed frame whenever
        # it reaches compact_every, so the pairs() plan stays O(1) in
        # stream length at amortized O(|pairs-so-far| / compact_every)
        # re-materialization per epoch. Epoch emissions are disjoint
        # (every pair/edge involves that epoch's new ids): no distinct.
        self._pairs.append(new_pairs)
        if len(self._pairs) >= self.compact_every:
            folded = self._pairs[0]
            for p in self._pairs[1:]:
                folded = folded.unionByName(p)
            self._pairs = [folded.localCheckpoint()]
        if self.auto_compact_every:
            self._absorbs_since_compact += 1
            if self._absorbs_since_compact >= self.auto_compact_every:
                self.compact_index()
                self._absorbs_since_compact = 0
        return new_pairs

    def compact_index(self, n_files: int = 1) -> None:
        """Table-maintenance pass for the bucketed mode: every epoch's
        append adds up to ``n_buckets`` new parquet files, so a
        months-long stream accretes ``epochs × n_buckets`` small files
        whose per-file open/footer overhead dwarfs the data in the
        collision join. Rewrites the index and the ids sidecar as the
        NEXT generation of full buckets and flips the pointer to it
        (crash-atomic; the previous generation stays readable until the
        next maintenance op's sweep). Call between epochs (never
        concurrently with :meth:`add_docs`).

        Also the PHYSICAL-DROP half of the delete lifecycle (mirroring
        :meth:`similarity.IVFPQIndex.compact`): rows whose id is
        tombstoned are anti-joined out of both rewrites, and the
        tombstones stay behind with the old generation — a crash before
        the flip leaves them correctly PENDING. The freed ids become
        indexable again. The ids sidecar is re-derived from the index's
        band-0 rows, which also heals a dangling id left by an
        interrupted absorb.

        ``n_files`` > 1 writes ≤ ``n_files`` files per bucket with up to
        ``n_buckets · n_files``-way parallelism — size it so one task's
        slice fits executor memory at the real corpus."""
        from pyspark.sql import SparkSession

        if self._store is None:
            raise ValueError("compact_index is for the bucketed mode only")
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        self._attach_if_resuming(spark)
        if self.generation is None:
            raise ValueError("no index table to compact yet")
        if n_files < 1:
            raise ValueError("n_files must be >= 1")
        self._sweep(spark)
        tomb = self._tombstones(spark)
        # read the serving generation by PATH, not through the bucketed
        # table: the table scan advertises the bucket hash partitioning,
        # which makes the planner elide the explicit repartition below and
        # then drop the bucketed scan, leaving file-group tasks that write
        # task×bucket files. The path scan keeps the exchange.
        live = spark.read.parquet(self._store.path("index"))
        if tomb is not None:
            live = live.join(F.broadcast(tomb), "__id__", "anti")
        # repartition on the bucket columns with numPartitions == n_buckets
        # aligns Spark's shuffle hash with the table's bucket hash (both
        # pmod(murmur3(cols), n) — pinned in test_plans): task i holds
        # exactly bucket i and writes one file, n_buckets-way parallel
        if n_files == 1:
            rows = live.repartition(self.n_buckets, "__band__", "__bucket__")
        else:
            # salt on the FILE-bucket id, not the raw (band, bucket) pair —
            # many pairs share a file bucket, so a pair-level salt would
            # scatter each file bucket over up to |pairs|·n_files tasks
            rows = live.repartition(
                self.n_buckets * n_files,
                F.pmod(
                    F.hash("__band__", "__bucket__"), F.lit(self.n_buckets)
                ),
                F.pmod(F.xxhash64("__id__"), F.lit(n_files)),
            )
        ids = live.filter(F.col("__band__") == 0).select("__id__")
        self._write_generation(rows, ids, self._params())

    def rebuild(
        self,
        corpus: DataFrame,
        n: int | None = None,
        num_perm: int | None = None,
        bands: int | None = None,
        n_buckets: int | None = None,
    ) -> DataFrame:
        """Parameter migration with service continuity (the
        :meth:`similarity.IVFPQIndex.retrain` pattern): the structural
        LSH parameters (n / num_perm / bands / n_buckets) are frozen at
        creation; rebuild() re-signs the supplied ``corpus`` at the NEW
        parameters into the next generation and flips the pointer to it
        — the old generation serves until the flip and stays readable
        until the next maintenance op's sweep. Returns the fresh emission
        over the corpus at the new parameters and resets :meth:`pairs` to
        exactly that frame — the accumulated view answers the
        from-scratch batch operator at the new parameters verbatim (the
        ``dedup_index_rebuild`` gate's oracle).

        The index stores only band buckets — signatures cannot be
        re-derived at different parameters — so the operator RE-SUPPLIES
        the corpus text. Coverage is enforced loudly BOTH ways: a corpus
        missing a live indexed id would silently shrink the index; an
        extra id would bypass :meth:`add_docs`' exactly-once contract.
        Pending tombstones are applied (tombstoned docs must NOT be in
        ``corpus``; the new generation starts with no tombstones and the
        freed ids become indexable). Single writer assumed (never
        concurrent with add/remove/compact)."""
        if self._store is None:
            raise ValueError(
                "rebuild is for the bucketed mode only — an in-memory index "
                "is rebuilt by constructing a new IncrementalLSHIndex"
            )
        spark = corpus.sparkSession
        self._attach_if_resuming(spark)
        if self.generation is None:
            raise ValueError("no index table to rebuild yet")
        params = {
            k: getattr(self, k) if v is None else v
            for k, v in zip(self._META_KEYS, (n, num_perm, bands, n_buckets))
        }
        if params["num_perm"] % params["bands"]:
            raise ValueError(
                f"num_perm={params['num_perm']} not divisible by "
                f"bands={params['bands']}"
            )
        self._sweep(spark)
        # loud two-way coverage check: corpus ids must EXACTLY equal the
        # live (non-tombstoned) indexed ids
        cids = corpus.select(F.col(self.id_col).alias("__id__"))
        dup = cids.groupBy("__id__").count().filter(F.col("count") > 1).head(1)
        if dup:
            raise ValueError(
                f"doc id {dup[0]['__id__']!r} appears more than once in the "
                "rebuild corpus — each live doc exactly once"
            )
        live = self._store.read_ids(spark, "__id__", self.id_buckets)
        tomb = self._tombstones(spark)
        if tomb is not None:
            live = live.join(F.broadcast(tomb), "__id__", "anti")
        missing = live.join(cids, "__id__", "anti").head(1)
        if missing:
            raise ValueError(
                f"doc id {missing[0]['__id__']!r} is live in the index but "
                "absent from the rebuild corpus — a rebuild must re-supply "
                "every surviving document's text"
            )
        extra = cids.join(live, "__id__", "anti").head(1)
        if extra:
            raise ValueError(
                f"doc id {extra[0]['__id__']!r} is in the rebuild corpus but "
                "not live in the index — absorb new docs via add_docs, "
                "never through a rebuild"
            )
        # sign ONCE at the new parameters: feeds both writes and the
        # fresh emission
        nb = _band_buckets(
            corpus, self.id_col, self.text_col,
            params["n"], params["num_perm"], params["bands"],
        ).localCheckpoint()
        self._write_generation(
            nb.repartition(params["n_buckets"], "__band__", "__bucket__"),
            nb.filter(F.col("__band__") == 0).select("__id__"),
            params,
        )
        for k, v in params.items():
            setattr(self, k, v)
        # the old pairs were discovered under the OLD banding: replace
        # them with the from-scratch emission over the signed corpus
        fresh = self._within(nb).distinct().localCheckpoint()
        self._pairs = [fresh]
        self._repaired = False
        return fresh

    def pairs(self) -> DataFrame:
        """All rows emitted so far — under ``emit="pairs"`` equals the
        batch :func:`minhash_lsh_pairs` over every doc absorbed so far;
        under ``emit="edges"`` a connectivity-equivalent star-edge set
        (same connected components, not the same rows). Plan depth stays
        bounded by ``compact_every`` regardless of stream length (the
        per-epoch list folds into one checkpointed frame when it fills).

        :meth:`remove_docs` strips a removed doc's rows from the
        accumulated frames EAGERLY (suppression binds to the removed
        incarnation's rows, so a freed id's later re-index surfaces its
        new pairs while the old content's stay gone), so this view
        answers over the surviving docs exactly: verbatim the batch pair
        set over survivors under ``emit="pairs"``, connectivity-equal to
        it under ``emit="edges"`` (the repair edges restore any star
        spokes the removal severed)."""
        if not self._pairs:
            raise ValueError("no documents absorbed yet")
        out = self._pairs[0]
        for p in self._pairs[1:]:
            out = out.unionByName(p)
        if self._repaired:
            # repair frames may re-state edges already emitted — restore
            # the set contract (one shuffle over the view, only on the
            # post-removal path)
            out = out.distinct()
        return out


class IncrementalSurvivorship:
    """Incrementally-maintained dedup survivorship — the stage AFTER the
    streaming sign→collide→cluster pipeline (VERDICT r8 stretch #8):
    keeps :func:`canonicalize_clusters`' per-cluster answer (canonical =
    max quality, ties to smallest id, plus cluster size) live across
    epochs, equal at EVERY epoch to the batch operator over docs-so-far.

    Why the delta argument transfers: the per-cluster aggregate
    (max-quality/min-id, additive size) is another MONOTONE MERGE —
    combining two clusters' summaries gives the merged cluster's summary
    with no need to revisit members. So per epoch only two kinds of
    state rows change: (a) clusters RELABELED by this epoch's label
    cascade — :meth:`storm_spark.functions.mining.IncrementalComponents.
    last_fold` names them, whole-cluster-into-whole-cluster — and (b)
    clusters touched by the epoch's new documents. Everything else
    passes through untouched (broadcast anti-join, no shuffle); the
    merge groupBy shuffles |touched| summary rows, never docs-so-far.
    State is one summary row per live cluster: (cluster_id, best
    quality, canonical id, size).

    Singleton semantics match the batch operator: every absorbed doc
    contributes (its own id as cluster when unpaired — the batch
    left-join coalesce), so :meth:`canonical` covers all docs-so-far.

    Reference parity: Trident persistentAggregate with a Combiner-style
    monotone state merge (storm/trident/Stream.java persistentAggregate;
    state/map/TransactionalMap.java multiUpdate) — the fold-map-driven
    relabel is the beyond-reference piece Spark's incremental layer
    needs because the KEY itself (the cluster's min label) evolves."""

    def __init__(self, id_col: str = "doc_id", quality_col: str = "n_chars"):
        self.id_col, self.quality_col = id_col, quality_col
        # one row per live cluster: (cluster_id, __q__ best quality,
        # __i__ canonical id, __n__ size) — kept in contribution shape so
        # cluster-level rows re-merge exactly like doc-level ones
        self._stats: DataFrame | None = None

    @staticmethod
    def _roll(contribs: DataFrame) -> DataFrame:
        """Merge contribution rows per cluster: max quality, ties to
        smallest id (the max(struct(q, -i)) shape), additive size."""
        return (
            contribs.groupBy("cluster_id")
            .agg(
                F.max(
                    F.struct(F.col("__q__").alias("q"), (-F.col("__i__")).alias("neg"))
                ).alias("__best__"),
                F.sum("__n__").alias("__n__"),
            )
            .select(
                "cluster_id",
                F.col("__best__.q").alias("__q__"),
                (-F.col("__best__.neg")).alias("__i__"),
                "__n__",
            )
        )

    def absorb(
        self,
        new_docs: DataFrame,
        labels: DataFrame | None,
        fold: DataFrame | None,
    ) -> None:
        """Absorb one epoch: ``new_docs`` = this epoch's documents
        (id_col, quality_col — each doc arrives EXACTLY once across the
        stream, the pipeline's contract), ``labels`` = the POST-cascade
        ``(id, cluster_id)`` table from IncrementalComponents (None if no
        pairs exist yet), ``fold`` = the same epoch's
        :meth:`~storm_spark.functions.mining.IncrementalComponents.
        last_fold` map (None when no cluster was relabeled)."""
        from pyspark.sql.types import IntegralType, NumericType

        fields = {f.name: f.dataType for f in new_docs.schema.fields}
        # quality keeps its NATIVE numeric type through the max(struct)
        # argmax (works for doubles too) — casting to bigint truncated
        # fractional scores and could pick a different canonical_id than
        # the batch canonicalize_clusters this class must equal (ADVICE
        # r9 #4). Ids must be integral: the tie-break negates them, and
        # the batch twin's output contract casts them to bigint.
        if not isinstance(fields[self.quality_col], NumericType):
            raise ValueError(
                f"quality column {self.quality_col!r} must be numeric, got "
                f"{fields[self.quality_col].simpleString()} — a non-numeric "
                "quality has no max(struct) argmax matching the batch "
                "canonicalize_clusters ordering"
            )
        if not isinstance(fields[self.id_col], IntegralType):
            raise ValueError(
                f"id column {self.id_col!r} must be an integral type, got "
                f"{fields[self.id_col].simpleString()} — tie-breaks negate "
                "the id and the canonical_id contract is bigint"
            )
        contribs = new_docs.select(
            F.col(self.id_col).cast("bigint").alias("__i__"),
            F.col(self.quality_col).alias("__q__"),
            F.lit(1).cast("bigint").alias("__n__"),
        )
        if labels is not None:
            lab = labels.select(
                F.col("id").alias("__i__"), F.col("cluster_id").alias("__l__")
            )
            contribs = contribs.join(lab, "__i__", "left").select(
                F.coalesce("__l__", "__i__").alias("cluster_id"),
                "__q__",
                "__i__",
                "__n__",
            )
        else:
            contribs = contribs.select(
                F.col("__i__").alias("cluster_id"), "__q__", "__i__", "__n__"
            )
        remaining = self._stats
        if self._stats is not None and fold is not None:
            fm = F.broadcast(fold)
            folded = self._stats.join(
                fm, self._stats["cluster_id"] == fm["old_label"]
            ).select(
                F.col("new_label").alias("cluster_id"), "__q__", "__i__", "__n__"
            )
            remaining = self._stats.join(
                fm, self._stats["cluster_id"] == fm["old_label"], "left_anti"
            )
            contribs = contribs.unionByName(folded)
        if remaining is None:
            merged = self._roll(contribs)
            self._stats = merged.localCheckpoint()
            return
        # materialize the |Δ|-sized contribution set ONCE — its lineage
        # (new-docs⋈labels plus the fold join) would otherwise re-run
        # three times below (touched semi, untouched anti, merge)
        contribs = contribs.localCheckpoint()
        # split remaining state on the |Δ|-bounded touched-key set so the
        # merge shuffles ONLY touched clusters' summary rows
        keys = contribs.select("cluster_id").distinct()
        touched = remaining.join(F.broadcast(keys), "cluster_id", "semi")
        untouched = remaining.join(F.broadcast(keys), "cluster_id", "left_anti")
        merged = self._roll(contribs.unionByName(touched))
        self._stats = untouched.unionByName(merged).localCheckpoint()

    def canonical(self) -> DataFrame:
        """Current survivorship table ``(cluster_id, canonical_id,
        cluster_size)`` — equals :func:`canonicalize_clusters` over every
        doc absorbed so far."""
        if self._stats is None:
            raise ValueError("no documents absorbed yet")
        return self._stats.select(
            F.col("cluster_id").cast("bigint"),
            F.col("__i__").cast("bigint").alias("canonical_id"),
            F.col("__n__").cast("bigint").alias("cluster_size"),
        )
