"""Physical-plan audits — guardrails for 100 TB behavior.

These assert the *shape* of the plans Catalyst produces for engine queries:
filters and column pruning reach the parquet scan, small join sides
broadcast, aggregations are partial+final hash aggs, top-k compiles to
TakeOrderedAndProject. A correctness-green change that regresses one of
these is a scale regression.
"""

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_pruning_pushdown(spark):
    from storm_spark.queries import q_project_filter

    plan = _plan(q_project_filter(spark, SF))
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,45" in plan or "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]
    # only the 4 needed columns are read (3 projected + filter cols)
    read_schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schema, plan
    cols = [c.split(":")[0] for c in read_schema.group(1).split(",")]
    assert set(cols) <= {"l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"}


def test_join_inner_broadcasts_dim(spark):
    from storm_spark.queries import q_join_inner

    plan = _plan(q_join_inner(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_q1_is_hash_agg_with_partial(spark):
    from storm_spark.queries import q1

    plan = _plan(q1(spark, SF))
    assert "HashAggregate" in plan
    # partial + final pair around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_first_n_is_take_ordered(spark):
    from storm_spark.queries import q_first_n

    plan = _plan(q_first_n(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_wordcount_plan_shape(spark):
    """Scan reads only `text`; tokenize stays JVM-side (Generate, no python
    eval); count is partial+final hash agg around one exchange."""
    from storm_spark.queries import q_wordcount

    plan = _plan(q_wordcount(spark, SF))
    assert "ReadSchema: struct<text:string>" in plan
    assert "Generate" in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semi_join_plan(spark):
    from storm_spark.queries import q_semi_join

    plan = _plan(q_semi_join(spark, SF))
    assert "LeftSemi" in plan


#: every catalog query that must stay fully JVM-side (no row-at-a-time or
#: Arrow Python eval anywhere in the plan) — i.e. everything except the
#: deliberately-pandas paths (multimodal decode kernels, general Aggregator
#: contracts) and the state/feeder-driven queries
_EXPRESSION_ONLY = [
    "q1",
    "project_filter",
    "each_compute",
    "split_explode",
    "wordcount",
    "groupby_sum",
    "chained_agg",
    "distinct",
    "rollup",
    "merge",
    "join_inner",
    "join_outer",
    "join_nway",
    "semi_join",
    "anti_join",
    "first_n",
    "topk_per_group",
    "window_hourly",
    "sessionize",
    "json_extract",
    "dedup_exact",
    "dedup_jaccard",
    "minhash_lsh",
    "simhash",
    "cosine_topk",
    "ann_lsh",
    "ann_ivf",
    "text_profile",
    "cube",
    "pivot",
    "count_distinct",
    "approx_distinct",
    "percentile",
    "percentile_exact",
    "embedding_near_dup",
    "semantic_dedup",
    "substring_dedup",
    "pmi_collocations",
    "training_order",
    "trailing_zscore",
    "frequent_pairs",
    "pagerank",
    "fuzzy_pairs",
    "scd2",
    "centroid_classify",
    "pit_join",
    "group_corr",
    "user_entropy",
    "k_anonymize",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "lm_perplexity",
    "quality_gate_approx",
    "equi_depth_bins",
    "contamination_pairs",
    "triangle_count",
    "trailing_corr",
    # r6 expression-only additions
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q22",
    "ks_drift",
    "dedup_jaccard_prefix",
    "percentile",
    "sessionize_native",
    "set_intersect",
    "set_except",
    # late-r6 expression-only additions (graph_bfs excluded: its plan
    # construction runs per-hop actions, covered by test_late_r6 instead)
    "dedup_merge",
    "trailing_ewma",
    "unpivot",
    "quantile_normalize",
    "weighted_median",
    "grouping_sets",
    "user_streaks",
    # r7 expression-only additions
    "js_drift",
    "merge_intervals",
    "group_mode",
    "rolling_median",
    "seasonal_baseline",
    "hll_distinct",
    "zorder_stats",
    "bpe_segment",
]


def test_no_python_eval_on_expression_paths(spark):
    from storm_spark.queries import QUERIES

    offenders = []
    for name in _EXPRESSION_ONLY:
        plan = _plan(QUERIES[name](spark, SF))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan:
            offenders.append(name)
    assert not offenders, f"Python eval leaked into hot path: {offenders}"


def test_text_profile_tokenizes_once(spark):
    """The token array must be materialized once per row — if CollapseProject
    inlines it, the regex split reappears once per derived column."""
    from storm_spark.functions.text import TOKEN_SPLIT_RE
    from storm_spark.queries import q_text_profile

    plan = _plan(q_text_profile(spark, SF))
    assert plan.count(TOKEN_SPLIT_RE) == 1, plan.count(TOKEN_SPLIT_RE)


def test_ann_ivf_broadcasts_centroids(spark):
    from storm_spark.queries import q_ann_ivf

    plan = _plan(q_ann_ivf(spark, SF))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_cosine_topk_broadcasts_queries(spark):
    from storm_spark.queries import q_cosine_topk

    plan = _plan(q_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_asof_join_no_cartesian(spark):
    from storm_spark.queries import q_asof_join

    plan = _plan(q_asof_join(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_state_query_is_join_not_collect(spark):
    """stateQuery compiles to a join against the state table, never a
    driver-side lookup loop."""
    from storm_spark import FeederSource, LocalCluster, Topology
    from storm_spark.operations import Count, MapGet, Split
    from storm_spark.state import MemoryMapState

    topo = Topology(spark)
    feeder = FeederSource(["sentence"])
    wc = (
        topo.new_stream("s", feeder)
        .each(["sentence"], Split(), ["word"])
        .group_by(["word"])
        .persistent_aggregate(MemoryMapState.factory(), ["word"], Count(), ["count"])
    )
    q = (
        topo.new_drpc_stream("words")
        .each(["args"], Split(), ["word"])
        .state_query(wc, ["word"], MapGet(), ["count"])
    )
    cluster = LocalCluster(topo)
    feeder.feed([["a b"]])
    plan = _plan(cluster.drpc_dataframe("words", "a"))
    assert "Join" in plan


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketing must turn the interval theta-join into an equi-join."""
    from storm_spark.queries import q_range_join

    plan = _plan(q_range_join(spark, SF))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join contract: two tables bucketed by the join key into
    the same bucket count sort-merge-join with ZERO Exchange; the identical
    join on unbucketed frames needs two."""
    from storm_spark.io.bucketed import write_bucketed

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_quantity")
    od = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_custkey")
    bl = write_bucketed(li, "bkt_li", ["l_orderkey"], 4, str(tmp_path / "li"))
    bo = write_bucketed(od, "bkt_od", ["o_orderkey"], 4, str(tmp_path / "od"))
    plan = (
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    unplan = (
        li.hint("merge")
        .join(od, li.l_orderkey == od.o_orderkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert unplan.count("Exchange") == 2


def test_partitioned_write_prunes_at_planning_time(spark, tmp_path):
    """A filter on a hive-partition column becomes a PartitionFilter: pruned
    directories never reach the scan (0 pushed data filters needed), and the
    scan's partition count equals the matching directories only."""
    from pyspark.sql import functions as F

    from storm_spark.io.bucketed import write_partitioned

    from storm_spark.queries import _events

    ev = _events(spark, "/root/testdata/sf0.001").withColumn(
        "event_date", F.to_date("ts").cast("string")
    )
    pe = write_partitioned(ev, str(tmp_path / "ev"), ["event_date"])
    q = pe.filter(F.col("event_date") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0]
    n_days = ev.select("event_date").distinct().count()
    assert n_days > 1
    # the date predicate is a PLANNING-time partition filter, not a data
    # filter evaluated per row group
    part_section = plan.split("PartitionFilters")[1].split("]")[0]
    assert "2024-01-02" in part_section


def test_tfidf_plan_shape(spark):
    """n_docs broadcasts (1-row aggregate), tf/df aggs have partials, and the
    top-k cut compiles to WindowGroupLimit (partial per-partition limit
    before the doc-keyed exchange) — not a full sort of every (doc, term)."""
    from storm_spark.queries import q_tfidf_top_terms

    plan = _plan(q_tfidf_top_terms(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_active_dedup_before_fanout(spark):
    """(day, key) dedup aggregates BEFORE the window fan-out Generate — the
    7x explode multiplies daily-active pairs, never raw events."""
    from storm_spark.queries import q_rolling_active

    plan = _plan(q_rolling_active(spark, SF))
    gen = plan.index("Generate")
    # the dedup HashAggregate pair sits below (later in formatted text than)
    # the Generate node it feeds
    assert "HashAggregate" in plan[gen:], plan
    assert "count(distinct" in plan.lower() or "distinct" in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_redact_pii_is_pure_projection(spark):
    """Redaction is map-side only: no exchange anywhere in the plan."""
    from storm_spark.queries import q_redact_pii

    plan = _plan(q_redact_pii(spark, SF))
    # the only allowed exchange is the scan-rebalance repartition
    # (formatted output lists each node twice: tree + detail section)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_near_dup_pairs_join_carries_no_vectors(spark):
    """The LSH bucket self-join's immediate inputs are slim (id, table, sig)
    — the embedding array attaches only after candidate dedup."""
    from storm_spark.functions.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.9, 8, 2, dim=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the distinct on (id_a, id_b) must appear — candidates dedup before
    # the vector joins
    assert re.search(r"HashAggregate\(keys=\[id_a#\d+L, id_b#\d+L\], functions=\[\]", plan), plan


def test_quota_sample_uses_window_group_limit(spark):
    """The per-group top-k cut pre-trims per partition (WindowGroupLimit)
    before the group-keyed exchange — the shuffle carries at most
    k x partitions rows per group, never the raw group."""
    from storm_spark.queries import q_quota_sample

    plan = _plan(q_quota_sample(spark, SF))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_dedup_plan_shape(spark):
    """Gram-count aggregation must pre-combine map-side (partial+final), the
    dup-gram probe must be a semi join keyed on the 8-byte hash, and the
    gram STRING must never survive past the hash projection into an
    exchange."""
    from storm_spark.queries import q_substring_dedup

    plan = _plan(q_substring_dedup(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan  # partial + final on __sh__
    assert "LeftSemi" in plan, plan
    # the only exploded payload reaching an exchange is the hashed gram
    exchanges = [seg for seg in plan.split("Exchange") if "__s__" in seg.split("\n")[0]]
    assert not exchanges, "raw gram string rode a shuffle"


def test_semantic_dedup_broadcasts_centroids(spark):
    """Centroid assignment must be a broadcast nested loop over the tiny
    centroid set (never a shuffled cartesian), and the within-cell candidate
    join must carry only slim (id, cell) rows — the embedding column
    attaches afterwards by hash join."""
    from storm_spark.queries import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_trailing_zscore_single_exchange(spark):
    """All three trailing sums + the score ride ONE key-keyed exchange
    (the only other Exchange is the scan-rebalance round-robin)."""
    from storm_spark.queries import q_trailing_zscore

    plan = (
        q_trailing_zscore(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_frequent_pairs_no_forced_marginal_broadcast(spark):
    """The |vocab|-sized marginal joins are AQE-decided (no forced
    broadcast that would collect an open-vocabulary item table to the
    driver); the 1-row basket total still attaches as a broadcast NLJ,
    never a cartesian product."""
    from storm_spark.queries import q_frequent_pairs

    plan = _plan(q_frequent_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin Cross" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_broadcasts_rank_table(spark):
    """Each damped round joins the edge list against a BROADCAST rank
    table — no shuffle of edges per iteration beyond the grouped sum."""
    from storm_spark.queries import q_pagerank

    plan = _plan(q_pagerank(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_centroid_classify_broadcasts_centroids(spark):
    """The |labels|·dim centroid table broadcasts; corpus vectors never
    shuffle for the classification pass."""
    from storm_spark.queries import q_centroid_classify

    plan = _plan(q_centroid_classify(spark, SF))
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan, plan


def test_no_unbounded_persist_convention():
    """Repo convention: every ``.persist()`` inside operator code must be
    either (a) ``bounded_persist``'s own registry-managed call in
    session.py, or (b) paired with an explicit ``.unpersist()`` in the same
    module (an eager consume-then-release path). A bare ``.persist()`` on a
    returned lazy DataFrame pins one more cache per operator call in a
    long-lived session — the leak bounded_persist exists to prevent."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "storm_spark"
    # file (relative) -> max allowed raw .persist() calls (the audited
    # paired sites); any new site in any file must use bounded_persist
    allowed = {
        "session.py": 2,           # bounded_persist's managed call + its
                                   # own docstring naming the anti-pattern
        "stream.py": 1,            # paired unpersist at stream.py
        "topology.py": 1,          # last_touched_keys swap (unpersists prev)
        "plans/rollup.py": 1,      # fine_delta, unpersisted after merge
        "state/parquet_state.py": 1,  # per-epoch batch, unpersisted
        "functions/skew.py": 1,    # small side, unpersisted after join
        "functions/dedup.py": 1,   # edges in near_dup_clusters, unpersisted
    }
    for py in sorted(root.rglob("*.py")):
        rel = str(py.relative_to(root))
        n = py.read_text().count(".persist()")
        cap = allowed.get(rel, 0)
        assert n <= cap, (
            f"{rel} has {n} raw .persist() calls (allowed {cap}) — use "
            "storm_spark.session.bounded_persist or pair with .unpersist()"
        )
        if cap and n and rel != "session.py":
            assert ".unpersist()" in py.read_text(), (
                f"{rel} persists without any unpersist"
            )


def test_tpch_q6_filters_pushed(spark):
    """All four Q6 predicates (two dates, discount band, quantity) must
    reach the parquet scan."""
    from storm_spark.queries import q_tpch_q6

    plan = _plan(q_tpch_q6(spark, SF))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed


def test_tpch_q3_no_forced_broadcast_and_takeordered(spark):
    """Q3 joins only sf-linear tables (lineitem/orders/customer), so the
    plan must carry NO forced broadcast hint — AQE picks broadcast at
    bench scale but can degrade to shuffle join at 100x (VERDICT r5 #1).
    Top-10 still compiles to TakeOrderedAndProject, and no cartesian."""
    from storm_spark.queries import q_tpch_q3

    df = q_tpch_q3(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan, plan


def test_trailing_corr_single_exchange(spark):
    """All six trailing sums + r ride ONE key-keyed exchange."""
    from storm_spark.queries import q_trailing_corr

    plan = (
        q_trailing_corr(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tpch_q5_dims_broadcast_facts_aqe(spark):
    """Only the bounded dims (nation=25, region=5 rows) carry forced
    broadcast hints; the sf-linear customer/supplier joins are
    AQE-decided (VERDICT r5 #1). The dims still compile to
    BroadcastHashJoin and nothing goes cartesian."""
    from storm_spark.queries import q_tpch_q5

    df = q_tpch_q5(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    # exactly the two bounded-dim hints (region into nation, nation into
    # the fact chain) — any more means someone re-forced a fact table
    assert analyzed.count("ResolvedHint") == 2, analyzed
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "Cartesian" not in plan, plan


def test_tpch_q4_semi_join_with_residual(spark):
    """The adapted EXISTS compiles to a LEFT-SEMI join on the order key
    (non-equi shipdate residual riding the same join), never a cartesian
    or an inner-join + distinct."""
    from storm_spark.queries import q_tpch_q4

    plan = _plan(q_tpch_q4(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "Cartesian" not in plan, plan
    assert "Distinct" not in plan, plan


def test_tpch_q16_anti_join_no_forced_broadcast(spark):
    """NOT IN compiles to LEFT-ANTI; the link-table DISTINCT runs as a
    partial-then-final aggregate before the part join; no forced
    broadcast hints (supplier/part strategy is AQE-decided)."""
    from storm_spark.queries import q_tpch_q16

    df = q_tpch_q16(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "Cartesian" not in plan, plan


def test_tpch_q13_outer_join_pushed_filter(spark):
    """The priority exclusion prunes the orders scan BEFORE the outer
    join (pushed filter), the join stays outer (zero-order customers
    survive), and nothing goes cartesian."""
    from storm_spark.queries import q_tpch_q13

    plan = _plan(q_tpch_q13(spark, SF))
    assert "LeftOuter" in plan, plan
    assert "Cartesian" not in plan, plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "o_orderpriority" in pushed, pushed


def test_tpch_q22_anti_join_scalar_threshold(spark):
    """NOT EXISTS compiles to LEFT-ANTI on the date-pruned orders key
    projection; the scalar avg rides a bounded 1-row broadcast (BNLJ over
    a single-row aggregate is not a data-sized cartesian)."""
    from storm_spark.queries import q_tpch_q22

    plan = _plan(q_tpch_q22(spark, SF))
    assert "LeftAnti" in plan, plan
    pushed = plan.split("PushedFilters:")
    assert any("o_orderdate" in seg.split("\n")[0] for seg in pushed[1:]), plan


def test_tpch_q10_dim_hint_only_and_takeordered(spark):
    """Only the 25-row nation dim is hint-broadcast; the sf-linear
    customer/orders/lineitem joins are AQE-decided. Returnflag and the
    date window push to the scans; top-20 is TakeOrderedAndProject."""
    from storm_spark.queries import q_tpch_q10

    df = q_tpch_q10(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan, plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_returnflag" in s for s in pushed), pushed
    assert any("o_orderdate" in s for s in pushed), pushed


def test_tpch_q14_single_join_conditional_agg(spark):
    """The promo share rides ONE lineitem-part join (the CASE is
    map-side, not a second filtered join); date filter pushed; no forced
    hints, no cartesian."""
    from storm_spark.queries import q_tpch_q14

    df = q_tpch_q14(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    plan = _plan(df)
    assert plan.count("Join") >= 1 and "Cartesian" not in plan, plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in s for s in pushed), pushed


def test_tpch_q7_two_nation_dims_only_hints(spark):
    """Exactly the two bounded nation-dim hints; fact joins AQE-decided;
    ship-date window pushed; no cartesian."""
    from storm_spark.queries import q_tpch_q7

    df = q_tpch_q7(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2, analyzed
    plan = _plan(df)
    assert "Cartesian" not in plan, plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in s for s in pushed), pushed


def test_tpch_q8_single_agg_bounded_hints(spark):
    """Market share = conditional CASE inside ONE aggregation (exactly
    one pass over the join tree — no second scan for the denominator);
    only the three bounded dims carry hints; no cartesian."""
    from storm_spark.queries import q_tpch_q8

    df = q_tpch_q8(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 3, analyzed
    plan = _plan(df)
    assert "Cartesian" not in plan, plan
    # one logical aggregate (partial+final physical pair at most)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Aggregate") == 1, opt


def test_tpch_q15_window_over_aggregate_not_rows(spark):
    """The scalar-max window runs over the |suppliers|-sized AGGREGATE
    (below an Aggregate node in the plan), never over raw lineitem — the
    single-partition window is bounded by supplier cardinality."""
    from storm_spark.queries import q_tpch_q15

    plan = q_tpch_q15(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    # Window sits above Aggregate in the optimized logical plan
    iw, ia = plan.index("Window"), plan.index("Aggregate")
    assert iw < ia, plan


def test_tpch_q17_integer_predicate_no_window(spark):
    """The 0.2*avg correlated subquery compiles to a per-part aggregate
    + join with an integer cross-product predicate — no window over raw
    lineitem rows and no cartesian."""
    from storm_spark.queries import q_tpch_q17

    plan = _plan(q_tpch_q17(spark, SF))
    assert "Window" not in plan, plan
    assert "Cartesian" not in plan, plan


def test_tpch_q18_semi_prune_and_takeordered(spark):
    """The HAVING-sum key list prunes orders via LEFT-SEMI before the
    3-way join, and the top-100 compiles to TakeOrderedAndProject — no
    global sort of the joined fact rows."""
    from storm_spark.queries import q_tpch_q18

    plan = _plan(q_tpch_q18(spark, SF))
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Cartesian" not in plan, plan


def test_merge_intervals_single_data_exchange(spark):
    """The interval-union claim: both window passes and the (key, island)
    rollup run on ONE key-keyed exchange — grouping on (key, island) is
    satisfied by hash-partitioning on key alone, so Catalyst must not
    insert a second data shuffle (scan-rebalance repartition excluded)."""
    from storm_spark.queries import q_merge_intervals

    plan = _plan(q_merge_intervals(spark, SF))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan  # 1 keyed + at most the scan rebalance
    # the operator aliases the key internally: the single keyed exchange
    # partitions on `key` and both windows plus the rollup reuse it
    assert plan.count("hashpartitioning(key#") == 1, plan


def test_seasonal_baseline_no_python_and_decimal_flag(spark):
    """The anomaly flag is expression-only DECIMAL arithmetic — no Python
    eval nodes anywhere, and the profile join is planned (no collect)."""
    from storm_spark.queries import q_seasonal_baseline

    plan = _plan(q_seasonal_baseline(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" in plan


def test_streaming_sample_batch_twin_uses_window_group_limit(spark):
    """The batch side of the streaming_sample contract: the quota oracle's
    Spark twin (sample_k_per_group) pre-trims each partition to k before
    the exchange — WindowGroupLimit in the plan (same assertion as the
    quota_sample gate; repeated here because streaming_sample's scale
    story leans on the batch twin for reconciliation runs)."""
    from storm_spark.functions.sampling import sample_k_per_group
    from storm_spark.queries import _events

    e = _events(spark, SF)
    plan = _plan(sample_k_per_group(e, "event_type", "event_id", k=20))
    assert "WindowGroupLimit" in plan, plan


def test_ann_ivf_pq_code_scan_is_cell_pruned(spark):
    """The IVF-PQ composition claim (VERDICT r7 #3): the ADC integer-LUT
    aggregate must consume a join keyed on the IVF cell — the probed ⋈
    codes restriction runs BEFORE scoring, so the code scan is
    |probed cells|, not |corpus|. Asserted structurally on the analyzed
    tree (the __iscore__ aggregate sits ABOVE a __cell__-keyed join) and
    semantically (every returned neighbor shares a probed cell with its
    query under the same deterministic assignment)."""
    from storm_spark.functions import similarity
    from storm_spark.queries import q_ann_ivf_pq, _t

    import json as _json

    df = q_ann_ivf_pq(spark, SF)
    # real tree walk (not a string scan): the Aggregate producing
    # __iscore__ must contain, WITHIN ITS OWN SUBTREE, a Join whose
    # condition involves the IVF cell — i.e. the probed ⋈ codes
    # restriction feeds the ADC sum, it is not applied afterwards
    nodes = _json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())

    def subtree(i):
        """pre-order flat list + num-children → [start, end) of node i."""
        end, pending = i + 1, nodes[i].get("num-children", 0)
        while pending:
            pending -= 1
            pending += nodes[end].get("num-children", 0)
            end += 1
        return range(i, end)

    agg = next(
        i for i, nd in enumerate(nodes)
        if nd["class"].endswith(".Aggregate") and "__iscore__" in _json.dumps(nd)
    )
    assert any(
        nodes[j]["class"].endswith(".Join") and "__cell__" in _json.dumps(nodes[j])
        for j in subtree(agg)
    ), [nodes[j]["class"] for j in subtree(agg)]
    # no Python eval anywhere — the whole composition is expression-only
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # centroids and LUT broadcast
    assert "BroadcastExchange" in plan, plan

    # semantic cell containment: reconstruct the deterministic assignment
    emb = _t(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    ivf = similarity.ivf_topk(
        emb, q, "vec_id", "embedding",
        k=10**9, n_lists=4, n_probe=2,  # k unbounded: the full candidate set
    ).select("query_id", "neighbor_id")
    got = df.select("query_id", "neighbor_id")
    assert got.join(ivf, ["query_id", "neighbor_id"], "left_anti").count() == 0


def test_ann_ivf_pq_with_trained_centroids(spark):
    """The `centroids=` composition: ivf_pq_topk accepts kmeans-trained
    coarse cells (same plan shape as the default smallest-id cells —
    cell-keyed join below the ADC aggregate, no Python eval) and returns
    exactly k exact-cosine-ranked rows per query."""
    from storm_spark.functions import similarity
    from storm_spark.queries import _t

    emb = _t(spark, SF, "embeddings")
    cents = similarity.kmeans_centroids(emb, "vec_id", "embedding", k=4, n_iters=1)
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, ksub=4, n_iters=1)
    q = emb.filter(F.col("vec_id") < 5)
    df = similarity.ivf_pq_topk(
        emb, q, cbs, "vec_id", "embedding",
        k=3, n_lists=4, n_probe=2, shortlist=10, centroids=cents,
    )
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == {0, 1, 2, 3, 4}
    for qid, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3], (qid, ranks)


def test_pretrain_pipeline_shares_one_tokenize_pass(spark):
    """The capstone's tokenize-once claim, asserted at the operator
    level: fed a frame whose tokens column is already MATERIALIZED
    (lineage truncated, so any tokenizer in a downstream plan must have
    been re-introduced by the operator), neither gopher_quality_flags
    nor dsir_scores re-tokenizes — zero TOKEN_SPLIT_RE in their plans —
    while the tokens_col-less forms do (the control)."""
    from pyspark.sql import functions as F

    from storm_spark.functions.text import (
        TOKEN_SPLIT_RE,
        dsir_scores,
        gopher_quality_flags,
        tokens,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox", "en"), (2, "jumps over the dog", "de")],
        "doc_id long, text string, lang string",
    )
    base = docs.select(
        "doc_id", "text", "lang", tokens("text").alias("__toks__")
    ).localCheckpoint()

    shared_g = _plan(gopher_quality_flags(base, tokens_col="__toks__"))
    shared_d = _plan(dsir_scores(base, F.col("lang") == "en", tokens_col="__toks__"))
    assert shared_g.count(TOKEN_SPLIT_RE) == 0, shared_g
    assert shared_d.count(TOKEN_SPLIT_RE) == 0, shared_d

    solo_g = _plan(gopher_quality_flags(base))
    solo_d = _plan(dsir_scores(base, F.col("lang") == "en"))
    assert solo_g.count(TOKEN_SPLIT_RE) >= 1
    assert solo_d.count(TOKEN_SPLIT_RE) >= 1


def test_lsh_index_exactly_once_ids_scan_is_partition_pruned(spark, tmp_path):
    """VERDICT r12 #2: the exactly-once id check's stored side must scan
    only the delta's touched `__idb__` hash partitions — a static
    PartitionFilter `__idb__ IN (...)`, the IVFPQIndex ids/ pattern —
    so the per-epoch check is O(|Δ| + index/id_buckets) by plan, never
    an index-wide id scan. Asserted on the pruned read's plan directly (the
    frame the semi-join consumes) and semantically: a probe id that IS
    stored survives the pruning (membership is partition-local)."""
    from storm_spark.functions.dedup import IncrementalLSHIndex

    rows = [
        (i, f"the quick brown fox {i % 5} jumps over the lazy dog {i % 5}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pruned")
    kw = dict(n=3, num_perm=12, bands=4, n_buckets=8, id_buckets=16,
              index_table="lsh_prune_test", index_path=path)
    try:
        idx = IncrementalLSHIndex("doc_id", "text", **kw)
        idx.add_docs(docs).collect()
        probe = spark.createDataFrame([(3,), (7,)], "doc_id long").select(
            F.col("doc_id").alias("__id__")
        )
        pruned = idx._store.read_ids(spark, "__id__", idx.id_buckets, probe)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        part = plan.split("PartitionFilters")[1].split("]")[0]
        assert "__idb__" in part and "IN" in part, part
        # pruned to ≤ |probe| of the 16 partitions, and membership intact
        got = {r["__id__"] for r in pruned.collect()}
        assert {3, 7} <= got
        assert len(got) < 30  # untouched partitions never scanned
        # the unprobed read is the FULL id set (the emptied-index guard)
        assert idx._store.read_ids(spark, "__id__", idx.id_buckets).count() == 30
    finally:
        idx.drop_tables()


def test_salted_star_is_one_linear_plan(spark):
    """r14 (VERDICT r13 #1): the salted star emission must be ONE linear
    two-window plan — no size-observation probe, no bucket-rows cache,
    no hot/cold branch. The r13 adaptive shape cost a fixed driver
    action plus a full persist of the bucket rows per emission; the
    linear shape's only overhead over the plain star is the second
    (narrow) window exchange. Asserted on plan shape: exactly two
    Windows, zero joins/unions/InMemoryTableScans (the signature
    pipeline appears once — a single scan of the source), and the rows
    are connectivity-equivalent AND row-identical to the r13 two-branch
    salted emission (e1 = member→salt-min for non-reps, e2 =
    bucket-min→salt-min for reps)."""
    from storm_spark.functions.dedup import minhash_lsh_edges

    rows = [(i, f"document number {i} with its own distinct words {i * 7}")
            for i in range(40)]
    rows += [(100 + i, "the same boilerplate page") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    salted = minhash_lsh_edges(docs, "doc_id", "text", salt=True)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan and "Union" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert plan.count("Scan ExistingRDD") <= 1, plan

    # row-identity with the reference two-branch salted form (the shape
    # r13 shipped): per (band, bucket, salt) every non-min member links
    # to the salt min; salt mins link to the bucket min
    from pyspark.sql import Window

    from storm_spark.functions.dedup import _band_buckets

    bk = _band_buckets(docs, "doc_id", "text", 3, 12, 4)
    s = bk.withColumn("__salt__", F.pmod(F.xxhash64("__id__"), F.lit(32)))
    w1 = Window.partitionBy("__band__", "__bucket__", "__salt__")
    lvl1 = s.withColumn("__smin__", F.min("__id__").over(w1))
    e1 = lvl1.filter("__id__ <> __smin__").select(
        F.col("__smin__").alias("id_a"), F.col("__id__").alias("id_b")
    )
    mins = s.groupBy("__band__", "__bucket__", "__salt__").agg(
        F.min("__id__").alias("__smin__")
    )
    w2 = Window.partitionBy("__band__", "__bucket__")
    e2 = (
        mins.withColumn("__root__", F.min("__smin__").over(w2))
        .filter("__smin__ <> __root__")
        .select(F.col("__root__").alias("id_a"), F.col("__smin__").alias("id_b"))
    )
    ref = {(r.id_a, r.id_b) for r in e1.unionByName(e2).distinct().collect()}
    got = {(r.id_a, r.id_b) for r in salted.collect()}
    assert got == ref
