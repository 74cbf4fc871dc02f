"""Plan-hygiene assertions (SURVEY.md §4 / 100 TB design rules):
pushdown, pruning, broadcast, codegen. These fail when a refactor
silently degrades the physical plan even though results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators import filter_eq, select_columns
from machine_learning_algorithm_sparkml__spark.plans import (
    has_broadcast_join,
    has_pushed_filters,
    scan_read_schema_columns,
    whole_stage_codegen_spans,
)
from machine_learning_algorithm_sparkml__spark.sources import load_table
from machine_learning_algorithm_sparkml__spark.workload.relational import (
    flagship_top_order_per_customer,
    q_agg_pricing_summary,
)


def test_filter_pushes_down_to_scan(spark, sf_dir):
    df = filter_eq(load_table(spark, sf_dir, "orders"), "o_orderstatus", "F")
    assert has_pushed_filters(df)


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = select_columns(load_table(spark, sf_dir, "orders"), ["o_orderkey", "o_totalprice"])
    schemas = scan_read_schema_columns(df)
    assert schemas and schemas[0] == ["o_orderkey", "o_totalprice"], schemas


def test_flagship_plan_shape(spark, sf_dir):
    df = flagship_top_order_per_customer(spark, sf_dir)
    assert has_broadcast_join(df), "dim join must broadcast, not shuffle orders"
    assert has_pushed_filters(df), "status filter must reach the orders scan"
    # orders scan must not read columns the query never uses
    schemas = scan_read_schema_columns(df)
    orders_scan = next(s for s in schemas if "o_orderkey" in s)
    assert "o_orderdate" not in orders_scan


def test_pricing_summary_plan(spark, sf_dir):
    df = q_agg_pricing_summary(spark, sf_dir)
    assert whole_stage_codegen_spans(df) >= 1
    assert has_pushed_filters(df), "shipdate filter must reach the lineitem scan"
    from machine_learning_algorithm_sparkml__spark.plans import has_partial_aggregation

    assert has_partial_aggregation(df), "aggregation must run map-side partials"


def test_window_group_limit_applied(spark, sf_dir):
    """Spark >=3.5 rewrites filter-over-rank into WindowGroupLimit —
    the map-side top-k truncation the flagship relies on at scale."""
    df = flagship_top_order_per_customer(spark, sf_dir)
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    assert "WindowGroupLimit" in formatted_plan(df)


def test_chunk_fixed_is_shuffle_free(spark, sf_dir):
    """Chunking is row-local: explode + projection, no Exchange."""
    from machine_learning_algorithm_sparkml__spark.operators.chunking import chunk_fixed
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    # other modules cache `documents`; a cached relation would replace
    # the parquet scan this test asserts on
    spark.catalog.clearCache()
    df = chunk_fixed(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    plan = formatted_plan(df)
    assert "Exchange" not in plan, "chunking must not shuffle"
    # only the two referenced columns reach the scan
    from machine_learning_algorithm_sparkml__spark.plans import scan_read_schema_columns

    assert scan_read_schema_columns(df)[0] == ["doc_id", "text"]


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing needs exactly one Exchange (the shard window)."""
    from machine_learning_algorithm_sparkml__spark.operators.chunking import (
        pack_sequences,
    )
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    df = pack_sequences(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    plan = formatted_plan(df)
    # one numbered Exchange node in the formatted plan detail
    assert plan.count(") Exchange") == 1, plan


def test_quality_filter_no_lang_window(spark, sf_dir):
    """The per-lang median must be a tiny groupBy aggregate broadcast
    back, never a Window.partitionBy(lang) — lang has ~5 values, so a
    window sorts corpus-sized partitions at 100 TB (VERDICT r2 #1)."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_broadcast_join,
    )
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_text_quality_filter,
    )

    df = q_text_quality_filter(spark, sf_dir)
    plan = formatted_plan(df)
    assert ") Window" not in plan, "per-lang median must not use a Window"
    assert has_broadcast_join(df), "median frame must broadcast back"


def test_round4_key_plan_shapes(spark, sf_dir):
    """Plan hygiene for the round-4 keys: partial aggregation where a
    groupBy exists, single exchange per shared window spec, no
    nested-loop fallback in the full outer join."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
    )
    from machine_learning_algorithm_sparkml__spark.workload.analytics import (
        q_agg_conditional,
        q_agg_string_collect,
        q_window_first_last,
        q_window_ntile_cume,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_join_full_outer,
    )

    assert has_partial_aggregation(q_agg_conditional(spark, sf_dir)), (
        "conditional aggregates must combine map-side"
    )
    # collect_set is partial-aggregatable too (ObjectHashAggregate)
    plan = formatted_plan(q_agg_string_collect(spark, sf_dir))
    assert "partial" in plan.lower(), plan
    for fn in (q_window_first_last, q_window_ntile_cume):
        plan = formatted_plan(fn(spark, sf_dir))
        assert plan.count(") Exchange") == 1, f"{fn.__name__} must shuffle once:\n{plan}"
    plan = formatted_plan(q_join_full_outer(spark, sf_dir))
    assert "NestedLoop" not in plan, plan
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan, plan


def test_unigram_vocab_partial_aggregation(spark, sf_dir):
    """The corpus vocab aggregate must map-side combine — at 100 TB
    the exploded token stream is the biggest intermediate in the
    module."""
    from machine_learning_algorithm_sparkml__spark.operators.lm import unigram_vocab
    from machine_learning_algorithm_sparkml__spark.plans import has_partial_aggregation
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    spark.catalog.clearCache()
    assert has_partial_aggregation(unigram_vocab(load_table(spark, sf_dir, "documents")))


def test_gopher_quality_single_scan(spark, sf_dir):
    """All nine Gopher output columns must come from ONE scan of
    documents (no self-join, no re-read)."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_text_gopher_quality,
    )

    spark.catalog.clearCache()
    plan = formatted_plan(q_text_gopher_quality(spark, sf_dir))
    # one Location line per scan node (the node name itself appears in
    # both the tree summary and the numbered detail)
    assert plan.count("InMemoryFileIndex") == 1, plan


def test_round5_key_plan_shapes(spark, sf_dir):
    """Plan hygiene for the round-5 keys: mixture sampling is a pure
    scan-side projection+filter (no Exchange), profiling reads the
    table once with partial aggregation, the funnel broadcasts no
    corpus-sized side and never falls back to nested-loop, SCD2 keeps
    all its shuffles on user-rooted keys."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
    )
    from machine_learning_algorithm_sparkml__spark.workload.analytics import (
        q_event_funnel,
        q_retention_cohort,
    )
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_mixture_weighted_sample,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_profile_table,
        q_scd2_intervals,
    )

    spark.catalog.clearCache()
    plan = formatted_plan(q_mixture_weighted_sample(spark, sf_dir))
    assert ") Exchange" not in plan, f"mixture gate must be shuffle-free:\n{plan}"

    df = q_profile_table(spark, sf_dir)
    assert len(scan_read_schema_columns(df)) == 1, "profile must scan once"
    assert has_partial_aggregation(df)

    for fn in (q_event_funnel, q_retention_cohort, q_scd2_intervals):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "NestedLoop" not in plan, f"{fn.__name__}:\n{plan}"
        assert "CartesianProduct" not in plan, f"{fn.__name__}:\n{plan}"


def test_round6_sql_key_plan_shapes(spark, sf_dir):
    """Plan hygiene for the round-6 SQL-front-end keys: Q5's dims must
    broadcast (never shuffle lineitem against region/nation), its date
    filter must reach the orders scan, and Q18's HAVING aggregation
    must combine map-side before the join back to orders/customer."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_broadcast_join,
        has_partial_aggregation,
        has_pushed_filters,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q5,
        q_sql_tpch_q18,
    )

    q5 = q_sql_tpch_q5(spark, sf_dir)
    assert has_broadcast_join(q5), "q5 dim joins must broadcast"
    assert has_pushed_filters(q5), "q5 date/region filters must reach the scans"
    plan5 = formatted_plan(q5)
    assert "CartesianProduct" not in plan5 and "NestedLoop" not in plan5, plan5

    q18 = q_sql_tpch_q18(spark, sf_dir)
    assert has_partial_aggregation(q18), "q18 HAVING sum must combine map-side"
    plan18 = formatted_plan(q18)
    assert "CartesianProduct" not in plan18 and "NestedLoop" not in plan18, plan18


def test_round7_sql_key_plan_shapes(spark, sf_dir):
    """Q4's correlated EXISTS must plan as a LEFT SEMI equi-join (never
    a per-row subquery or nested-loop) with the date filter pushed to
    the orders scan; Q16's NOT IN must plan as a (null-aware) ANTI
    join, again never nested-loop, with the part filters pushed down
    and the distinct aggregate combining partially."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
        has_pushed_filters,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q4,
        q_sql_tpch_q16,
    )

    q4 = q_sql_tpch_q4(spark, sf_dir)
    plan4 = formatted_plan(q4)
    assert "LeftSemi" in plan4, plan4
    assert "NestedLoop" not in plan4 and "CartesianProduct" not in plan4, plan4
    assert has_pushed_filters(q4), "q4 date filter must reach the orders scan"
    assert has_partial_aggregation(q4)

    q16 = q_sql_tpch_q16(spark, sf_dir)
    plan16 = formatted_plan(q16)
    assert "LeftAnti" in plan16, plan16
    assert "NestedLoop" not in plan16 and "CartesianProduct" not in plan16, plan16
    assert has_pushed_filters(q16), "q16 part filters must reach the scan"


def test_tpch_q12_bimodal_conditional_agg_plan(spark, sf_dir):
    """Q12: the two CASE-sums must partial-aggregate map-side (the
    exchange carries |groups| x 2 counters, not lineitems), the
    ship-date range must push into the lineitem scan, and the
    order-key equi-join must never degrade to a nested-loop."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
        has_pushed_filters,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q12,
    )

    q12 = q_sql_tpch_q12(spark, sf_dir)
    plan = formatted_plan(q12)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert has_pushed_filters(q12), "q12 ship-date range must reach the scan"
    assert has_partial_aggregation(q12)


def test_round7_sql_wave2_plan_shapes(spark, sf_dir):
    """Q7: nation broadcasts on both legs, no nested-loop despite the
    disjunctive pair predicate. Q14: one scan pass (conditional agg,
    no self-join), date filter pushed. Q19: the CNF rewrite must push
    derived single-side predicates into the part scan below the join.
    Q22: the NOT EXISTS plans as an anti join and the scalar-subquery
    threshold never forces a nested-loop."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_broadcast_join,
        has_partial_aggregation,
        has_pushed_filters,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q7,
        q_sql_tpch_q14,
        q_sql_tpch_q19,
        q_sql_tpch_q22,
    )

    q7 = q_sql_tpch_q7(spark, sf_dir)
    assert has_broadcast_join(q7)
    plan7 = formatted_plan(q7)
    assert "NestedLoop" not in plan7 and "CartesianProduct" not in plan7, plan7
    assert has_partial_aggregation(q7)

    q14 = q_sql_tpch_q14(spark, sf_dir)
    assert has_pushed_filters(q14), "q14 shipdate filter must reach the scan"
    plan14 = formatted_plan(q14)
    assert plan14.count("InMemoryFileIndex") == 2, "one lineitem + one part scan"

    q19 = q_sql_tpch_q19(spark, sf_dir)
    plan19 = formatted_plan(q19)
    assert "NestedLoop" not in plan19 and "CartesianProduct" not in plan19, plan19
    # CNF conversion: derived single-side implications reach BOTH
    # scans' pushed filters (quantity bounds -> lineitem, brand/size
    # disjunction -> part)
    pushed = plan19.split("PushedFilters")[1:]
    assert any("p_brand" in seg[:500] for seg in pushed), plan19
    assert any("l_quantity" in seg[:500] for seg in pushed), plan19

    q22 = q_sql_tpch_q22(spark, sf_dir)
    plan22 = formatted_plan(q22)
    assert "LeftAnti" in plan22, plan22
    assert "NestedLoop" not in plan22 and "CartesianProduct" not in plan22, plan22


def test_pq_topk_no_global_cross_product_shuffle(spark, sf_dir):
    """The PQ and IVF+PQ operators must score inside each corpus
    partition and emit only local top-S candidates: the plan may not
    contain the corpus×queries cross join the r6 version ranked with a
    global window (VERDICT r6 "What's wrong" #2). The surviving Window
    runs over the bounded local-shortlist union only."""
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_ivfpq_topk,
        portable_pq_topk,
    )
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    for fn in (portable_pq_topk, portable_ivfpq_topk):
        plan = formatted_plan(fn(emb, emb.filter(F.col("vec_id") < 10), k=5))
        assert "CartesianProduct" not in plan, f"{fn.__name__}:\n{plan}"
        assert "NestedLoop" not in plan, f"{fn.__name__}:\n{plan}"
        assert "MapInPandas" in plan, f"{fn.__name__}:\n{plan}"


def test_portable_lsh_plan_is_bucketed_broadcast_not_cross_product(spark, sf_dir):
    """portable_lsh_topk's candidate join is a broadcast hash join on
    (table, bucket) and the corpus is never cross-joined against the
    query set — portability (integer planes) may not cost the bucketed
    physical plan."""
    from machine_learning_algorithm_sparkml__spark.operators.simsearch import (
        portable_lsh_topk,
    )
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    df = portable_lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "ArrowEvalPython" in plan, plan  # vectorized bucket udf


def test_pandas_on_spark_groupby_is_pure_jvm_catalyst(spark, sf_dir):
    """The pandas-on-Spark claim: the pandas-style groupby.agg is a
    FRONT-END — the physical plan must be the same pruned two-phase
    HashAggregate the DataFrame API produces, with zero Python
    execution nodes and only the three referenced columns read."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
    )
    from machine_learning_algorithm_sparkml__spark.workload.analytics import (
        q_ps_groupby_agg,
    )

    df = q_ps_groupby_agg(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert has_partial_aggregation(df)
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert set(c for c in ("o_orderkey", "o_orderstatus", "o_totalprice") if c in read) == {
        "o_orderkey", "o_orderstatus", "o_totalprice"
    }
    assert "o_custkey" not in read, read  # pruned


def test_collation_groupby_keeps_partial_aggregation(spark, sf_dir):
    """The collation claim from the key's docstring: grouping under
    UNICODE_CI is a comparator swap, not a rewrite — the plan is still
    a two-phase (map-side partial) aggregate over one exchange, the
    shape a lower()-wrapped key column would also get but without
    rewriting the column once per comparison."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
    )
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_collation_ci,
    )

    df = q_sql_collation_ci(spark, sf_dir)
    assert has_partial_aggregation(df)
    plan = formatted_plan(df)
    assert plan.count("Exchange") <= 2, plan  # one exchange (tree+detail render)


def test_zscore_by_lang_stays_jvm_side(spark, sf_dir):
    """The per-lang z-score must be a built-in window plan, never a
    grouped-map applyInPandas: a pandas group materializes the whole
    language partition in ONE Python worker — terabytes for the
    dominant language at 100 TB (VERDICT r6 "What's wrong" #1)."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_text_zscore_by_lang,
    )

    plan = formatted_plan(q_text_zscore_by_lang(spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert ") Window" in plan, plan


def test_q17_decorrelates_to_hash_join(spark, sf_dir):
    """The Q17 correlated scalar-aggregate subquery must be
    de-correlated by Catalyst into a per-partkey aggregate hash-joined
    back to lineitem — never a nested-loop per-row re-scan of
    lineitem, which would be |lineitem| x |lineitem| at 100 TB."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q17,
    )

    plan = formatted_plan(q_sql_tpch_q17(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan, plan
    assert "HashAggregate" in plan, plan


def test_session_window_native_single_shuffle(spark, sf_dir):
    """Native session_window aggregates after ONE shuffle on user_id;
    there must be no window-function sort-pass or Python worker in
    the plan."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.streaming import (
        q_session_window_native,
    )

    plan = formatted_plan(q_session_window_native(spark, sf_dir))
    assert plan.count("Exchange") <= 2, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "SessionWindow" in plan or "session_window" in plan, plan


def test_q8_dims_broadcast(spark, sf_dir):
    """Q8's five dimension joins (part, supplier, customer, nation x2,
    region) must all broadcast — only lineitem/orders may shuffle."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q8,
    )

    import re

    plan = formatted_plan(q_sql_tpch_q8(spark, sf_dir))
    # count tree NODES ("(N) BroadcastHashJoin"), not substring hits:
    # formatted explain repeats each operator in the detail block, so a
    # plain .count() would still pass after join demotions
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 5, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_q15_max_subquery_not_nested_loop(spark, sf_dir):
    """Q15's MAX(total_revenue) filter must plan as a scalar
    broadcast/subquery result, never a per-row re-aggregation."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q15,
    )

    plan = formatted_plan(q_sql_tpch_q15(spark, sf_dir))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "Subquery" in plan or "ReusedSubquery" in plan, plan


def test_bigram_familiarity_partial_aggregation(spark, sf_dir):
    """Both count tables and the per-doc re-aggregate must combine
    map-side; no Python workers anywhere in the plan."""
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        has_partial_aggregation,
    )
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_text_bigram_familiarity,
    )

    df = q_text_bigram_familiarity(spark, sf_dir)
    assert has_partial_aggregation(df)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_zorder_value_stays_in_codegen(spark, sf_dir):
    """The Morton projection is pure bit-math — it must live inside a
    WholeStageCodegen span, no Python, no shuffle of its own."""
    from machine_learning_algorithm_sparkml__spark.operators.layout import zorder_value
    from machine_learning_algorithm_sparkml__spark.plans import (
        formatted_plan,
        whole_stage_codegen_spans,
    )
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    df = load_table(spark, sf_dir, "orders").select(
        zorder_value(F.col("o_custkey"), F.col("o_orderkey")).alias("z")
    )
    assert whole_stage_codegen_spans(df) >= 1
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_q21_decorrelates_to_semi_and_anti_join(spark, sf_dir):
    """The Q21-shape doubly-correlated EXISTS + NOT EXISTS must be
    de-correlated by Catalyst into one LeftSemi and one LeftAnti join
    on l_orderkey — never a nested-loop per-row re-scan of lineitem,
    which would be |lineitem| x |lineitem| at 100 TB."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q21,
    )

    plan = formatted_plan(q_sql_tpch_q21(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_aqe_coalesces_overprovisioned_shuffle_partitions(spark, sf_dir):
    """The deployment contract in session.py: leave shuffle.partitions
    high and let AQE coalesce at runtime. Witness: the same aggregate
    under a 200-partition setting executes with AQEShuffleRead
    'coalesced' and lands on a small final partition count — the
    mechanism that makes the static setting an upper bound, not a tax,
    at any scale."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        agg = load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()
        agg.collect()
        executed = agg._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in executed and "coalesced" in executed, executed
        assert agg.rdd.getNumPartitions() < 20
    finally:
        spark.conf.set(key, old)


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark, sf_dir):
    """When a selective dim filter feeds a SHUFFLE join (no broadcast),
    Spark can inject a runtime bloom filter on the fact side so
    non-matching rows die before the exchange — at 100 TB that is the
    difference between shuffling the whole fact table and shuffling
    the ~matching slice. Thresholds are scoped down here (the feature
    gates on multi-GB scans by default); the assertion is that the
    injected `bloom_filter_agg`/`might_contain` pair reaches the
    optimized plan and the physical fact-side scan."""
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        sel = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        joined = li.join(sel, li.l_orderkey == sel.o_orderkey)
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in optimized or "might_contain" in optimized, optimized
        from machine_learning_algorithm_sparkml__spark.plans import formatted_plan

        assert "might_contain" in formatted_plan(joined).lower()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_group_ols_single_exchange_grouped_map(spark, sf_dir):
    """Model-per-group = exactly one hash exchange on the group key
    feeding FlatMapGroupsInPandas over a pruned 3-column scan."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.ml import q_ml_group_ols

    plan = formatted_plan(q_ml_group_ols(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    # one exchange in the operator tree (each node renders twice in
    # formatted output: tree line + detail block)
    assert plan.count("Exchange") == 2, plan
    assert "hashpartitioning(group_key" in plan


def test_cdc_diff_is_full_outer_smj_not_nested_loop(spark, sf_dir):
    """The snapshot diff must be a keyed sort-merge FULL OUTER join —
    a nested-loop full outer would be quadratic at scale."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_cdc_snapshot_diff,
    )

    plan = formatted_plan(q_cdc_snapshot_diff(spark, sf_dir))
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """The correlated LATERAL (ORDER BY ... LIMIT 3) subquery must
    de-correlate into WindowGroupLimit — with a PARTIAL group-limit
    before the exchange, so the shuffle carries at most 3 rows per
    (group, input partition) — plus one hash join back to the outer
    table. No nested loop: a per-outer-row re-execution is the
    quadratic plan this key exists to rule out."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_lateral_topn,
    )

    plan = formatted_plan(q_sql_lateral_topn(spark, sf_dir))
    # partial + final group-limit = >=2 distinct nodes (each renders
    # twice in formatted output: tree line + detail block)
    assert plan.count("WindowGroupLimit") >= 4, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_recursive_cte_step_joins_are_hashed_not_nested(spark, sf_dir):
    """The recursion must execute as UnionLoop whose step keeps a
    KEYED equi-join between the frontier (UnionLoopRef) and the table
    — Spark plans each iteration's subtree at runtime, and an
    equi-condition guarantees a hash join there; a non-equi step
    would nested-loop every level at O(frontier x table)."""
    import re

    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_recursive_cte,
    )

    plan = formatted_plan(q_sql_recursive_cte(spark, sf_dir))
    assert "UnionLoop" in plan and "UnionLoopRef" in plan, plan[:2000]
    # the step join is Inner on (o_orderkey div 10) = k — an equi-join
    assert re.search(r"Inner, \(\(o_orderkey#\d+L div 10\) = k#\d+L\)", plan), plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_lateral_agg_decorrelates_to_grouped_outer_join(spark, sf_dir):
    """The scalar-aggregate LATERAL must de-correlate into ONE grouped
    aggregate over orders (partial before the exchange) joined back
    LeftOuter to the customer keys — the zero-order customers survive
    through the outer side, and no per-outer-row re-execution (nested
    loop) exists anywhere in the plan."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_lateral_agg,
    )

    plan = formatted_plan(q_sql_lateral_agg(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # partial + final aggregate nodes (each renders twice: tree+detail)
    assert plan.count("HashAggregate") >= 4, plan
    assert "LeftOuter" in plan, plan


def test_sql_udfs_inline_into_codegen_and_push_down(spark, sf_dir):
    """SQL-defined UDFs must be TRANSPARENT to Catalyst: the scalar
    body constant-folds into an ordinary projection expression, the
    predicate inside the table function's body reaches the parquet
    scan as a pushed filter, no Python-eval node exists anywhere, and
    the whole query stays one codegen stage with no exchange —
    function abstraction at zero plan cost."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_udf_scalar_table,
    )

    plan = formatted_plan(q_sql_udf_scalar_table(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "Exchange" not in plan, plan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan, plan  # pushed TVF body filter
    assert "* 0.9" in plan, plan  # (1.0 - 0.1) constant-folded into the projection


def test_cbo_statistics_correct_broadcast_estimates(spark, sf_dir):
    """ANALYZE TABLE statistics must change physical join decisions in
    BOTH directions. Without stats, a managed table's size estimate is
    its COMPRESSED parquet footprint and a filter does not shrink it —
    the customer table estimates identically filtered or not, a ~5x
    under-estimate of the in-memory relation (at 100 TB this is
    how a 'small' build side OOMs the broadcast). With column stats,
    the unfiltered side reads its true row-width size (demoted to a
    SortMergeJoin above the threshold) while the equality filter gets
    exact ndv-based selectivity (rowCount 1/5 of the table) and stays
    a confident broadcast — estimation now tells the two cases apart
    instead of treating them identically."""
    import uuid

    tbl = f"customer_cbo_{uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "customer").write.saveAsTable(tbl)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    join_unfiltered = (
        f"SELECT o.o_orderkey, c.c_name FROM orders_v o JOIN {tbl} c "
        "ON o.o_custkey = c.c_custkey"
    )
    join_filtered = join_unfiltered + " WHERE c.c_mktsegment = 'BUILDING'"

    def join_kind(sql):
        plan = spark.sql(sql)._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastHashJoin" in plan) != ("SortMergeJoin" in plan), plan
        return "broadcast" if "BroadcastHashJoin" in plan else "smj"

    def size_estimate(sql):
        return int(
            str(
                spark.sql(sql)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )

    scan_unf = f"SELECT c_custkey, c_name FROM {tbl}"
    scan_fil = scan_unf + " WHERE c_mktsegment = 'BUILDING'"
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        # without stats the estimate is file-size-scaled and BLIND to
        # the filter: filtered == unfiltered
        s0 = size_estimate(scan_unf)
        assert size_estimate(scan_fil) == s0

        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")
        s_unf = size_estimate(scan_unf)  # true row-width size
        s_fil = size_estimate(scan_fil)  # ndv-selectivity-scaled
        assert s_unf > s0  # compressed footprint under-estimates width
        assert s_fil < s_unf  # the filter now shrinks the estimate
        stats = str(
            spark.sql(scan_fil)._jdf.queryExecution().optimizedPlan().stats()
        )
        n_cust = load_table(spark, sf_dir, "customer").count()
        assert f"rowCount={n_cust // 5}" in stats, stats  # exact ndv selectivity

        # threshold between the filtered and unfiltered estimates: the
        # unfiltered build side demotes to SMJ, the filtered one stays
        # a confident broadcast — estimation now tells them apart
        # (without stats both sat at s0 and decided identically)
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            str((max(s0, s_fil) + s_unf) // 2),
        )
        assert join_kind(join_unfiltered) == "smj"
        assert join_kind(join_filtered) == "broadcast"
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_dynamic_partition_pruning_prunes_fact_scan_at_runtime(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: when a partitioned fact table joins a
    dimension on its partition column and the dim carries a selective
    filter, the fact scan's PartitionFilters gain a runtime
    `dynamicpruning` subquery — partitions for priorities the filtered
    dim cannot match are never listed or read. At 100 TB this is the
    difference between scanning two priority partitions and scanning
    five; static pruning cannot do it because the surviving priorities
    are only known after the dim's filter runs. The contrast run with
    the optimizer flag off shows the same join WITHOUT the pruning
    subquery, and both produce the identical (direct-filter-checked)
    result."""
    fact_path = str(tmp_path / "dpp_orders")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [
            ("1-URGENT", "hot"),
            ("2-HIGH", "hot"),
            ("3-MEDIUM", "warm"),
            ("4-NOT SPECIFIED", "cold"),
            ("5-LOW", "cold"),
        ],
        "prio string, tier string",
    )
    joined = fact.join(dim, fact.o_orderpriority == dim.prio).filter(
        F.col("tier") == "hot"
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan

    want = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).count()
    assert joined.count() == want

    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        off = fact.join(dim, fact.o_orderpriority == dim.prio).filter(
            F.col("tier") == "hot"
        )
        off_plan = off._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" not in off_plan
        assert off.count() == want  # optimization, never semantics
    finally:
        spark.conf.set(key, prev)


def test_aqe_splits_skewed_join_partition_at_runtime(spark, sf_dir):
    """AQE skew-join handling — the runtime complement to the explicit
    salting operator (operators/skew.py): a join key holding 80% of
    the left side makes one sort-merge partition dominate the stage
    wall-clock; with skew handling on, AQE observes the actual
    post-shuffle sizes and SPLITS the oversized partition
    (SortMergeJoin(skew=true) in the final adaptive plan), replicating
    the matching right side — no code change, no salt column. The
    thresholds are scoped down because the feature gates on multi-MB
    partitions; the contrast run with skew handling off shows the
    plain join and the identical result. At 100 TB this is the
    difference between a stage tailing on one straggler task and
    spreading the hot key across the cluster."""
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {k: spark.conf.get(k) for k in scoped}

    def run():
        left = spark.range(100000).select(
            F.when(F.col("id") % 5 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        agg = left.join(right, "k").select(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )
        row = agg.collect()[0]
        return (row.s, row.n), agg._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        result_on, plan_on = run()
        assert "SortMergeJoin(skew=true)" in plan_on, plan_on

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        result_off, plan_off = run()
        assert "skew=true" not in plan_off
        assert result_on == result_off  # optimization, never semantics
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_promotes_shuffle_join_to_broadcast_at_runtime(spark, sf_dir):
    """AQE runtime join-strategy switching: with the STATIC broadcast
    threshold off (the estimate-distrust posture a 100 TB deployment
    often runs — see the CBO witness for why estimates mislead), the
    initial plan is a sort-merge join; after the build side's ACTUAL
    shuffle size lands under the separate adaptive threshold, the
    final plan re-plans it as a BroadcastHashJoin mid-query — the
    decision moves from estimate-time to measurement-time. Contrast
    run with the adaptive threshold off stays sort-merge; results
    identical."""
    scoped = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    }
    old = {k: spark.conf.get(k, None) for k in scoped}

    def run():
        left = spark.range(200000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")
        )
        right = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        agg = left.join(right, "k").select(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )
        initial = agg._jdf.queryExecution().executedPlan().toString()
        row = agg.collect()[0]
        final = agg._jdf.queryExecution().executedPlan().toString()
        return (row.s, row.n), initial, final

    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        result_on, initial, final = run()
        assert "BroadcastHashJoin" not in initial  # static plan: SMJ
        assert "BroadcastHashJoin" in final  # runtime: promoted
        assert "isFinalPlan=true" in final

        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        result_off, _initial, final_off = run()
        assert "BroadcastHashJoin" not in final_off  # stays SMJ
        assert result_on == result_off
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bm25_single_postings_subtree_and_pruned_scans(spark, sf_dir):
    """text_bm25 plan contract: exactly TWO file scans (postings +
    corpus stats), both pruned to the columns they need. The
    regression this pins: computing document frequency as
    groupBy('term')+join duplicated the entire
    scan->explode->filter->agg subtree (3 scans); the window-count
    form keeps one. Also: the stats row arrives by broadcast, and the
    query-term filter sits UNDER the generate/explode's consumer so
    only matching (doc,term) pairs reach the aggregate exchange."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import q_text_bm25

    df = q_text_bm25(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastExchange" in plan
    # both scans pruned: nothing reads more than doc_id + text
    import re

    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", plan):
        cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"doc_id", "text"}, cols
    # the query-term IN-filter must sit BELOW the (doc_id, len_d,
    # term) aggregate exchange — in the top-down plan dump the Filter
    # line appears AFTER the exchange that consumes it. A filter that
    # migrated above the groupBy would ship the full posting list.
    lines = plan.splitlines()
    filt = next(
        i for i, l in enumerate(lines) if "Filter" in l and "spark" in l and "vector" in l
    )
    exch = next(
        i for i, l in enumerate(lines)
        if "Exchange hashpartitioning" in l and "term" in l and "len_d" in l
    )
    assert filt > exch, (filt, exch)


def test_partsupp_quartet_plans_decorrelate_and_push_down(spark, sf_dir):
    """The r12 quartet's physical shapes (synthesized partsupp):

    - q9: the `p_name LIKE '%bolt%'` filter must reach the part scan
      as a pushed StringContains, and the 6-table join tree must plan
      without any nested-loop/cartesian node.
    - q2: the correlated MIN subquery must de-correlate into an
      aggregate + join (no per-row re-scan node).
    - q20: the correlated SUM threshold likewise de-correlates; the
      doubly-nested IN chain plans as semi joins.
    - q11: the scalar-subquery total is a one-row subquery (allowed);
      the group side must still be a hash aggregate over a join, no
      cartesian.

    The ONLY nested-loop node any quartet plan may contain is the
    partsupp derivation's own broadcast cross join against the 4-row
    spread range (`Range (0, 4`) — a deliberate, bounded build side;
    every occurrence must be exactly that Cross shape."""
    import re

    from machine_learning_algorithm_sparkml__spark.workload.relational import (
        q_sql_tpch_q2,
        q_sql_tpch_q9,
        q_sql_tpch_q11,
        q_sql_tpch_q20,
    )

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def assert_no_unbounded_nested_loop(plan):
        assert "CartesianProduct" not in plan, plan
        nl = [l for l in plan.splitlines() if "NestedLoopJoin" in l]
        assert all("Cross" in l for l in nl), nl
        if nl:  # the bounded build side must be the 4-row spread range
            assert "Range (0, 4" in plan, plan

    p9 = executed(q_sql_tpch_q9(spark, sf_dir))
    assert_no_unbounded_nested_loop(p9)
    assert re.search(r"PushedFilters: \[[^\]]*StringContains\(p_name,bolt\)", p9), p9

    p2 = executed(q_sql_tpch_q2(spark, sf_dir))
    assert_no_unbounded_nested_loop(p2)
    # de-correlated MIN: a min aggregate feeds an equi-join on
    # (cents, partkey) — never a per-row re-scan
    assert re.search(r"min\(ps_supplycost_cents", p2), p2

    p20 = executed(q_sql_tpch_q20(spark, sf_dir))
    assert_no_unbounded_nested_loop(p20)
    assert "LeftSemi" in p20, p20

    p11 = executed(q_sql_tpch_q11(spark, sf_dir))
    assert_no_unbounded_nested_loop(p11)


def test_r12_capability_keys_plan_shapes(spark, sf_dir):
    """OHLC downsampling must be a single partial-then-final hash
    aggregate (ONE exchange; the map side emits one partial bar per
    (task, group)); the per-source reservoir must keep the
    rank-then-filter WindowGroupLimit shape (window partitioned by
    source; the exchange carries local top-k only)."""
    import re

    from machine_learning_algorithm_sparkml__spark.workload.analytics import (
        q_timeseries_downsample_ohlc,
    )
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_sample_reservoir_per_group,
    )

    ohlc = q_timeseries_downsample_ohlc(spark, sf_dir)
    p = ohlc._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1, p
    assert "partial_min" in p and "partial_max" in p, p

    rsv = q_sample_reservoir_per_group(spark, sf_dir)
    p2 = rsv._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p2, p2
    assert re.search(r"windowspecdefinition\(source#", p2), p2


def test_r13_capability_keys_plan_shapes(spark, sf_dir):
    """Portable near-dup pairs: the candidate generator must be the
    bucketed (table, bucket) equi-self-join — never a cartesian/NL
    product over the corpus (the property that survives 100x); the
    verified-pair scoring joins by id. BMP/WAV decode keys: a
    two-kernel mapInPandas pipeline behind exactly ONE
    compute-spreading round-robin exchange (spread_for_kernel — an
    exchange-free plan serializes the codec onto one core when the
    input bin-packs to a single partition)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_embedding_neardup_portable,
        q_multimodal_decode_real,
        q_multimodal_wav_decode,
    )

    nd = q_embedding_neardup_portable(spark, sf_dir)
    p = nd._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    # the bucket self-join keys on BOTH band columns
    assert "table#" in p and "bucket#" in p, p

    for q in (q_multimodal_decode_real, q_multimodal_wav_decode):
        d = q(spark, sf_dir)
        pd_ = d._jdf.queryExecution().executedPlan().toString()
        # scan -> ONE compute-spreading round-robin exchange of the id
        # projection -> encode -> decode; never a keyed shuffle, and
        # never exchange-FREE either (a single-file scan would
        # serialize the whole codec pipeline onto one core —
        # multimodal.spread_for_kernel)
        assert pd_.count("Exchange") == 1, pd_
        assert "RoundRobinPartitioning" in pd_, pd_
        assert pd_.count("MapInPandas") == 2, pd_


def test_r13_session2_keys_plan_shapes(spark, sf_dir):
    """Session-2 capability keys keep their 100 TB shapes: PNG decode
    is the same one-spread-exchange two-kernel mapInPandas pipeline as
    BMP/WAV; URL dedup is ONE hash-aggregate exchange over the
    canonical string (the regexp canonicalization itself must not add
    a shuffle or a Python crossing)."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_dedup_url,
        q_multimodal_png_decode,
    )

    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_multimodal_gif_decode,
    )

    for q in (q_multimodal_png_decode, q_multimodal_gif_decode):
        d = q(spark, sf_dir)
        p = d._jdf.queryExecution().executedPlan().toString()
        # one compute-spreading exchange, same contract as BMP/WAV/JPEG
        assert p.count("Exchange") == 1 and "RoundRobinPartitioning" in p, p
        assert p.count("MapInPandas") == 2, p

    url = q_dedup_url(spark, sf_dir)
    p2 = url._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange") == 1, p2  # the one groupBy shuffle
    assert "Python" not in p2 and "MapInPandas" not in p2, p2  # JVM-side regexps
    assert "HashAggregate" in p2, p2


def test_r15_keys_plan_shapes(spark, sf_dir):
    """r15 capability keys keep their 100 TB shapes. DRI/progressive
    JPEG: the codec-kernel contract — scan pruned to doc_id, exactly
    ONE compute-spreading round-robin exchange, two mapInPandas
    kernels (encode, decode), no keyed shuffle. BPE tokenize: a
    SHUFFLE-FREE projection (one ArrowEvalPython, zero exchanges —
    the token-entropy contract). BPE budget: exactly one keyed
    exchange (hashpartitioning on source) feeding the running-sum
    window, the whitespace key's shape. Exact-substring dedup: the
    candidate generator is an equi-join on the xxhash64 window hash
    and the verifier an equi-join on (id, window) — never a
    cartesian/nested-loop product over the corpus."""
    from machine_learning_algorithm_sparkml__spark.workload.llm import (
        q_dedup_exact_substring,
        q_multimodal_jpeg_dri_decode,
        q_multimodal_jpeg_progressive_decode,
    )
    from machine_learning_algorithm_sparkml__spark.workload.quality import (
        q_mixture_token_budget_bpe,
        q_text_bpe_tokenize,
    )

    for q in (q_multimodal_jpeg_dri_decode, q_multimodal_jpeg_progressive_decode):
        p = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 1 and "RoundRobinPartitioning" in p, p
        assert p.count("MapInPandas") == 2, p
        assert "ReadSchema: struct<doc_id:bigint>" in p, p  # column pruning

    p = q_text_bpe_tokenize(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # r16: one compute-spreading hash exchange (operators/spread.py) —
    # the merge-loop UDF otherwise serializes onto the single scan task
    # at fixture scale; the spread no-ops at cluster scale, where the
    # projection stays shuffle-free
    assert p.count("Exchange") == 1 and "REPARTITION_BY_NUM" in p, p
    assert "hashpartitioning(doc_id" in p, p
    assert p.count("ArrowEvalPython") == 1, p

    p = q_mixture_token_budget_bpe(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == 1 and "hashpartitioning(source" in p, p
    assert p.count("ArrowEvalPython") == 1 and "Window" in p, p

    p = q_dedup_exact_substring(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    # r17: the pair count joins on the window's 120-bit md5 identity
    # (h1, h2) — the window TEXT never reaches a join or exchange (the
    # r14 shape re-joined window strings to verify xxhash64 candidates)
    assert "[h1#" in p and "h2#" in p, p
    assert "window#" not in p, p  # no window-text column downstream of the checkpoint
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p, p  # all-JVM
