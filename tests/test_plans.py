"""Physical-plan regression tests: the plan each operator *should*
produce at scale, asserted (pushdown reaches the scan, small dims
broadcast, no stray shuffles) — not eyeballed."""

from __future__ import annotations

from old_original_java_little_horse_spark.plans.inspect import (
    count_exchanges, explain_str, physical_ops, pushed_filters,
)
from old_original_java_little_horse_spark.registry import all_queries

from .conftest import SF_SMOKE

Q = all_queries()


def test_p1_filter_pushed_to_scan(spark):
    df = Q["p1_fanout_filter"].fn(spark, SF_SMOKE)
    filters = " ".join(pushed_filters(df))
    assert "event_type" in filters, filters


def test_q1_prunes_columns_and_single_shuffle(spark):
    df = Q["q1_pricing_summary"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    # Column pruning: the scan must not read join keys it doesn't need.
    assert "l_partkey" not in txt and "l_suppkey" not in txt, "scan reads unused columns"
    # Shuffle date filter pushed down.
    assert "l_shipdate" in " ".join(pushed_filters(df))
    # One exchange: partial agg → final agg.
    assert count_exchanges(df) <= 1, explain_str(df)
    assert "HashAggregate" in physical_ops(df)


def test_j2_dims_broadcast(spark):
    df = Q["j2_broadcast_enrich"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, "dim join fell back to sort-merge"
    # Fact side never shuffles: only broadcast exchanges allowed.
    txt = explain_str(df)
    assert "Exchange hashpartitioning" not in txt, txt


def test_q5_region_nation_broadcast(spark):
    df = Q["q5_local_supplier_volume"].fn(spark, SF_SMOKE)
    assert "BroadcastHashJoin" in physical_ops(df)


def test_w1_single_window_exchange(spark):
    df = Q["w1_position_numbering"].fn(spark, SF_SMOKE)
    # Both window functions partition by user_id → one hash exchange.
    assert count_exchanges(df) == 1, explain_str(df)


def test_minhash_sigs_partial_aggregation(spark):
    """The minhash groupBy must partial-aggregate (map-side combine)
    before its exchange — the property that makes it scale."""
    df = Q["d_minhash_signatures"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert ops.count("HashAggregate") >= 2 or "SortAggregate" in ops, ops


def test_whole_stage_codegen_on_expressions(spark):
    """Scalar-expression operators stay inside whole-stage codegen."""
    df = Q["x_mutation_arith"].fn(spark, SF_SMOKE)
    # In formatted explain, a leading '*' marks codegen'd operators.
    assert "* Project" in explain_str(df), explain_str(df)


def test_lsh_ann_arrow_stage_and_no_cartesian(spark):
    """ANN signatures run as ONE ArrowEvalPython (pandas UDF) stage;
    the candidate join is an equi-join on the bucket key, never a
    nested-loop over the corpus."""
    df = Q["sim_lsh_bucketed_ann"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "ArrowEvalPython" in ops, ops
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoopJoin" not in ops, ops


def test_ivf_ann_arrow_stage_and_no_cartesian(spark):
    df = Q["sim_ivf_ann"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "ArrowEvalPython" in ops, ops
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoopJoin" not in ops, ops


def test_neardup_topk_single_verify_subtree(spark):
    """sim_neardup_topk directs each verified pair both ways by
    EXPLODING two structs over one evaluation (r13): a self-union here
    re-ran the whole verify subtree per branch (bucket UDF + neighbor
    window + dedup + joins + cosine — measured 6 ArrowEvalPython
    nodes), and the filter on the UDF-computed cosine must not
    re-evaluate it below the projection (guide §4.4 ND fence on
    `_cos_pairs_udf`).  Exactly 2 Python stages: bucket ids + cosine."""
    from collections import Counter

    df = Q["sim_neardup_topk"].fn(spark, SF_SMOKE)
    ops = Counter(physical_ops(df))
    assert ops["ArrowEvalPython"] == 2, ops
    assert ops["Generate"] >= 1, ops  # the both-directions explode


def test_pair_queries_equi_join_only(spark):
    """Every near-dup pair generator must candidate via an equi-join
    on a bucket key (grid-sub-bucketed) — a nested-loop join here is
    the O(n²) scale bug the blocking exists to prevent."""
    for name in ("d_minhash_lsh_pairs", "d_ngram_jaccard_pairs",
                 "d_simhash_pairs", "sim_label_blocked_neardup"):
        ops = physical_ops(Q[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in ops, (name, ops)
        assert "BroadcastNestedLoopJoin" not in ops, (name, ops)


def test_sessionize_single_exchange(spark):
    """lag window, running session sum, and the session rollup all
    partition on user_id → exactly one hash exchange."""
    df = Q["w4_sessionize"].fn(spark, SF_SMOKE)
    assert count_exchanges(df) == 1, explain_str(df)


def test_asof_join_is_window_not_join(spark):
    """The as-of join compiles to union + window (one exchange on
    user_id), never a join operator over time ranges."""
    df = Q["j5_asof_join"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "Window" in ops, ops
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) == 1, explain_str(df)


def test_quantiles_single_exchange(spark):
    """Both window frames and the rollup share the source partition."""
    df = Q["w5_length_quantiles"].fn(spark, SF_SMOKE)
    assert count_exchanges(df) == 1, explain_str(df)


def test_topk_queries_use_window_group_limit(spark):
    """Per-group top-k must prune below the window (WindowGroupLimit),
    not rank the full group post-shuffle."""
    for name in ("t_top_ngrams", "t_distinctive_terms"):
        ops = physical_ops(Q[name].fn(spark, SF_SMOKE))
        assert "WindowGroupLimit" in ops, (name, ops)


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_bigram_explodes_have_no_lambda(spark):
    """The bigram explodes build on `kgrams` (arrays_zip of slices),
    which stays in whole-stage codegen: no higher-order-function
    lambda anywhere in the optimized plan."""
    for name in ("t_top_ngrams", "t_lm_score", "t_dsir_weights"):
        plan = _optimized_plan(Q[name].fn(spark, SF_SMOKE))
        assert "lambdafunction" not in plan, (name, plan)


def test_centroids_partial_aggregation(spark):
    """The (label, pos) rollup partial-aggregates before its exchange,
    so shuffle volume is |labels|·dims per partition, not corpus-sized."""
    df = Q["sim_label_centroids"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert ops.count("HashAggregate") >= 2 or "SortAggregate" in ops, ops


def test_per_row_corpus_ops_shuffle_free(spark):
    """Redaction / chunking / hash-split are per-row maps — zero
    exchanges, pure codegen on the scan."""
    for name in ("t_pii_redact", "t_doc_chunks", "t_hash_split"):
        df = Q[name].fn(spark, SF_SMOKE)
        assert count_exchanges(df) == 0, (name, explain_str(df))


def test_segment_dedup_two_exchanges(spark):
    """t_segment_dedup's scale contract: explode is per-row, then
    exactly ONE exchange on the segment digest (first-occurrence
    window) and ONE on doc_id (reassembly groupBy) — no stray
    shuffles."""
    df = Q["t_segment_dedup"].fn(spark, SF_SMOKE)
    assert count_exchanges(df) == 2, explain_str(df)
    ops = physical_ops(df)
    assert "Window" in ops and "Generate" in ops, ops


def test_lm_score_model_partial_aggregation(spark):
    """t_lm_score's model tables must partial-aggregate before their
    exchanges (map-side combine is what bounds shuffle volume by
    vocabulary, not corpus size)."""
    txt = explain_str(Q["t_lm_score"].fn(spark, SF_SMOKE))
    import re

    # Both model groupBys appear twice (partial + final around their
    # exchange) — map-side combine in place for bigram and prefix.
    assert len(re.findall(r"Keys \[1\]: \[bigram#", txt)) >= 2, txt
    assert len(re.findall(r"Keys \[1\]: \[prefix#", txt)) >= 2, txt


def test_j6_range_join_is_hash_not_nested_loop(spark):
    """The bucketized rewrite must give Catalyst an EQUALITY key: the
    plan may never fall back to BroadcastNestedLoopJoin / CartesianProduct
    (what a raw |t1-t2| <= W predicate produces)."""
    txt = explain_str(Q["j6_range_count"].fn(spark, SF_SMOKE))
    assert "NestedLoop" not in txt and "CartesianProduct" not in txt, txt
    # equality join present (broadcast at smoke scale; shuffled-hash at 100TB)
    assert "HashJoin" in txt, txt


def test_r5_linear_scan_ops_single_exchange(spark):
    """j7 (interval attribution) and d_url_dedup (normalized-URL
    dedup) are one-exchange linear scans: window + rollup share the
    partition key, no join operator anywhere."""
    for name in ("j7_interval_overlap", "d_url_dedup"):
        df = Q[name].fn(spark, SF_SMOKE)
        assert count_exchanges(df) == 1, (name, explain_str(df))
        ops = physical_ops(df)
        assert not any("Join" in op for op in ops), (name, ops)


def test_q2_broadcast_dims_and_rank_pushdown(spark):
    """The argmin join broadcasts the supplier dim (lineitem never
    shuffles for the join) and prunes below the rank window
    (WindowGroupLimit) instead of ranking full groups."""
    df = Q["q2_min_cost_supplier"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops
    assert "WindowGroupLimit" in ops, ops
    assert count_exchanges(df) <= 2, explain_str(df)


def test_bloom_probe_is_broadcast_semi(spark):
    """The Bloom probe side must stay map-side: membership tests plan
    as broadcast hash joins (no shuffle of the train shingles for the
    probe, no nested loop)."""
    df = Q["t_decontaminate_bloom"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert ops.count("BroadcastHashJoin") >= 3, ops
    assert "SortMergeJoin" not in ops and "CartesianProduct" not in ops, ops


def test_stratified_sample_broadcast_quota(spark):
    """The quota table joins back to the rank side by BROADCAST hash
    join (the corpus never shuffles for it).  The only nested loop
    allowed is the scalar corpus-total attach — a broadcast of ONE
    aggregated row, constant work per stratum."""
    df = Q["t_stratified_sample"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops
    assert "CartesianProduct" not in ops, ops
    assert ops.count("BroadcastNestedLoopJoin") <= 1, ops


def test_semi_anti_join_shapes(spark):
    """EXISTS compiles to a semi join, NOT EXISTS to an anti join —
    never an inner-join + distinct (which shuffles multiplied matches)
    and never a nested loop; filters reach the scans."""
    df = Q["q4_priority_semi"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "LeftSemi" in txt, txt
    assert "CartesianProduct" not in txt and "NestedLoop" not in txt, txt
    assert "l_returnflag" in " ".join(pushed_filters(df))
    df = Q["q22_idle_customers_anti"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "LeftAnti" in txt, txt
    assert "BroadcastHashJoin" in physical_ops(df), physical_ops(df)
    assert "c_acctbal" in " ".join(pushed_filters(df))


def test_cohort_retention_join_free_single_scan(spark):
    """The retention triangle attaches cohorts by window min, never a
    self-join against a per-user aggregate (unbroadcastable at real
    user counts) — one scan, no join operator."""
    df = Q["w6_cohort_retention"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert not any("Join" in op for op in ops), ops
    assert ops.count("Scan") == 1, ops


def test_q6_all_simple_predicates_pushed(spark):
    """Q6's scan-agg plan: shipdate + quantity reach the parquet scan;
    zero wide exchanges (single-row combine only)."""
    df = Q["q6_forecast_revenue"].fn(spark, SF_SMOKE)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "l_quantity" in filters, filters
    ops = physical_ops(df)
    assert "HashAggregate" in ops
    assert "SortMergeJoin" not in ops and "BroadcastHashJoin" not in ops


def test_q14_q19_part_broadcast_no_shuffle_join(spark):
    """The part dim joins broadcast in q14/q19; q19's disjunction
    leaves per-side residual predicates at the scans (CNF pushdown)."""
    for name in ("q14_promo_revenue", "q19_disjunctive_revenue"):
        df = Q[name].fn(spark, SF_SMOKE)
        ops = physical_ops(df)
        assert "BroadcastHashJoin" in ops, (name, ops)
        assert "SortMergeJoin" not in ops, (name, ops)
        assert "CartesianProduct" not in ops and "BroadcastNestedLoop" \
            not in " ".join(ops), (name, ops)
    filters = " ".join(pushed_filters(Q["q19_disjunctive_revenue"]
                                      .fn(spark, SF_SMOKE)))
    assert "l_quantity" in filters, filters  # residual range pushed


def test_q18_partial_agg_before_exchange(spark):
    """Q18's child aggregate partial-aggregates map-side; the HAVING
    output (tiny) probes orders — no cartesian, no nested loop."""
    df = Q["q18_large_orders"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert txt.count("HashAggregate") >= 2, txt  # partial + final
    ops = physical_ops(df)
    assert "CartesianProduct" not in ops, ops


def test_hll_single_mapside_combined_exchange(spark):
    """The HLL register build: distinct collapses map-side, then one
    partial+final aggregate per (type, register) — constant state per
    group regardless of user count."""
    df = Q["sk_hll_registers"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert txt.count("HashAggregate") >= 2, txt
    assert count_exchanges(df) <= 2, txt  # distinct + register rollup


def test_winnow_no_cartesian_and_capped_posting(spark):
    """Winnowing pair join is equi-join-only; the per-doc gram/window
    pipeline stays array-function (no explode before the fingerprint
    table)."""
    df = Q["d_winnow_fingerprint_pairs"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoop" not in " ".join(ops), ops
    txt = explain_str(df)
    assert "transform(" in txt or "Generate" in txt  # array pipeline
    # k-grams and hash windows come from `kgrams`, not per-window
    # `transform(sequence(..), i -> slice(..))` gathers.
    assert "sequence(" not in _optimized_plan(df)


def test_tfidf_topk_broadcast_and_takeordered(spark):
    """df and N broadcast onto the tf stream; the global top-k is a
    TakeOrdered, never a full sort."""
    df = Q["idx_tfidf_topk"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "TakeOrderedAndProject" in ops, ops
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops


def test_pagerank_no_cartesian_and_reused_edges(spark):
    """Each PageRank iteration is equi-join + partial-aggregated
    rollup; the degree-attached edge list is persisted (InMemoryRelation
    appears), and nothing degenerates to a nested loop."""
    df = Q["g_pagerank_purchases"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert "CartesianProduct" not in ops, ops
    assert "InMemoryTableScan" in txt or "InMemoryRelation" in txt, \
        "edges/nodes not persisted across iterations"
    # r13: both edge directions come from ONE evaluation of the
    # orders⋈lineitem+distinct subtree via explode — a self-union here
    # re-ran that subtree once per branch per consumer (scans 88→50 in
    # the committed capture, plans/r13/g_pagerank_purchases_*.txt).
    assert "Generate" in ops, ops
    assert "Union" not in ops, ops


def test_cms_registers_bounded_partial_agg(spark):
    """CMS register build: one exchange, map-side partial aggregation
    (bounded at depth*width rows per partition by construction)."""
    df = Q["sk_cms_registers"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert txt.count("HashAggregate") >= 2, txt  # partial + final
    assert count_exchanges(df) == 1, txt


def test_q13_outer_join_on_clause_semantics(spark):
    """Q13's left outer join keeps zero-order customers (ON-clause
    filter, not WHERE) and double-aggregates with map-side combine;
    no nested loop anywhere."""
    df = Q["q13_order_distribution"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "LeftOuter" in txt, txt
    assert "CartesianProduct" not in txt and "NestedLoop" not in txt, txt
    assert "o_orderpriority" in " ".join(pushed_filters(df)), \
        "ON-clause filter should prune the orders scan"
    assert txt.count("HashAggregate") >= 2, txt


def test_q16_distinct_agg_and_anti_exclusion(spark):
    """Q16: excluded-supplier NOT IN plans as a broadcast anti join;
    the filtered part dim broadcasts; COUNT(DISTINCT) never shuffles
    raw fact rows beyond its one group exchange."""
    df = Q["q16_supplier_variety"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert "LeftAnti" in txt, txt
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops
    assert "p_size" in " ".join(pushed_filters(df))


def test_q17_decorrelated_agg_join(spark):
    """Q17's correlated scalar subquery runs as ONE per-part aggregate
    joined back — the brand restriction reaches the fact scan via a
    broadcast semi join BEFORE the aggregate."""
    df = Q["q17_small_quantity_revenue"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert "LeftSemi" in txt, txt
    assert "CartesianProduct" not in ops, ops
    assert txt.count("HashAggregate") >= 2, txt


def test_q20_semi_chain_all_reductions(spark):
    """Q20's nested EXISTS chain: every level is a semi reduction
    (two LeftSemi joins), every small side broadcasts, the fact table
    appears exactly once."""
    df = Q["q20_heavy_part_suppliers"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert txt.count("LeftSemi") >= 2, txt
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops
    # formatted explain: each "(N) Scan parquet" detail block carries
    # the file location — count the blocks reading the fact table
    fact_scans = [b for b in txt.split("\n\n")
                  if b.lstrip().startswith("(") and "Scan parquet" in b
                  and "lineitem" in b]
    assert len(fact_scans) == 1, txt  # fact scanned exactly once


def test_q21_exists_pair_from_one_profile(spark):
    """Q21's EXISTS + NOT EXISTS both derive from the single per-order
    profile aggregate — no correlated self-joins, supplier dim
    broadcasts, nothing nested-loops."""
    df = Q["q21_sole_fault_suppliers"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert "BroadcastHashJoin" in ops, ops
    assert "CartesianProduct" not in ops and "NestedLoop" not in txt, txt
    assert txt.count("HashAggregate") >= 2, txt


def test_w7_range_frame_single_exchange(spark):
    """The trailing-window rollup is ONE exchange on o_custkey and a
    sliding RANGE frame — no self-join on the time range."""
    df = Q["w7_rolling_revenue"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "Window" in ops, ops
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) == 1, explain_str(df)


def test_span_dedup_equi_join_only_and_array_pipeline(spark):
    """Span dedup candidates join on the md5 window hash (uniform,
    skew-proof) — never a nested loop; the window pipeline is
    JVM-side (Generate/slice), no Python stage."""
    df = Q["t_span_dedup"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    txt = explain_str(df)
    assert "CartesianProduct" not in ops, ops
    assert "BroadcastNestedLoop" not in " ".join(ops), ops
    assert "Generate" in ops, ops
    assert "ArrowEvalPython" not in ops and "BatchEvalPython" not in ops, ops


def test_bottomk_sample_is_take_ordered(spark):
    """The bottom-k sample must plan as TakeOrderedAndProject
    (per-partition top-k, k rows forwarded per partition) — never a
    full sort exchange of the corpus."""
    df = Q["sk_bottomk_quantiles"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "TakeOrderedAndProject" in ops, ops


def test_scd2_two_windows_one_exchange(spark):
    """Both SCD2 windows (change-detect lag, version-close lead)
    share the business-key partition: ONE exchange, no join."""
    df = Q["s4_scd2_dimension"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "Window" in ops, ops
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) == 1, explain_str(df)


def test_q10_ordered_topn_is_take_ordered(spark):
    """Q10's top-20 must plan as TakeOrderedAndProject (per-partition
    heaps, driver merges 20 x partitions rows) — never a global sort
    exchange of the grouped rollup."""
    df = Q["q10_returned_items"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "TakeOrderedAndProject" in ops, ops
    assert "Sort" not in ops, ops


def _final_plan_after(df):
    df.collect()  # AQE: reuse decisions only appear in the final plan
    txt = explain_str(df)
    return txt.split("== Initial Plan ==")[0]


def test_q15_exchange_reused_single_fact_scan(spark):
    """Q15's MAX branch must REUSE the per-supplier rollup exchange
    (the explicit isnotnull filter exists exactly so both subtrees
    are byte-identical) — without it Spark scans the fact twice."""
    final = _final_plan_after(
        Q["q15_top_supplier"].fn(spark, SF_SMOKE))
    assert "ReusedExchange" in final, final


def test_q11_exchange_reused_for_scalar_total(spark):
    """Q11's scalar-total branch reuses the per-part rollup exchange;
    the 'subquery' costs one reduce, not a second fact scan."""
    final = _final_plan_after(
        Q["q11_important_parts"].fn(spark, SF_SMOKE))
    assert "ReusedExchange" in final, final


def test_q7_q8_q9_dims_broadcast(spark):
    """The completed TPC-H star joins must broadcast their filtered
    dim branches — a SortMergeJoin against nation/supplier/part means
    a pushdown or size estimate regressed."""
    for name in ("q7_volume_shipping", "q8_market_share",
                 "q9_product_profit"):
        ops = physical_ops(Q[name].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in ops, (name, ops)
        assert "CartesianProduct" not in ops, (name, ops)


def test_q12_filter_pushed_and_single_rollup(spark):
    """Q12's ship-year filter must reach the fact scan; the two CASE
    counts fold into ONE aggregate pass (no union of two branches)."""
    df = Q["q12_shipping_delay"].fn(spark, SF_SMOKE)
    assert "l_shipdate" in " ".join(pushed_filters(df))
    ops = physical_ops(df)
    assert "Union" not in ops, ops


def test_pq_adc_is_arrow_scan_no_join(spark):
    """PQ's ADC pass must be a single Arrow-batched map over the code
    stream — no join of any kind and no cartesian pair space (the
    query LUTs are a closure-captured driver artifact)."""
    df = Q["sim_pq_adc_topk"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "ArrowEvalPython" in ops, ops
    assert not any("Join" in op for op in ops), ops


def test_semantic_decontaminate_broadcast_and_jvm_dot(spark):
    """The eval side must broadcast (never shuffle the training
    corpus against it) and the dot product must stay JVM-side —
    no Python stage in the pair loop."""
    df = Q["sim_semantic_decontaminate"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "BroadcastNestedLoopJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops
    assert "ArrowEvalPython" not in ops and "BatchEvalPython" not in ops, ops


def test_w9_sliding_window_is_expand_one_exchange(spark):
    """Sliding windows must lower to Catalyst's Expand (span/slide
    replication) feeding ONE exchange — no self-join reformulation."""
    df = Q["w9_sliding_windows"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "Expand" in ops, ops
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) <= 1, explain_str(df)


def test_a9_markov_three_exchanges_no_join(spark):
    """lead() over the user partition (raw-data exchange #1), the
    types^2-bounded pair rollup (#2), and the probability window's
    repartition on src (#3 — over at most |types|^2 rows, so its cost
    is nil; only exchange #1 ever touches event volume).  No joins
    anywhere."""
    df = Q["a9_markov_transitions"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) <= 3, explain_str(df)


def test_pivot_is_two_phase_agg_no_expand(spark):
    """With the pivot domain passed explicitly, pivot() compiles to
    Spark's two-phase aggregate (pre-agg on (row, pivot) keys, then
    PivotFirst over |domain|-bounded rows) — no Expand, no join, no
    values-discovery subplan, and both exchanges carry at most
    |row domain| x |pivot domain| rows after map-side combine."""
    df = Q["agg_pivot_matrix"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "Expand" not in ops, ops
    assert not any("Join" in op for op in ops), ops
    assert count_exchanges(df) <= 2, explain_str(df)
    assert ops.count("HashAggregate") >= 3, ops  # partial+final, both phases


def test_kmv_set_ops_bottom_k_is_take_ordered(spark):
    """The merged bottom-k must plan as TakeOrdered (per-partition
    top-k, k rows to the driver) — never a global Sort."""
    df = Q["sk_kmv_set_ops"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "TakeOrderedAndProject" in txt, txt


def test_triangle_count_equi_joins_only(spark):
    """Wedge generation and closure must stay hash equi-joins — a
    nested-loop or cartesian in the DATA path breaks the O(sqrt m)
    out-degree bound's value.  The only non-equi joins allowed are
    the two crossJoins combining the three single-row count
    aggregates (1x1x1 scalar assembly, planned as BNLJ)."""
    df = Q["g_triangle_count"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    non_equi = [op for op in ops if "NestedLoop" in op or "Cartesian" in op]
    assert non_equi == ["BroadcastNestedLoopJoin"] * len(non_equi), ops
    assert len(non_equi) <= 2, ops


def test_j9_salted_join_plan_has_salt_key(spark):
    """The salted join must plan as a hash equi-join whose key carries
    the deterministic _salt (xxhash64 of the fact row) — no nested
    loop, no rand()."""
    df = Q["j9_salted_skew_join"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "xxhash64" in txt, txt
    assert "rand" not in txt.lower().replace("brand", ""), txt
    assert "HashJoin" in txt, txt
    assert "NestedLoop" not in txt and "CartesianProduct" not in txt, txt


def test_a10_paths_take_ordered_shared_window(spark):
    """Both lead() offsets share one window spec (single user_id
    exchange + sort) and the global top-k is TakeOrderedAndProject,
    never a full sort."""
    df = Q["a10_top_paths"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    assert "TakeOrderedAndProject" in txt, txt
    ops = physical_ops(df)
    assert ops.count("Window") == 1, ops
    assert not any("Join" in op for op in ops), ops


def test_bm25_take_ordered_broadcast_stats(spark):
    """BM25's df / totals sides broadcast onto the filtered posting
    stream, the term filter reaches the scan side of the explode, and
    the global top-k is TakeOrderedAndProject, never a full sort."""
    df = Q["idx_bm25_topk"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert "TakeOrderedAndProject" in ops, ops
    assert "BroadcastHashJoin" in ops, ops
    assert "SortMergeJoin" not in ops, ops


def test_rfm_single_rollup_exchange(spark):
    """The per-customer rollup partial-aggregates before its one
    o_custkey exchange; the global max-date is a 1-row broadcast
    (BroadcastNestedLoopJoin on a singleton is the cross-join plan),
    and the scan reads only the 3 order columns the rollup needs."""
    df = Q["a11_rfm_segments"].fn(spark, SF_SMOKE)
    txt = explain_str(df)
    ops = physical_ops(df)
    assert "HashAggregate" in ops, ops
    assert "o_orderpriority" not in txt and "o_orderstatus" not in txt, \
        "scan reads columns RFM never uses"
    assert "CartesianProduct" not in ops, ops


def test_shard_assign_one_exchange_no_join(spark):
    """Shard packing is ONE hash exchange on source + an in-partition
    running-sum window — no join, no second shuffle before the ordered
    output."""
    df = Q["mm_shard_assign"].fn(spark, SF_SMOKE)
    ops = physical_ops(df)
    assert not any("Join" in op for op in ops), ops
    assert ops.count("Window") == 1, ops
    assert count_exchanges(df) == 1, explain_str(df)
    assert "hashpartitioning(source" in explain_str(df), explain_str(df)
