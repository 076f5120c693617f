"""Physical-plan assertions: the scale properties SURVEY.md §4 promises.
A query that returns correct rows through a bad plan fails here — the
point is 100 TB behavior, not sf0.001 output."""

from __future__ import annotations

from pyspark.sql import functions as F

from bitcoinminingetl_spark.registry import load_all

REGISTRY = load_all()


def _plan(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_scan_projection_prunes_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_project")
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_filter_reaches_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_filter_pushdown")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_quantity" in pushed and "l_shipdate" in pushed


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_orderby_limit_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_orderby_limit")
    assert "TakeOrderedAndProject" in plan


def test_grouped_agg_has_partial_aggregation(spark, sf_dir):
    # map-side partial agg: two HashAggregate nodes around the exchange
    plan = _plan(spark, sf_dir, "q_avg_grouped")
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark, sf_dir):
    df = REGISTRY["q_avg_grouped"].fn(spark, sf_dir)
    df.collect()  # execute THIS dataset so its adaptive plan finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators print as "*(n) HashAggregate..." in a final plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan


def test_cosine_topk_query_side_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_cosine_topk")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_partition_pruning_in_plan(spark, sf_dir):
    df = REGISTRY["q_scan_partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "ds" in pf and "2024-01-10" in pf


def test_events_time_range_pushes_down(spark, sf_dir):
    """The ns-column rewrite (catalog.events_in_range): the time range
    must appear in PushedFilters — a predicate on the derived timestamp
    would leave only IsNotNull there and read every row group."""
    plan = _plan(spark, sf_dir, "q_filter_between")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed


def test_winnow_single_exchange(spark, sf_dir):
    """Winnowing's window and its per-doc aggregate share one hash
    partitioning on doc_id — exactly one shuffle in the whole plan."""
    plan = _plan(spark, sf_dir, "q_fingerprint_winnow")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ohlc_single_exchange(spark, sf_dir):
    """Both row_number windows and the OHLC aggregate reuse one exchange
    on (event_type, bar_ts)."""
    plan = _plan(spark, sf_dir, "q_ohlc_bars")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2


def test_anomaly_zscore_stats_broadcast(spark, sf_dir):
    """The per-type stats join back onto the fact scan as a broadcast —
    the second pass over events is shuffle-free."""
    plan = _plan(spark, sf_dir, "q_anomaly_zscore")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_text_normalize_no_shuffle(spark, sf_dir):
    """Pure scalar projection: no exchange anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_text_normalize")
    assert "Exchange" not in plan


def test_fuzzy_match_blocks_no_cartesian(spark, sf_dir):
    """Blocking turned the scoring join into an equi-join: no cartesian
    product / nested-loop join anywhere, and the small supplier side is
    broadcast so the customer scan never shuffles for the join."""
    plan = _plan(spark, sf_dir, "q_fuzzy_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_equiheight_approx_no_global_sort(spark, sf_dir):
    """The sketch-boundary histogram must not smuggle in the global sort
    it exists to avoid: no Sort over the full fact, no Window; one
    single-row boundary broadcast plus the final 10-key aggregate."""
    plan = _plan(spark, sf_dir, "q_histogram_equiheight_approx")
    assert "Window" not in plan
    assert "ntile(" not in plan  # note: "percentile_approx(" is expected


def test_ccnet_buckets_approx_no_per_lang_sort(spark, sf_dir):
    """The CCNet scale twin must not smuggle in the per-language ntile
    sort it replaces: no Window/ntile; the per-lang tercile boundaries
    ride a BroadcastExchange onto the scored relation."""
    plan = _plan(spark, sf_dir, "q_ccnet_buckets_approx")
    # the inherited bigram-LM subplan legitimately carries a Window
    # partitioned by w1 (the vocab-sized c(w1) marginal); what must NOT
    # appear is a doc-sized window partitioned by lang, or any ntile
    assert "windowspecdefinition(lang" not in plan
    assert "ntile(" not in plan
    assert "BroadcastExchange" in plan


def test_length_buckets_approx_no_global_sort(spark, sf_dir):
    """The 100 TB length-bucketing twin must not smuggle in the global
    ntile sort it replaces: no Window, no ntile; sketch boundaries ride
    a single-row BroadcastExchange onto the map-side bucket assignment."""
    plan = _plan(spark, sf_dir, "q_length_buckets_approx")
    assert "Window" not in plan
    assert "ntile(" not in plan
    assert "BroadcastExchange" in plan


def test_surrogate_key_dist_parallel_rank(spark, sf_dir):
    """The distributed surrogate key ranks within sketch buckets via a
    parallel hash exchange on the bucket id — the full-data window is
    partitioned (unlike q_surrogate_key's deliberate single-task global
    window); only the 8-row offsets relation uses an unpartitioned
    window."""
    plan = _plan(spark, sf_dir, "q_surrogate_key_dist")
    assert "hashpartitioning(bkt" in plan


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    """The vocabulary cut must be a TakeOrderedAndProject over the df
    aggregate — never a global sort materializing all of |vocab|."""
    plan = _plan(spark, sf_dir, "q_vocab_df")
    assert "TakeOrderedAndProject" in plan


def test_doc_pack_parallel_cumsum(spark, sf_dir):
    """Sequence packing must compute the global token prefix-sum through
    sketch buckets (parallel hash exchange on bkt), never a single-task
    unpartitioned window over the docs; only the 8-row per-bucket offset
    relation may use an unpartitioned window."""
    plan = _plan(spark, sf_dir, "q_doc_pack")
    assert "hashpartitioning(bkt" in plan


def test_ewma_window_is_keyed(spark, sf_dir):
    """The EWMA window must be partitioned by event_type (parallel keyed
    state), and the weighted sum must stay JVM-side — no BatchEvalPython
    / ArrowEvalPython nodes in the plan."""
    plan = _plan(spark, sf_dir, "q_ewma_smooth")
    assert "hashpartitioning(event_type" in plan
    assert "EvalPython" not in plan


def test_scd2_windows_share_one_exchange(spark, sf_dir):
    """Change capture and validity intervals both window over user_id —
    Catalyst must reuse a single hash exchange for both, not shuffle
    twice."""
    plan = _plan(spark, sf_dir, "q_scd2_history")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_framesample_stays_jvm_side(spark, sf_dir):
    """The frame-index fan-out is sequence+explode over metadata — no
    Python eval nodes, no shuffle (map-only explode on the scan)."""
    plan = _plan(spark, sf_dir, "q_multimodal_framesample")
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_join_bloom_has_runtime_filter(spark, sf_dir):
    """The bloom demo must actually inject: a bloom_filter_agg subquery
    on the filtered orders side and a might_contain() filter applied to
    the lineitem side before its shuffle."""
    plan = _plan(spark, sf_dir, "q_join_bloom")
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_semantic_decon_broadcasts_eval_side(spark, sf_dir):
    """The train-vs-eval contamination join must broadcast the (small by
    construction) eval side and stay JVM-side — no shuffle of the
    training scan, no Python eval."""
    plan = _plan(spark, sf_dir, "q_decontaminate_semantic")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_unigram_logprob_stays_jvm_side(spark, sf_dir):
    """LM scoring is explode + aggregate + one token join — all codegen;
    no Python eval anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_unigram_logprob")
    assert "EvalPython" not in plan


def test_heavy_hitters_partial_sketch_agg(spark, sf_dir):
    """approx_top_k must aggregate as a mergeable sketch: a partial
    (map-side) node below the exchange and a merge node above it."""
    plan = _plan(spark, sf_dir, "q_heavy_hitters")
    assert "partial_approx_top_k" in plan


def test_variant_json_map_only(spark, sf_dir):
    """VARIANT path extraction is a pure projection: no exchange, no
    Python eval — one scan, one project."""
    plan = _plan(spark, sf_dir, "q_variant_json")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_peak_concurrency_single_sweep(spark, sf_dir):
    """The sweep-line must be one keyed window over the delta union —
    no self-join of intervals (no more than the window exchange plus the
    final aggregate's reuse of it)."""
    plan = _plan(spark, sf_dir, "q_peak_concurrency")
    assert "hashpartitioning(event_type" in plan
    assert "Join" not in plan


def test_leadlag_corr_broadcasts_hourly_relation(spark, sf_dir):
    """The lag join runs on the tiny hourly relation — it must broadcast
    (the full-data shuffle is the single hourly count aggregate)."""
    plan = _plan(spark, sf_dir, "q_leadlag_corr")
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_is_one_generate_no_shuffle(spark, sf_dir):
    """Chunking is a per-row explode inside the scan — any Exchange here
    would shuffle the full corpus for a map-side operation."""
    plan = _plan(spark, sf_dir, "q_chunk_documents")
    assert "Generate" in plan
    assert "Exchange" not in plan


def test_embed_quantize_is_map_only(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_embed_quantize")
    assert "Exchange" not in plan


def test_seeded_sample_uses_partial_topk(spark, sf_dir):
    """The seeded cut must be TakeOrderedAndProject (per-partition local
    top-k, k-row merge), never a global Sort of the corpus."""
    plan = _plan(spark, sf_dir, "q_seeded_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_tpch_q3_topk_and_pushdown(spark, sf_dir):
    """Q3 shape: both date predicates and the segment equality reach the
    scans, and the top-10 compiles to TakeOrderedAndProject (per-partition
    local top-k), never a global sort of the aggregate."""
    plan = _plan(spark, sf_dir, "q_tpch_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    pushed = plan.split("PushedFilters:")
    flat = " ".join(p.splitlines()[0] for p in pushed[1:])
    assert "l_shipdate" in flat and "o_orderdate" in flat
    assert "EqualTo(c_mktsegment,BUILDING)" in flat


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    """Q5's 6-table snowflake: every dim join is broadcast; no
    SortMergeJoin anywhere (a sort-merge on a dim means a fact-sized
    shuffle that should not exist)."""
    plan = _plan(spark, sf_dir, "q_tpch_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "EqualTo(r_name,ASIA)" in flat and "o_orderdate" in flat


def test_tpch_q18_aggregates_before_join(spark, sf_dir):
    """Q18: the HAVING aggregate collapses lineitem before any join — the
    surviving-orderkeys relation broadcasts, so lineitem contributes only
    its partial-aggregate shuffle."""
    plan = _plan(spark, sf_dir, "q_tpch_large_orders")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_tpch_q2_single_fact_scan_and_broadcasts(spark, sf_dir):
    """Adapted Q2 (r10): the region-filtered supply catalog is persisted
    and shared by the per-part MIN and the probe side — the plan must
    read it back from cache (InMemoryTableScan), not recompute the
    lineitem aggregate twice; supplier/nation/region/part joins all
    broadcast; the top-100 is a TakeOrdered."""
    plan = _plan(spark, sf_dir, "q_tpch_min_cost_supplier")
    assert "InMemoryTableScan" in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q9_broadcast_dims_single_fact_exchange(spark, sf_dir):
    """Adapted Q9: the name-filtered part relation and supplier⋈nation
    both broadcast, the part name predicate reaches the part scan, and
    no dim ever sort-merges — the only fact-sized exchange is the
    lineitem⋈orders key join (AQE may demote even that at test scale)."""
    plan = _plan(spark, sf_dir, "q_tpch_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "p_name" in flat


def test_tpch_q11_scalar_threshold_is_broadcast_not_window(spark, sf_dir):
    """Adapted Q11: the global value threshold attaches as a 1-row
    broadcast (the sanctioned BNLJ), never a global window — a
    Window.partitionBy() here would funnel every part through one task
    at scale."""
    plan = _plan(spark, sf_dir, "q_tpch_important_parts")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_tpch_q12_pushdown_and_single_exchange(spark, sf_dir):
    """Adapted Q12: both year bounds push into the lineitem scan and
    the plan carries exactly one shuffle family — the order-key join +
    the 2-group aggregate; no window, no sort."""
    plan = _plan(spark, sf_dir, "q_tpch_late_priority")
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert flat.count("l_shipdate") >= 2  # both range bounds pushed
    assert "Window" not in plan


def test_tpch_q16_distinct_relation_and_broadcast_dims(spark, sf_dir):
    """Adapted Q16: the part predicates push to the part scan, both dims
    broadcast onto the 8-byte-pair distinct relation, and the distinct
    supplier count expands through the standard two-phase aggregate —
    no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "q_tpch_parts_supplier_count")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "p_size" in flat and "s_acctbal" in flat


def test_tpch_q20_semi_join_on_dim(spark, sf_dir):
    """Adapted Q20: the qualifying-supplier keys drive a LEFT SEMI
    against the supplier dim (never the fact), and the year + name
    predicates reach their scans."""
    plan = _plan(spark, sf_dir, "q_tpch_promotion_suppliers")
    assert "LeftSemi" in plan or "left_semi" in plan.lower()
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "l_shipdate" in flat
    assert "p_name" in flat


def test_ri_orphans_is_all_broadcast_no_shuffle(spark, sf_dir):
    """The referential-integrity audit: five anti joins, all broadcast —
    zero fact-sized shuffles in the whole union."""
    plan = _plan(spark, sf_dir, "q_ri_orphans")
    assert plan.count("BroadcastHashJoin") == 5
    assert plan.count("Exchange hashpartitioning") == 0


def test_bigram_logprob_head_is_broadcast(spark, sf_dir):
    """The bigram doc⋈transition join must head/tail-split: the hottest
    transitions are scored through a broadcast join (map-side, hot keys
    never shuffled) and the cold-row selection is a broadcast anti-join
    — at least two broadcast joins in the plan, no Python eval."""
    plan = _plan(spark, sf_dir, "q_bigram_logprob")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan


def test_tpch_q7_nation_pair_broadcast(spark, sf_dir):
    """Q7: the 2-row nation relation broadcasts onto supplier and
    customer; the only sort-merge candidate is the lineitem⋈orders
    fact join (which AQE may itself demote at test scale)."""
    plan = _plan(spark, sf_dir, "q_tpch_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "l_shipdate" in flat
    assert "n_name" in flat  # the isin([A,B]) prune reaches the nation scan


def test_tpch_q10_topk_and_pushdown(spark, sf_dir):
    """Q10: quarter + returnflag predicates push to their scans; the
    top-20 is a TakeOrdered; customer/nation attach by broadcast AFTER
    the aggregate (their columns never ride the fact shuffle)."""
    plan = _plan(spark, sf_dir, "q_tpch_returned_items")
    assert "TakeOrderedAndProject" in plan
    flat = " ".join(
        p.splitlines()[0] for p in plan.split("PushedFilters:")[1:]
    )
    assert "EqualTo(l_returnflag,R)" in flat and "o_orderdate" in flat
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q19_single_join_no_union(spark, sf_dir):
    """Q19's OR-of-ANDs runs as ONE broadcast join + one codegen'd
    disjunction — not a union of three per-basket scans (lineitem must
    appear exactly once in the plan)."""
    plan = _plan(spark, sf_dir, "q_tpch_discounted_revenue")
    assert "Union" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("lineitem.parquet") == 1


def test_exists_compiles_to_semi_join(spark, sf_dir):
    """EXISTS/IN decorrelate to LEFT SEMI joins — never an aggregate+
    DISTINCT, never a cartesian."""
    for name in ("q_exists_subquery", "q_in_subquery"):
        plan = _plan(spark, sf_dir, name)
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan


def test_scalar_subquery_is_one_row_broadcast(spark, sf_dir):
    """The global-avg scalar attaches by a 1-row broadcast (the sanctioned
    BNLJ), not a Window.partitionBy() over all suppliers."""
    plan = _plan(spark, sf_dir, "q_scalar_subquery")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_lateral_explode_is_generate_no_shuffle(spark, sf_dir):
    """posexplode compiles to Generate inside the scan stage — no
    exchange, no window to recover the ordinal."""
    plan = _plan(spark, sf_dir, "q_lateral_explode")
    assert "Generate" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_conditional_agg_is_single_pass(spark, sf_dir):
    """All FILTER-clause aggregates + quantifiers run in one grouped
    aggregate (the filtered DISTINCT adds its Expand, but there is no
    join of per-condition subqueries)."""
    plan = _plan(spark, sf_dir, "q_conditional_agg")
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_date_spine_broadcasts_calendar(spark, sf_dir):
    """The generated month spine is the broadcast side; the fact
    aggregates to per-month rows before the join."""
    plan = _plan(spark, sf_dir, "q_date_spine")
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan  # sequence+explode, plan-side


def test_join_hints_force_shuffled_hash(spark, sf_dir):
    """The SHUFFLE_HASH hint must actually switch the strategy: a
    ShuffledHashJoin in the plan, no broadcast and no sort-merge on the
    supplier join."""
    plan = _plan(spark, sf_dir, "q_join_hints")
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_union_by_name_no_shuffle(spark, sf_dir):
    """The schema-evolution union is two filtered scans + projections —
    no exchange anywhere, both event_type predicates pushed."""
    plan = _plan(spark, sf_dir, "q_union_by_name")
    assert "Union" in plan
    assert "Exchange" not in plan
    flat = " ".join(p.splitlines()[0] for p in plan.split("PushedFilters:")[1:])
    assert "purchase" in flat and "error" in flat


def test_try_funcs_stay_jvm_side(spark, sf_dir):
    """try_* expressions compile into the codegen'd projection: no
    Python eval, no shuffle, single scan."""
    plan = _plan(spark, sf_dir, "q_try_funcs")
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_hybrid_rrf_pools_are_take_ordered(spark, sf_dir):
    """RRF must rank pools, not the corpus: both per-system top-200 cuts
    compile to TakeOrderedAndProject and no corpus-sized global Window
    precedes them (the row_number windows run on the 200-row pools)."""
    plan = _plan(spark, sf_dir, "q_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 3  # 2 pools + final top
    assert "CartesianProduct" not in plan


def test_window_locf_single_keyed_window(spark, sf_dir):
    """LOCF is one keyed window — a single exchange on user_id, no join,
    no second window pass."""
    plan = _plan(spark, sf_dir, "q_window_locf")
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    # Q6 IS the scan: all three predicates reach the parquet reader and
    # ReadSchema carries exactly the 4 referenced columns
    plan = _plan(spark, sf_dir, "q_tpch_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    assert "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_tax" not in read_schema


def test_tpch_q8_no_sort_merge_join(spark, sf_dir):
    # the 7-relation tree: every dimension attaches by broadcast; no
    # sort-merge join and certainly no cartesian anywhere in the tree
    plan = _plan(spark, sf_dir, "q_tpch_market_share")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_tpch_q13_exclusion_preserves_left_join(spark, sf_dir):
    # the exclusion predicate must ride the LEFT JOIN's ON clause — if
    # it slipped into a post-join filter Catalyst would rewrite the
    # outer join to inner and the zero-order customers would vanish
    plan = _plan(spark, sf_dir, "q_tpch_customer_distribution")
    assert "LeftOuter" in plan


def test_tpch_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_tpch_sales_opportunity")
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_zorder_single_window_pass(spark, sf_dir):
    # the three layouts bucket through ONE ntile window (partitioned by
    # layout), not three separate sorts of three plans
    plan = _plan(spark, sf_dir, "q_zorder_layout")
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan


def test_event_seq_pattern_stays_jvm_side(spark, sf_dir):
    # regex counting over the sequence string is codegen'd expression
    # work — no Python evaluation anywhere in the plan
    plan = _plan(spark, sf_dir, "q_event_seq_pattern")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_dedup_triangles_joins_pairs_not_corpus(spark, sf_dir):
    # wedge enumeration reads the persisted pair relation (InMemory
    # scans), and the closing edge check is a semi join — the documents
    # table itself appears only under the one-time persisted build
    df = REGISTRY["q_dedup_triangles"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "InMemoryTableScan" in plan


def test_sketch_rollups_single_grouped_pass(spark, sf_dir):
    # base/increment/full sketches must come out of ONE grouped
    # aggregate (mask-based split) — more would mean the query
    # re-scanned events per period. The HLL query carries one extra
    # exchange: its exact countDistinct twin plans as the standard
    # two-phase (key, user) expand — that is the audit's cost, not the
    # sketches'.
    plan = _plan(spark, sf_dir, "q_kll_quantile_merge")
    assert plan.count("Exchange hashpartitioning") == 1
    plan = _plan(spark, sf_dir, "q_hll_union_merge")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_hll_sketch_agg" in plan  # map-side sketch partials


def test_hard_negatives_lsh_narrow_candidates(spark, sf_dir):
    """The label filter must NOT change the candidate plan shape: same
    narrow bucket equi-join as q_knn_join_lsh (no cartesian pair
    expansion), anchor vectors re-attached by broadcast, and the label
    inequality is a post-join filter — never a join strategy downgrade
    to CartesianProduct."""
    plan = _plan(spark, sf_dir, "q_hard_negatives_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # anchor-side vector re-attach
    assert "HashJoin" in plan  # bucket join is hash-based, never nested-loop


def test_blocked_lsh_family_forces_no_broadcast(spark, sf_dir):
    """The blocked-LSH skeleton's query side is the vec_id % 50 sample —
    data-proportional, so no join strategy may be forced on it: the
    analyzed plans carry no broadcast hint. AQE still picks a broadcast
    hash join at runtime while the side is under its threshold."""
    for name in (
        "q_knn_join_lsh",
        "q_hard_negatives_lsh",
        "q_bitext_mine_lsh",
    ):
        df = REGISTRY[name].fn(spark, sf_dir)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "strategy=broadcast" not in analyzed, name


def test_bitext_mine_lsh_margin_is_windows_not_joins(spark, sf_dir):
    """The margin machinery must compile to windows over the candidate
    relation (rank + avg legs share the src/tgt partitionings), not
    join-backs: no CartesianProduct, and the window count is bounded by
    the 5 declared specs (fwd/bwd rank, fwd/bwd avg, final pick)."""
    plan = _plan(spark, sf_dir, "q_bitext_mine_lsh")
    assert "CartesianProduct" not in plan
    assert 1 <= plan.count("Window [") <= 5  # operator nodes, not refs
    assert "BroadcastExchange" in plan  # source-side vector re-attach


def test_retrieval_eval_pools_are_take_ordered(spark, sf_dir):
    """Both ranker pools must be TakeOrderedAndProject (per-partition
    top-k, corpus never globally sorted) and the metric math must stay
    JVM-side (BM25's idf ln is the only transcendental — the nDCG
    discounts are decimal literals, so LOG2 never appears)."""
    plan = _plan(spark, sf_dir, "q_retrieval_eval")
    assert plan.count("TakeOrderedAndProject") >= 2  # lex + sem pools
    assert "EvalPython" not in plan
    assert "LOG2" not in plan.upper()  # discounts are literals


def test_mix_temperature_one_corpus_pass(spark, sf_dir):
    """The corpus contributes ONE grouped aggregate (map-side partials
    into a single source-keyed exchange); the totals are a
    share-of-total window on the ~20-row aggregate, so there is exactly
    one corpus scan, no join, and no Python."""
    plan = _plan(spark, sf_dir, "q_mix_temperature")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1  # the fix this test pins


def test_k_anonymity_two_aggregates_one_scan(spark, sf_dir):
    """The audit is two hash aggregates (quasi-key classes with map-side
    partials, then a 1-row summary over the |classes| relation) — one
    corpus scan, no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "q_k_anonymity")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_l_diversity_one_scan(spark, sf_dir):
    """Same shape as q_k_anonymity plus the two-phase COUNT(DISTINCT)
    expansion — still one corpus scan, no join, no window, no Python."""
    plan = _plan(spark, sf_dir, "q_l_diversity")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_t_closeness_cell_persisted_broadcast_completion(spark, sf_dir):
    """The skewness audit's four consumers (class marginal, global
    marginal, grand total, probe) must ALL read the persisted cell
    relation — an unmaterialized cell subtree re-scans the corpus once
    per consumer (4 parquet scans, the bug this pins against); the
    class x sensitive-domain completion joins broadcast ~5-row dims —
    no shuffle join of fact-sized relations, no Python."""
    plan = _plan(spark, sf_dir, "q_t_closeness")
    assert plan.count("InMemoryTableScan") == 4
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_mix_epochs_one_corpus_pass(spark, sf_dir):
    """Same doctrine as q_mix_temperature (whose shape it extends): one
    source-keyed grouped aggregate over the corpus, all budget/epoch
    math on the ||sources||-row relation via the share-of-total window —
    exactly one corpus scan, no join, no Python."""
    plan = _plan(spark, sf_dir, "q_mix_epochs")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_length_buckets_single_ntile_window(spark, sf_dir):
    """The audit is one global ntile window (the declared equiheight
    ground-truth pattern) followed by one grouped aggregate — no joins,
    no Python, no second corpus scan."""
    plan = _plan(spark, sf_dir, "q_length_buckets")
    assert plan.count("Window") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_bnlj_build_side_gate_red_green(spark):
    """r11 VERDICT item 2: the plan audit's BNLJ check is an ASSERTION
    on the measured broadcast-side row count, not a human-review list.
    Red: a planted fact-sized broadcast (10k rows through a
    BroadcastNestedLoopJoin) must be flagged. Green: the sanctioned
    shape (1-row aggregate) must pass with its measured count."""
    import scripts.audit_plans as ap

    big = spark.range(10_000).withColumnRenamed("id", "b")
    fact = spark.range(50).withColumnRenamed("id", "a")

    bad = fact.crossJoin(F.broadcast(big))
    bad.collect()  # metrics exist only after execution
    rows = ap.bnlj_build_rows(bad)
    assert rows == [10_000]
    err = ap.bnlj_violation("q_planted_fact_bnlj", rows)
    assert err is not None and "10000" in err and "q_planted_fact_bnlj" in err

    good = fact.crossJoin(F.broadcast(big.agg(F.count("*").alias("n"))))
    good.collect()
    rows = ap.bnlj_build_rows(good)
    assert rows == [1]
    assert ap.bnlj_violation("q_tiny", rows) is None

    # unmeasurable (no BroadcastExchange found) is a violation, never a
    # silent pass
    assert ap.bnlj_violation("q_unknown", [-1]) is not None
    # a plan with no BNLJ at all yields no measurements
    none_df = fact.join(big, fact.a == big.b)
    none_df.collect()
    assert ap.bnlj_build_rows(none_df) == []
