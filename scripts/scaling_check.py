"""Empirical scaling audit: run a representative query set at three
scale factors (sf0.001 / sf0.01 / sf0.1 — 100× input growth end to end)
and fit the observed growth exponent alpha in t ~ c * n^alpha over the
upper decade (sf0.01 -> sf0.1, where fixed per-query overhead no longer
dominates).

This is the measured counterpart to PLANS.md's structural argument: a
plan whose shape is right for 100 TB should show alpha <= ~1 at the
scales we can actually run (sub-linear when constant overhead still
amortizes, ~linear when the scan dominates). A super-linear alpha
(>1.1 since r13 — see LINEAR_BAND's derivation) means the operator's
cost is growing faster than its input — the thing that kills a 100×
scale-up — and fails the audit.

Quadratic-by-design ground-truth twins (q_knn_join's guarded all-pairs)
are listed with their declared exponent and audited against THAT bound
instead: the point is no query grows faster than its plan claims.

Every timing is the per-cell MIN over TIMING_REPS FULL PASSES of the
audit (r12): an alpha is a ratio of two timings, so single-run host noise (±40% on this box)
lands directly in the exponent — q_semdedup's decade read anywhere in
1.3-1.45 across runs of identical code. Pass-level, NOT back-to-back
per-query reps: many audited queries read session-persisted relations
(pair_overlaps, shingle_index) that earlier queries in the pass
materialize, so an immediate second execution times a cached read —
measured: the declared-quadratic ngram twin collapsed from 3.7 s to
0.1 s, vacuously passing every bound. The second pass instead runs
behind spark.catalog.clearCache(), replaying the exact same
cold-relation discipline, so the min compares two equivalent
measurements of the same work. With two min-based rounds of scatter
and alpha evidence on file, the linear band is retightened to
LINEAR_BAND = 1.1 (derivation at its definition).

Run: python scripts/scaling_check.py   (rewrites SCALING.md, exits 1 on
any exponent violation). ~40 min at 2 reps: the sf1eq decade legs (the
guarded quadratic twins run 1.5-2 min each at 10x) dominate; the 3-SF
lower audit itself is minutes even at 140 queries.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bitcoinminingetl_spark.runner import run_query, warm  # noqa: E402

SF_DIRS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

# min-of-N passes (see module docstring); 2 halves the noise for a 2x
# runtime — the knee of that trade at this suite size
TIMING_REPS = 2


def _min_over_passes(spark, cells, run_cell) -> tuple[dict, dict]:
    """Per-cell min wall time (run_cell's return value) over TIMING_REPS
    full passes of `cells` in their given order, with spark.catalog.clearCache() between
    passes so every pass pays (and amortizes) the same persisted-
    relation builds — see the module docstring for why back-to-back
    per-cell reps would instead time cached reads.

    Returns (per-cell min, per-cell list of ALL pass times). The
    all-pass times feed SCALING.md's scatter section (r12 ADVICE item
    3): this scatter record was the evidence base for r13's
    LINEAR_BAND retightening (1.35 -> 1.1) and keeps accruing per
    committed SCALING.md so future retightenings stay measured."""
    best: dict = {}
    all_times: dict = {key: [] for key in cells}
    for p in range(TIMING_REPS):
        if p:
            spark.catalog.clearCache()
        print(
            f"timing pass {p + 1}/{TIMING_REPS}: {len(cells)} cells",
            file=sys.stderr,
        )
        for key in cells:
            dt = run_cell(key)
            all_times[key].append(dt)
            if dt < best.get(key, float("inf")):
                best[key] = dt
    return best, all_times


def _scatter_stats(all_times: dict) -> tuple[float, float, float, int]:
    """(median, p90, max, n) of per-cell relative scatter
    (max-min)/min across cells with >=2 passes and a non-trivial floor
    (min >= 0.2 s — sub-floor cells measure constant overhead whose
    scatter says nothing about the band)."""
    rel = sorted(
        (max(ts) - min(ts)) / min(ts)
        for ts in all_times.values()
        if len(ts) >= 2 and min(ts) >= 0.2
    )
    if not rel:
        return 0.0, 0.0, 0.0, 0
    med = rel[len(rel) // 2]
    p90 = rel[min(len(rel) - 1, int(0.9 * len(rel)))]
    return med, p90, rel[-1], len(rel)

# Linear-claim exponent band for the 3-SF audit (sf0.01 -> sf0.1 upper
# decade). RETIGHTENED 1.35 -> 1.1 in r13 per the r12 ADVICE plan, on
# two consecutive min-of-reps rounds of evidence now on file in
# SCALING.md's scatter section and audit tables: max fitted alpha over
# the 136 (r12) / 140 (r13) linear rows was 0.77 / 0.74, with
# round-over-round drift <= 0.06 on every top row — 1.1 keeps > 0.33
# headroom (5x the drift) while closing the gap a borderline-
# quadratic plan (alpha ~1.3) could previously hide in. The sf0.1 ->
# sf1eq DECADE_AUDIT band stays 1.35: its legs carry fixed fit/
# lifecycle floors and measured linear alphas reach 0.89 there
# (semdedup_scaledk), so the same margin arithmetic lands at ~1.35.
LINEAR_BAND = 1.1

# (query, declared exponent bound, why)
AUDIT = [
    ("q_window_join", LINEAR_BAND, "flagship: two windowed aggs + join — linear scan-bound"),
    ("q_avg_grouped", LINEAR_BAND, "partial-agg around one exchange"),
    ("q_join_inner", LINEAR_BAND, "fact join, AQE-owned"),
    ("q_join_broadcast", LINEAR_BAND, "broadcast dim — fact side linear"),
    ("q_topk_per_group", LINEAR_BAND, "rank window per key"),
    ("q_tpch_local_supplier_volume", LINEAR_BAND, "6-table snowflake, dims broadcast"),
    ("q_tpch_returned_items", LINEAR_BAND, "selective fact agg + broadcast attach"),
    ("q_dedup_exact", LINEAR_BAND, "hash aggregate"),
    ("q_dedup_minhash_lsh", LINEAR_BAND, "banded LSH: O(docs x bands) shuffle"),
    ("q_corpus_dedup_lsh", LINEAR_BAND, "the shippable dedup composition"),
    ("q_cosine_topk", LINEAR_BAND, "broadcast query side, corpus never shuffles"),
    ("q_knn_join_lsh", LINEAR_BAND, "blocked ANN join, narrow candidates"),
    ("q_dup_span_stats", LINEAR_BAND, "gram agg + skew-aware flag join"),
    ("q_tokenize_to_ids", LINEAR_BAND, "vocab broadcast + one doc shuffle"),
    ("q_unigram_logprob", LINEAR_BAND, "tf agg + token join"),
    ("q_text_stats", LINEAR_BAND, "map-only scan"),
    ("q_surrogate_key_dist", LINEAR_BAND, "sketch-bucket ranks, no global window"),
    ("q_sessionize", LINEAR_BAND, "keyed lag window"),
    ("q_curation_funnel", LINEAR_BAND, "fused funnel: 2 windows + shingle semi-join"),
    ("q_snapshot_diff", LINEAR_BAND, "one full-outer key join, unchanged filtered"),
    ("q_hybrid_rrf", LINEAR_BAND, "two TakeOrdered pools + tiny fusion aggregate"),
    # r4 VERDICT item 5: every query >= 1.5 s at sf0.1 joins the audit
    ("q_resample_interpolate", LINEAR_BAND, "bucket agg persisted once; spine+windows O(streams x buckets)"),
    ("q_ewma_smooth", LINEAR_BAND, "keyed ordered window, one exchange"),
    ("q_collation_ci", LINEAR_BAND, "single collated hash aggregate (comparator folds case in-agg)"),
    ("q_decontaminate", LINEAR_BAND, "one shingle pass + 8-byte-key equi-join"),
    ("q_dedup_simhash", LINEAR_BAND, "chunk-blocked candidates + popcount verify"),
    ("q_dedup_clusters", LINEAR_BAND, "pointer-jumping CC: O(log diameter) rounds, linear per round"),
    ("q_bpe_train", LINEAR_BAND, "corpus touched once; merge rounds run on the vocab relation"),
    ("q_ann_ivf_kmeans", LINEAR_BAND, "KMeans per-fit amortized; probe join broadcast"),
    ("q_semdedup", LINEAR_BAND, "quantizer fit + cluster-cap-bounded within-cell pairs"),
    ("q_cluster_keywords", LINEAR_BAND, "fit + vocab-cardinality lift joins; corpus tokenized once"),
    # r11 widening: four queries crossed the 1.0 s threshold in a
    # noisy snapshot bench — audited for growth shape on arrival
    ("q_tfidf_terms", LINEAR_BAND, "explode + two hash aggs; tiny df relation broadcast back"),
    ("q_tpch_discounted_revenue", LINEAR_BAND, "TPC-H Q19: disjunctive predicate windows broadcast onto one fact pass"),
    ("q_tpch_small_qty_revenue", LINEAR_BAND, "TPC-H Q17: per-part avg-qty aggregate broadcast back onto the fact"),
    ("q_tpch_sales_opportunity", LINEAR_BAND, "TPC-H Q22: decorrelated scalar subquery + anti-join, customer-keyed"),
    # ... plus the 0.75-1.0 s band of the SAME noisy snapshot bench
    # that admitted the four above
    ("q_join_range", LINEAR_BAND, "time-band join: user_id equi conjunct drives the hash join, band is residual"),
    ("q_approx_percentiles", LINEAR_BAND, "GK sketch per key: mergeable per-partition state, one narrow exchange"),
    ("q_rolling_distinct_users", LINEAR_BAND, "dedup to (user, day) then x7 contribution explode on the tiny distinct relation"),
    ("q_split_decontaminate", LINEAR_BAND, "split-aware 13-gram decontamination: shared shingle index, 8-byte-key equi-join"),
    # ... and the 0.8-1.0 s band of the NEXT (quieter) snapshot bench.
    # Admission rule across both groups: once a query is measured
    # within ~25% of the 1.0 s hygiene threshold in any canonical
    # bench, audit it preemptively — on this host a 40% noise swing is
    # routine, and the hygiene gate's hysteresis (see
    # test_every_expensive_query_is_scaling_audited) handles the rest
    ("q_histogram_equiheight_approx", LINEAR_BAND, "sketch boundaries broadcast, map-side bucketing (length_buckets_approx recipe)"),
    ("q_ohlc_bars", LINEAR_BAND, "hourly OHLC rollup: one grouped min/max/first/last agg"),
    ("q_join_asof_nearest", LINEAR_BAND, "nearest-in-time as-of: union-tag + ordered window, one exchange"),
    ("q_in_subquery", LINEAR_BAND, "IN subquery planned as LEFT SEMI join on the fact key"),
    ("q_date_spine", LINEAR_BAND, "generated calendar explode + left join to per-month totals"),
    ("q_python_udtf", LINEAR_BAND, "arrow-batched table-generating UDTF, map-only fan-out"),
    ("q_dq_profile", LINEAR_BAND, "single-pass multi-aggregate constraint sweep"),
    ("q_join_asof", LINEAR_BAND, "as-of backward join: key equi-join + row_number over time"),
    # r13: crossed into the 0.75-1.0 s band when the fixed 1-hour
    # threshold became cadence-relative (adds a per-stream exact-median
    # aggregate + broadcast join) — audited on arrival per the
    # within-25%-of-threshold admission rule
    ("q_gap_detect", LINEAR_BAND, "per-stream lag window + exact-median broadcast join; streams x gaps linear"),
    ("q_event_transitions", LINEAR_BAND, "per-user lag window + transition-pair hash agg"),
    ("q_peak_concurrency", LINEAR_BAND, "sweep line: +1/-1 explode + running-sum window per stream"),
    ("q_join_salted", LINEAR_BAND, "salted hot-key join: key+salt exchange, replicated small side"),
    ("q_corpus_dedup", LINEAR_BAND, "md5 exact stage + df-capped pair verify composition"),
    ("q_join_bloom", LINEAR_BAND, "runtime bloom semi-reduction before the fact shuffle join"),
    ("q_anomaly_zscore", LINEAR_BAND, "per-stream stats aggregate broadcast back onto the scan"),
    ("q_leadlag_corr", LINEAR_BAND, "hourly count relation + bounded lead/lag self-join on hour key"),
    ("q_retention_cohorts", LINEAR_BAND, "first-seen aggregate broadcast back; day-offset distinct counts"),
    ("q_dedup_containment", LINEAR_BAND, "df-capped pair overlaps, containment ratio on the pair relation"),
    # r5 VERDICT item 5: the guarded-aggregate family — the dsum/roundn
    # guard doctrine doubles per-group CONSTANTS (twin max(abs) leg,
    # double-eval coalesce), and through rollup/cube Expand it multiplies
    # by grouping-set count; this audit proves it never bends EXPONENTS
    ("q_dedup_span_removal", LINEAR_BAND, "gram agg + x5 coverage explode — linear, no pair term"),
    ("q_dedup_pagerank", LINEAR_BAND, "5 static join+agg rounds over the persisted edge relation"),
    ("q_rollup", LINEAR_BAND, "Expand x3 grouping sets — constant factor, scan linear"),
    ("q_cube", LINEAR_BAND, "Expand x4 grouping sets — constant factor, scan linear"),
    ("q_grouping_sets", LINEAR_BAND, "Expand x2 grouping sets via SQL"),
    ("q_incremental_agg_merge", LINEAR_BAND, "partition-wise partial aggs merged"),
    ("q_window_frame", LINEAR_BAND, "bounded sliding frame, one keyed exchange"),
    # r6 widening: new >= 1.5 s-at-sf0.1 queries join the audit on arrival
    ("q_zorder_layout", LINEAR_BAND, "3 per-layout ntile sorts (n log n); production write path is repartitionByRange"),
    ("q_dedup_triangles", LINEAR_BAND, "wedge join bounded by near-dup-graph deg^2, corpus never joined"),
    ("q_tpch_market_share", LINEAR_BAND, "7-relation tree, all dims broadcast; one fact-keyed shuffle"),
    ("q_hard_negatives_lsh", LINEAR_BAND, "label-blind sign-bucket candidates; label filter at re-rank"),
    ("q_bitext_mine_lsh", LINEAR_BAND, "sign-bucket candidates + margin windows keyed by src/tgt id"),
    # r6 VERDICT item 2: the two driver-run outliers join the audit so
    # their growth exponents are on record alongside the r6 controlled
    # per-query cost attribution
    ("q_funnel_stages", LINEAR_BAND, "per-stage min-after-previous aggs, user_id-keyed joins — linear"),
    ("q_fingerprint_winnow", LINEAR_BAND, "rolling-min window over in-scan shingle positions, one exchange"),
    # r7 widening: the round's new operators (all sub-second at sf0.1 —
    # audited for growth shape, not absolute cost)
    ("q_ccnet_buckets", LINEAR_BAND, "persisted LM scores + per-lang ntile (declared ground truth)"),
    ("q_ccnet_buckets_approx", LINEAR_BAND, "per-lang sketch boundaries broadcast, map-side bucketing"),
    ("q_length_buckets_approx", LINEAR_BAND, "sketch boundaries broadcast, map-side bucketing"),
    ("q_mix_epochs", LINEAR_BAND, "one grouped agg + share-of-total window"),
    ("q_compaction_plan", LINEAR_BAND, "per-file _metadata agg + per-partition cumulative window"),
    ("q_k_anonymity", LINEAR_BAND, "two hash aggregates, one scan"),
    ("q_l_diversity", LINEAR_BAND, "quasi-class agg + two-phase COUNT(DISTINCT)"),
    ("q_t_closeness", LINEAR_BAND, "persisted cell relation + broadcast-dim completion"),
    # r8 widening (r7 VERDICT item 5): every query with driver plan cost
    # > 1.0 s in the round's BENCH_FULL joins the audit
    ("q_dedup_embed_cosine_lsh", LINEAR_BAND, "sign-bit sub-bucket candidates (one numpy-matmul UDF) + exact re-rank"),
    ("q_dedup_minhash_mllib", LINEAR_BAND, "MLlib MinHashLSH twin: O(docs x bands) shuffle"),
    ("q_cogroup_pandas", LINEAR_BAND, "cogrouped Arrow kernel, one exchange per side"),
    ("q_ann_ivf", LINEAR_BAND, "IVF cells: probe-cell equi-join candidates, exact re-rank"),
    ("q_bigram_logprob", LINEAR_BAND, "bigram LM probe: tf agg + 8-byte-key token joins"),
    ("q_embed_pca", LINEAR_BAND, "sampled covariance fit; projection is map-only"),
    ("q_star_join", LINEAR_BAND, "star schema: all dims broadcast, one fact pass"),
    ("q_tpch_large_orders", LINEAR_BAND, "fact-keyed agg + semi-join attach"),
    ("q_dedup_pagerank_lsh", LINEAR_BAND, "static power rounds over the persisted LSH edge relation"),
    ("q_surrogate_key", LINEAR_BAND, "distributed sketch-rank primary key, no global window"),
    ("q_dedup_incremental", LINEAR_BAND, "asymmetric new-vs-corpus joins (corpus never pairs with itself)"),
    ("q_ann_brp_mllib", LINEAR_BAND, "MLlib BucketedRandomProjection twin, bucket-join candidates"),
    ("q_math_funcs", LINEAR_BAND, "map-only scalar expression scan"),
    ("q_token_budget_select", LINEAR_BAND, "sketch-bucket prefix sums, no global window"),
    ("q_sql_pricing_summary", LINEAR_BAND, "one-pass grouped agg (TPC-H Q1 shape)"),
    ("q_ann_lsh", LINEAR_BAND, "hyperplane sign-bucket candidates + exact re-rank"),
    # r9 widening (r8 VERDICT item 2): every query with committed plan
    # cost > 1.0 s joins the audit — now self-enforced by
    # tests/test_round_hygiene.py::test_every_expensive_query_is_scaling_audited
    ("q_dedup_representatives", LINEAR_BAND, "CC labels persisted once; one doc equi-join + per-cluster row_number"),
    ("q_agg_distinct", LINEAR_BAND, "Expand x2 multi-distinct, two-phase agg, one scan"),
    ("q_fuzzy_match", LINEAR_BAND, "blocked edit-distance: sum-of-block-products, supplier side broadcast"),
    ("q_hll_union_merge", LINEAR_BAND, "mergeable HLL sketch aggs, one grouped pass + |keys| blob merge"),
    ("q_cluster_keywords_ivf", LINEAR_BAND, "deterministic-quantizer keywords: broadcast centroids, one corpus pass + vocab lift joins"),
    # hysteresis margin: everything measured > 0.8 s in any recent bench
    # joins too, so run-to-run jitter around the 1.0 s rule's threshold
    # can't flip the hygiene test (the audit itself is cheap)
    # r10 widening (r9 VERDICT item 1): the round-9 late arrival whose
    # missing entry turned the hygiene gate red — Q21 is now the most
    # expensive TPC-H in the suite, so a measured exponent is warranted
    # (expected ~linear: late relation built once, every join reuses the
    # l_orderkey exchange, semi/anti fan-out bounded by lines-per-order)
    ("q_tpch_waiting_suppliers", LINEAR_BAND, "Q21: late relation built once; semi+anti reuse one l_orderkey exchange, fan-out bounded by lines-per-order"),
    ("q_ri_orphans", LINEAR_BAND, "five broadcast anti-join counts unioned — parent keys broadcast, no fact shuffle"),
    ("q_kll_quantile_merge", LINEAR_BAND, "mergeable KLL sketch aggs, one grouped pass + |keys| blob merge"),
    # r10 hysteresis admissions: committed cost ~0.2-0.3 s but a
    # mid-round bench saw >1.0 s (host jitter — q_window_lag's identical
    # spike was adjudicated environment drift by r9's per-query A/B);
    # auditing them is cheap and keeps the >1.0 s rule jitter-proof
    ("q_try_funcs", LINEAR_BAND, "map-only try_* scalar scan, zero shuffles"),
    ("q_window_lag", LINEAR_BAND, "keyed lag window, one exchange"),
    # r10 jitter admissions, second batch: sub-second committed costs
    # that crossed 1.0 s in one mid-round bench under ambient load —
    # the same q_window_lag drift class; auditing them is cheap
    ("q_bm25_rank", LINEAR_BAND, "map-side tf arrays, 1-row corpus stats broadcast, TakeOrdered top-k"),
    ("q_bpe_pair_counts", LINEAR_BAND, "pair explosion on the vocab relation only; corpus contributes one count agg"),
    ("q_decontaminate_semantic", LINEAR_BAND, "asymmetric train-eval broadcast join, label-blocked, O(n) norms"),
    # r10 TPC-H completion (all six adapted shapes; Q12 rides along so
    # threshold jitter can't trip the gate on it later)
    ("q_tpch_late_priority", LINEAR_BAND, "Q12: year filter pushed, one key join, CASE counts one grouped pass"),
    ("q_tpch_min_cost_supplier", LINEAR_BAND, "Q2: supply-catalog agg (one fact exchange), region suppliers broadcast, per-part MIN reuses the small relation"),
    ("q_tpch_product_profit", LINEAR_BAND, "Q9: part/supplier dims broadcast; one lineitem-orders key exchange"),
    ("q_tpch_important_parts", LINEAR_BAND, "Q11: region suppliers broadcast, per-part value agg persisted once + 1-row mean-threshold broadcast"),
    ("q_tpch_parts_supplier_count", LINEAR_BAND, "Q16: 8-byte-pair distinct + broadcast dims + two-phase distinct count"),
    ("q_tpch_promotion_suppliers", LINEAR_BAND, "Q20: part keys broadcast, per-(supp,part) agg, LEFT SEMI on the dim"),
    ("q_sql_text_query", LINEAR_BAND, "SQL-text entry: dims broadcast, one fact shuffle, window over the ~25-row aggregate"),
    ("q_dsir_weights", LINEAR_BAND, "DSIR: one tokenize pass, target/raw token aggs + vocab-cardinality left joins"),
    ("q_retrieval_eval", LINEAR_BAND, "two TakeOrdered rank pools + one tiny overlap/nDCG aggregate"),
    ("q_pmi_collocations", LINEAR_BAND, "bigram + unigram hash aggs, vocab-cardinality joins"),
    ("q_zlib_quality", LINEAR_BAND, "map-only Arrow-batched zlib kernel"),
    ("q_tpch_volume_shipping", LINEAR_BAND, "TPC-H Q7 tree: dims broadcast, one fact-keyed shuffle"),
    ("q_quality_filter_gopher", LINEAR_BAND, "map-side rule projection, zero shuffles"),
    ("q_tpch_shipping_priority", LINEAR_BAND, "TPC-H Q3: selective fact join + TakeOrdered"),
    ("q_embed_quantize", LINEAR_BAND, "map-only HOF vector math + decimal error sum"),
    ("q_json_funcs", LINEAR_BAND, "map-side JSON extraction scan"),
    ("q_source_overlap_matrix", LINEAR_BAND, "shingle equi-join bounded by per-source distinct shingles"),
    ("q_doc_pack", LINEAR_BAND, "sequence packing: sketch-bucket two-phase prefix sum, no global sort"),
    ("q_window_ntile", LINEAR_BAND, "per-key ntile window, one exchange"),
    ("q_join_hints", LINEAR_BAND, "forced SHUFFLE_HASH supplier join — one fact-keyed shuffle, no sort"),
    ("q_dedup_clusters_minlabel", LINEAR_BAND, "min-label propagation twin: O(diameter) rounds, linear per round"),
    ("q_tpch_order_priority", LINEAR_BAND, "TPC-H Q4: semi-join + grouped count"),
    ("q_repetition_score", LINEAR_BAND, "map-only gram fold (pre-projected once, r9)"),
    # r9 widening (r8 VERDICT item 6): the streaming lifecycles join the
    # audit — each times land + AvailableNow drain + sink read-back at
    # all three SFs. The drain's FIXED trigger/scheduling latency
    # dominates at these scales, so alpha well under 1 is the expected
    # shape (land+drain cost ~linear in landed rows on top of a fixed
    # floor); the audit exists to catch a lifecycle whose cost grows
    # FASTER than its landed volume (state leak, per-batch re-scan).
    ("q_streaming_window_avg", LINEAR_BAND, "landed week + AvailableNow drain; watermarked window state"),
    ("q_streaming_sessionize", LINEAR_BAND, "landed week + drain; session-gap state per user"),
    ("q_streaming_interval_join", LINEAR_BAND, "landed week + drain; symmetric-hash join state, time-bound expiry"),
    ("q_streaming_interval_join_outer", LINEAR_BAND, "landed week + drain; outer emission on watermark proof"),
    ("q_streaming_incremental_dedup", LINEAR_BAND, "two landed batches + two drains; dedup state across restart"),
    # declared super-linear ground-truth twins: audited against their claim
    ("q_dedup_embed_cosine", 2.2, "GUARDED label-block all-pairs exact twin (pairs ~ n^2 / |labels|)"),
    ("q_knn_join", 2.2, "GUARDED all-pairs exact twin: |A|·|B| ~ n^2"),
    ("q_dedup_ngram_jaccard", 2.2, "exact pair ground truth (df_cap-guarded)"),
    ("q_hard_negatives", 2.2, "GUARDED all-pairs exact twin (q_knn_join + label predicate)"),
    ("q_bitext_mine", 2.2, "GUARDED all-pairs exact twin + margin windows on the pair relation"),
]

# r9 VERDICT item 2: an UPPER decade (sf0.1 -> a deterministic
# sf1-equivalent 10x corpus, scripts/make_sf1.py) for the families whose
# sf0.01->sf0.1 exponents are fitted on 0.8-3.5 s timings where fixed
# per-query overhead pollutes the fit, plus the guarded-quadratic
# ground-truth twins. The sf1eq corpus preserves per-shard structure
# (replica-disjoint vocab, orthogonal sign-flipped embeddings,
# replica-local labels — see make_sf1's module doc), so:
# - the linear families must hold their <= 1.35 claim on timings where
#   fixed cost is amortized (3-35 s);
# - the all-pairs twins (query sample AND corpus both grow 10x ->
#   pairs x100) must stay inside their declared ~n^2 bound;
# - q_dedup_embed_cosine's label blocks grow in COUNT, not size (the
#   corpus's 100 TB operating assumption), so its measured decade
#   exponent should sit near 1 — direct evidence the blocking guard
#   delivers linear growth when block size stays bounded.
DECADE_AUDIT = [
    ("q_zorder_layout", 1.35, "n log n ntile sorts; decade separates sort growth from fixed cost"),
    ("q_dup_span_stats", 1.35, "linear gram relation; decade amortizes the sub-second fixed floor"),
    ("q_dedup_span_removal", 1.35, "linear gram relation + x5 bounded coverage explode"),
    ("q_dedup_ngram_jaccard", 2.2, "exact pair twin: replica-disjoint shingles keep pairs shard-local"),
    ("q_dedup_embed_cosine", 2.2, "label-block twin: blocks grow in count not size -> expect ~1"),
    ("q_knn_join", 2.2, "all-pairs twin: |A| and |B| both x10 -> pairs x100, expect ~2"),
    ("q_hard_negatives", 2.2, "all-pairs twin + label predicate, expect ~2"),
    ("q_bitext_mine", 2.2, "all-pairs twin + margin windows on the x100 pair relation"),
    # the SHIPPABLE scale paths (r10 second batch): the 100 TB dedup/ANN
    # claims rest on these staying ~linear where their exact twins go
    # quadratic — the decade measures exactly that divergence
    ("q_dedup_minhash_lsh", 1.35, "banded LSH: 64-bit band signatures collide only on similarity -> candidates track near-dup pairs, linear on replica-local dups"),
    ("q_corpus_dedup_lsh", 1.35, "shippable end-to-end dedup: md5 exact stage + banded candidates + verify"),
    ("q_dedup_simhash", 2.2, "FIXED-granularity blocker: 8-bit chunks pigeonhole ~n^2/256 candidates on a decorrelated corpus; production widens chunks with corpus size (config, not plan) — measured against the declared pigeonhole bound"),
    ("q_knn_join_lsh", 2.2, "FIXED-granularity blocker: 6-plane buckets pigeonhole ~|q||n|/64 per table on isotropic data; production adds planes with corpus size — measured against the declared bound"),
    ("q_dedup_embed_cosine_lsh", 1.35, "label blocks grow in count not size; sign sub-buckets bound within-block pairs -> linear"),
    # r10 VERDICT item 4: the three most expensive bench queries whose
    # scale claims had only lower-decade fits — pin their exponents
    # where fixed cost is amortized.
    ("q_bpe_train", 1.35, "iterative BPE: corpus touched once into the pair relation; per-round work on the vocab relation with a bounded 1-row collect — rounds constant, so decade growth is the linear relation build"),
    ("q_semdedup", 2.2, "FIXED-granularity quantizer: k capped at 32 for fixture determinism, so cells grow in SIZE over the decade and within-cell pairs head toward the 2000-row cap regime (measured 1.3–1.45 across runs — between the linear fit and quadratic pair growth); production scales k with n (the paper's ~11k clusters at 5B docs) — config, not plan, like the simhash/knn-LSH blockers"),
    ("q_ann_ivf_kmeans", 1.35, "KMeans fit linear (fixed k/iters); map-only cell assignment; probe join stays broadcast (queries x nprobe rows) — decade tests the fit-amortized claim"),
    # r11 VERDICT item 4: the row above this one (q_semdedup, fixed
    # k=32) was accepted at alpha=1.29 under a PROSE argument that
    # production scales k with n. This row MEASURES that claim: the hi
    # leg runs the production configuration — k∝n (32 -> 320 over the
    # 10x embedding decade, holding expected cell size ~constant) with
    # a fixed-size fit sample (fit_sample_fraction=0.1 at 10x == the
    # lo leg's full-fit row count, the documented per-fit
    # amortization) — so the within-cell pair relation grows LINEARLY
    # where the fixed-k twin's grows ~quadratically. Exact assignment
    # is n·k (quadratic in the k∝n limit) but at ~1e-8 s per distance
    # eval stays sub-dominant for several more decades; production
    # swaps it for hierarchical/ANN centroid probing (config, not
    # plan, like the simhash chunk width).
    ("q_semdedup_scaledk", 1.35, "k∝n quantizer (32→320) + fixed-size fit sample: constant cell size makes within-cell pair work linear — the measured counterpart of the fixed-k row's prose claim"),
]

# Decade rows that are CONFIGURATIONS of a registry query rather than
# registry entries themselves: name -> {leg: fn(registry, spark,
# sf_dir) -> DataFrame}. Everything else resolves through the registry.
DECADE_RUNNERS = {
    "q_semdedup_scaledk": {
        "lo": lambda reg, spark, d: reg["q_semdedup"].fn(spark, d),
        "hi": lambda reg, spark, d: reg["q_semdedup"].fn(
            spark, d, k_max=320, fit_sample_fraction=0.1
        ),
    },
}


def _decade_fn(registry, name: str, leg: str):
    """Resolve a decade entry to a runnable (spark, sf_dir) -> DataFrame
    for the given leg ('lo' at sf0.1, 'hi' at sf1eq)."""
    special = DECADE_RUNNERS.get(name)
    if special is not None:
        return lambda spark, d: special[leg](registry, spark, d)
    return lambda spark, d: registry[name].fn(spark, d)


def run_decade(registry) -> list[tuple]:
    """The sf0.1 -> sf1eq decade, in its OWN SparkSession run BEFORE the
    main audit so both legs are measured cold: the main audit leaves
    the shared persisted relations (pair_overlaps, normed_embeddings)
    warm at sf0.1, and a warm-sf0.1 / cold-sf1eq comparison would
    inflate every cache-building query's decade exponent past its
    bound. Symmetry discipline: tables noop-warmed on both legs; each
    audited PLAN warmed once at sf0.01 (JVM/codegen, negligible data);
    queries then run in a fixed order, sf0.1 leg immediately before
    sf1eq leg, so any persist a predecessor leaves behind exists on
    both legs equally."""
    import scripts.make_sf1 as make_sf1

    from bitcoinminingetl_spark.session import get_spark

    sf1_dir = str(make_sf1.ensure())
    spark = get_spark(app_name="scaling-decade")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, SF_DIRS[2][0], sf1_dir)
    for name, _bound, _why in DECADE_AUDIT:
        # warm BOTH leg configurations (a DECADE_RUNNERS hi leg can
        # carry its own plan — e.g. the scaled-k fit-sample variant)
        for leg in ("lo", "hi"):
            run_query(spark, name, _decade_fn(registry, name, leg), SF_DIRS[1][0])

    leg_dirs = {"lo": SF_DIRS[2][0], "hi": sf1_dir}
    cells = [
        (name, leg)
        for name, _bound, _why in DECADE_AUDIT
        for leg in ("lo", "hi")  # lo leg immediately before hi leg
    ]
    timings, decade_all_times = _min_over_passes(
        spark,
        cells,
        lambda cell: run_query(
            spark, cell[0], _decade_fn(registry, cell[0], cell[1]), leg_dirs[cell[1]]
        )[2],
    )
    decade_rows = []
    for name, bound, why in DECADE_AUDIT:
        times = {leg: timings[(name, leg)] for leg in ("lo", "hi")}
        alpha = math.log10(
            max(times["hi"], 1e-3) / max(times["lo"], 1e-3)
        )
        ok = alpha <= bound
        decade_rows.append(
            (name, times["lo"], times["hi"], alpha, bound, ok, why)
        )
        print(
            f"decade {name:26s} {times['lo']:6.2f} {times['hi']:8.2f} "
            f"alpha={alpha:5.2f} bound={bound} {'OK' if ok else 'FAIL'}",
            file=sys.stderr,
        )
    spark.stop()
    return decade_rows, decade_all_times


def main() -> int:
    from bitcoinminingetl_spark.registry import load_all
    from bitcoinminingetl_spark.session import get_spark

    registry = load_all()
    decade_rows, decade_all_times = run_decade(registry)
    failures = [
        (name + "@decade", alpha, bound)
        for name, _lo, _hi, alpha, bound, ok, _why in decade_rows
        if not ok
    ]

    spark = get_spark(app_name="scaling-check")
    spark.sparkContext.setLogLevel("ERROR")
    # warm page cache + JVM so timings measure plan cost
    warm(spark, *(sf_dir for sf_dir, _ in SF_DIRS))

    audit_cells = [
        (name, sf_dir)
        for name, _bound, _why in AUDIT
        for sf_dir, _sf in SF_DIRS  # per query, the 3 SFs consecutively
    ]
    audit_timings, audit_all_times = _min_over_passes(
        spark,
        audit_cells,
        lambda cell: run_query(spark, cell[0], registry[cell[0]].fn, cell[1])[2],
    )
    rows = []
    for name, bound, why in AUDIT:
        times = [audit_timings[(name, sf_dir)] for sf_dir, _sf in SF_DIRS]
        # exponent over the upper decade (0.01 -> 0.1)
        alpha = math.log10(max(times[2], 1e-3) / max(times[1], 1e-3))
        ok = alpha <= bound
        if not ok:
            failures.append((name, alpha, bound))
        rows.append((name, times, alpha, bound, ok, why))
        print(
            f"{name:28s} {times[0]:6.2f} {times[1]:6.2f} {times[2]:6.2f} "
            f"alpha={alpha:5.2f} bound={bound} {'OK' if ok else 'FAIL'}",
            file=sys.stderr,
        )

    md = [
        "# SCALING — measured growth exponents",
        "",
        "Generated by `scripts/scaling_check.py`: each audited query runs at",
        "sf0.001/sf0.01/sf0.1 (100× input growth) on warm caches, every",
        f"timing the per-cell MIN over {TIMING_REPS} full passes with the",
        "Spark cache cleared between passes (r12 — single-run host noise",
        "lands directly in a fitted exponent; pass-level reps keep the",
        "persisted-relation build inside every measurement); `alpha` is",
        "the fitted exponent of t ~ n^alpha over the upper decade",
        f"(sf0.01→sf0.1). Linear-plan queries must stay ≤{LINEAR_BAND}",
        "(retightened from 1.35 in r13 — two min-based rounds measured",
        "max alpha 0.77 with <=0.06 drift, so 1.1 keeps >0.33 headroom);",
        "the guarded quadratic ground-truth twins are",
        "audited against their DECLARED ~n² bound instead. This is the",
        "measured counterpart to PLANS.md's structural scale argument.",
        "",
        "`q_streaming_*` rows time the full LIFECYCLE (land + AvailableNow",
        "drain + sink read-back): a FIXED trigger/recovery floor dominates",
        "at these scales, so alpha well under 1 is the expected shape — the",
        "audit exists to catch a lifecycle growing FASTER than its landed",
        "volume (state leak, per-batch re-scan); bench.py reports their",
        "timings apart from plan cost (`lifecycle_queries`).",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha | bound | verdict | plan claim |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, times, alpha, bound, ok, why in rows:
        md.append(
            f"| {name} | {times[0]:.2f} | {times[1]:.2f} | {times[2]:.2f} "
            f"| {alpha:.2f} | {bound} | {'ok' if ok else 'FAIL'} | {why} |"
        )
    md += [
        "",
        "## Upper decade: sf0.1 → sf1-equivalent (10×)",
        "",
        "The noisy-alpha families' lower-decade exponents are fitted on",
        "0.8–3.5 s timings where fixed per-query cost pollutes the fit",
        "(r9 VERDICT item 2). This section re-fits them over a REAL extra",
        "decade against a deterministic 10× corpus",
        "(`scripts/make_sf1.py` — replica-disjoint vocabulary, orthogonal",
        "sign-flipped embeddings, replica-local labels: 10 fresh shards",
        "from the sf0.1 distribution, not 10 verbatim copies). The",
        "guarded-quadratic twins' query sample and corpus both grow 10×,",
        "so pairs grow ×100 and alpha≈2 is the DECLARED shape; the",
        "label-block twin's blocks grow in count, not size, so its",
        "alpha≈1 is direct evidence the blocking guard linearizes growth",
        "when block size stays bounded. Methodology: measured in a",
        "dedicated SparkSession BEFORE the main audit so shared persisted",
        "relations are equally cold on both legs; per-plan sf0.01 warmup",
        "for JVM/codegen; fixed query order with the sf0.1 leg",
        "immediately before the sf1eq leg.",
        "",
        "| query | sf0.1 s | sf1eq s | alpha | bound | verdict | decade claim |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, t_lo, t_hi, alpha, bound, ok, why in decade_rows:
        md.append(
            f"| {name} | {t_lo:.2f} | {t_hi:.2f} | {alpha:.2f} "
            f"| {bound} | {'ok' if ok else 'FAIL'} | {why} |"
        )
    # r12 ADVICE item 3: per-pass scatter on file, so the documented
    # plan to retighten the 1.35 linear band after a couple of
    # min-based rounds has its evidence committed per round. Relative
    # scatter (max-min)/min over cells timing >= 0.2 s; a future band
    # of 10^max_scatter-ish plus fit margin is the retightening target.
    md += ["", "## Per-pass scatter (band-retightening evidence)", ""]
    for phase, all_times in (
        ("3-SF audit", audit_all_times),
        ("sf0.1→sf1eq decade", decade_all_times),
    ):
        med, p90, mx, n = _scatter_stats(all_times)
        md.append(
            f"- {phase}: relative scatter (max−min)/min over {n} cells "
            f"≥0.2 s across {TIMING_REPS} passes — median {med:.2f}, "
            f"p90 {p90:.2f}, max {mx:.2f}"
        )
    md.append("")
    (REPO / "SCALING.md").write_text("\n".join(md))
    print(
        f"wrote {REPO / 'SCALING.md'} ({len(rows)} queries audited, "
        f"{len(decade_rows)} decade-audited)"
    )
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("RESULT: OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
