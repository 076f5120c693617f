"""Mutation checks on the planted-test gates (r7 VERDICT stretch 7).

The driver hash-checks only an alphabetical window of queries; outside
it, correctness rests on planted/property tests. A planted test only
protects anything if it actually goes RED when the operator under it
breaks — a gate that stays green under a broken threshold is worse than
no gate (it certifies nothing while looking like coverage). Each check
here applies a deliberate, realistic regression (flip a threshold the
query reads at call time), asserts the named planted test FAILS, then
restores the constant and asserts the test passes again — mutation
testing the gates themselves, run on every pytest rather than as a
one-off.

Mechanics: the query functions read their module-level thresholds at
CALL time (plan construction), so monkeypatching the module global and
re-invoking the registered query is exactly the regression a bad edit
would produce. Only the Spark side is mutated — the DuckDB oracle
strings were baked at import — which is fine: every gate mutated here
is a planted/property test that never consults the oracle.
"""

from __future__ import annotations

import pytest

import bitcoinminingetl_spark.operators.dedup as dedup_mod
import bitcoinminingetl_spark.operators.text as text_mod

# underscore aliases so pytest does not re-collect the imported planted
# tests as members of THIS module (they already run in test_llm_ops)
from tests.test_llm_ops import (
    test_embed_cosine_lsh_subset_on_sf_fixture as _gate_embed_lsh_subset,
)
from tests.test_llm_ops import (
    test_k_anonymity_planted as _gate_k_anonymity,
)
from tests.test_llm_ops import (
    test_minhash_candidates_subset_of_exact as _gate_minhash_subset,
)


def _mutated(module, name, value):
    """Context manager: set module.name = value, restore on exit."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        orig = getattr(module, name)
        setattr(module, name, value)
        try:
            yield
        finally:
            setattr(module, name, orig)

    return cm()


def _broken_bucket_udf(planes, bits):
    """A sign-bucket kernel that hashes the raw vector bytes: bucketing
    stops grouping SIMILAR vectors and only groups identical ones."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def buckets(emb):
        return pd.Series([[hash(tuple(v)) % (1 << 62)] for v in emb.tolist()])

    return buckets


def test_k_anonymity_gate_goes_red_on_threshold_flip(spark, tmp_path):
    """Flip _K_ANON to 1: with the strict < comparison nothing can
    violate, so the planted release's 2 violating classes read 0 and
    the gate must fail. Restored, it must pass."""
    red = tmp_path / "red"
    red.mkdir()
    with _mutated(text_mod, "_K_ANON", 1):
        with pytest.raises(AssertionError):
            _gate_k_anonymity(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    _gate_k_anonymity(spark, green)


def test_embed_lsh_gate_goes_red_on_threshold_flip(spark, sf_dir):
    """Raise the registered demo threshold past the corpus ceiling
    (~0.51): the registered LSH query goes back to the 0-row vacuity
    r7 VERDICT item 1 flagged, and the non-vacuity gate must fail."""
    with _mutated(dedup_mod, "_COSINE_THRESHOLD", 0.99):
        with pytest.raises(AssertionError):
            _gate_embed_lsh_subset(spark, sf_dir)
    _gate_embed_lsh_subset(spark, sf_dir)


def test_minhash_gate_goes_red_on_threshold_flip(spark, sf_dir):
    """Push the Jaccard verification threshold above 1.0: even the
    planted byte-identical duplicates (jaccard exactly 1.0) fail
    verification, the LSH pair set empties, and the planted-dup gate
    must fail."""
    with _mutated(dedup_mod, "_JACCARD_THRESHOLD", 1.01):
        with pytest.raises(AssertionError):
            _gate_minhash_subset(spark, sf_dir)
    _gate_minhash_subset(spark, sf_dir)


# --- r9 widening (r8 VERDICT item 5): one mutation-tested gate per
# remaining rows-only family — span-removal (corpus rewrite), ANN
# recall floor, ccnet-approx tolerance, sketch set-algebra, streaming
# interval-join null emission. Same flip-assert-restore pattern.


def test_span_removal_gate_goes_red_on_width_flip(spark, tmp_path):
    """Widen the span n-gram from 5 to 6: the planted 5-word shared run
    no longer forms a full shared gram, nothing is removed, and the
    edge-doc gate's n_removed=5 expectation must fail."""
    import bitcoinminingetl_spark.operators.corpus_ops as corpus_mod
    from tests.test_llm_ops import test_dedup_span_removal_edge_docs as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(corpus_mod, "_SPAN_N", 6):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


def test_ann_ivf_gate_goes_red_on_nprobe_flip(spark, sf_dir):
    """Drop the probe count to 0: no query probes any cell, the IVF
    candidate set empties, and the recall-floor gate's non-empty +
    recall >= 0.5 assertions must fail."""
    import bitcoinminingetl_spark.operators.similarity as sim_mod
    from tests.test_llm_ops import (
        test_ann_ivf_scores_exact_and_recall_floor as gate,
    )

    with _mutated(sim_mod, "_N_PROBE", 0):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_ccnet_gate_goes_red_on_bucket_collapse(spark, sf_dir):
    """Collapse the exact twin's tercile CASE to a constant 'head':
    every doc lands in one bucket, the approx twin still emits three,
    and the tolerance gate's bucket-by-bucket comparison must fail."""
    from tests.test_llm_ops import test_ccnet_buckets_exact_and_approx as gate

    with _mutated(text_mod, "_CCNET_BUCKET", "'head'"):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_theta_gate_goes_red_on_stream_flip(spark, tmp_path):
    """Point the B-side sketch at the wrong event type: the planted
    80-purchaser cardinality reads 10 and the exact-equality gate must
    fail."""
    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import test_theta_set_ops_planted as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(agg_mod, "_THETA_B", "click"):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


def test_interval_join_null_emission_gate_goes_red_on_watermark_flip(
    spark, sf_dir, tmp_path
):
    """Stall the watermark (delay 1000 hours): the engine can never
    prove an attribution window closed, so the left-outer join emits no
    null-view rows, and the gate's 'unmatched clicks emitted' assertion
    must fail. Matched pairs still flow — only the watermark-proven
    emission dies, which is exactly the regression class this gate
    exists to catch."""
    import bitcoinminingetl_spark.streaming.pipeline as pipe_mod
    from tests.test_streaming import (
        land_event_json,
        test_stream_stream_left_outer_join_emits_unmatched as gate,
    )

    red = tmp_path / "red"
    (red / "landed").mkdir(parents=True)
    landed_red = land_event_json(spark, sf_dir, red / "landed")
    with _mutated(pipe_mod, "_JOIN_WATERMARK", "1000 hours"):
        with pytest.raises(AssertionError):
            gate(spark, landed_red, red)
    green = tmp_path / "green"
    (green / "landed").mkdir(parents=True)
    landed_green = land_event_json(spark, sf_dir, green / "landed")
    gate(spark, landed_green, green)


# --- r10 widening (r9 VERDICT item 5): the next five rows-only
# families get mutation-tested gates — SimHash planted-dup, blocked
# k-NN recall, BRP-MLlib recall, PCA shape/variance-order, resize
# fixed-size, HLL merge coverage. Same flip-assert-restore pattern;
# where no threshold exists, the mutation swaps the module-level
# KERNEL the query resolves at call time (a realistic broken-edit).


def test_simhash_gate_goes_red_on_hamming_flip(spark, sf_dir):
    """Drop the Hamming radius below 0: even byte-identical duplicates
    (hamming exactly 0) fail the verify filter, the pair set empties,
    and the planted-dup gate must fail."""
    from tests.test_llm_ops import (
        test_simhash_finds_planted_duplicates as gate,
    )

    with _mutated(dedup_mod, "_HAMMING_MAX", -1):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_knn_join_lsh_gate_goes_red_on_bucket_kernel_break(
    spark, sf_dir, tmp_path
):
    """Swap the sign-bucket kernel for one that hashes the raw vector
    bytes (the realistic regression: bucketing stops grouping SIMILAR
    vectors and only groups identical ones). Planted cluster mates
    differ by noise, so candidates vanish and the planted-cluster
    recall gate must fail. Restored, it must pass."""
    import bitcoinminingetl_spark.operators.similarity as sim_mod
    from tests.test_llm_ops import (
        test_knn_join_lsh_planted_clusters_and_recall as gate,
    )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(sim_mod, "sign_bucket_udf", _broken_bucket_udf):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_ann_brp_gate_goes_red_on_radius_flip(spark, sf_dir):
    """Shrink the BRP join radius to 0: approxSimilarityJoin returns no
    pairs (self-pairs are excluded), and the recall gate's non-empty
    assertion must fail."""
    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import test_ann_brp_mllib_recall_vs_exact as gate

    with _mutated(mllib_mod, "_BRP_RADIUS", 0.0):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_embed_pca_gate_goes_red_on_k_flip(spark, sf_dir, tmp_path):
    """Drop the PCA target dimension to 4: the invariants gate's
    16-component shape assertion must fail (the regression class:
    a silent output-width change downstream consumers size buffers
    by). Restored, it must pass."""
    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import test_embed_pca_invariants as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(mllib_mod, "_PCA_K", 4):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_multimodal_resize_gate_goes_red_on_kernel_break(spark, sf_dir):
    """Wrap the resize kernel to truncate every thumb by one byte (the
    realistic regression: an off-by-one in the sampling index math).
    The fixed-size law — every thumb exactly W*H bytes — must fail.
    Restored, it must pass."""
    import bitcoinminingetl_spark.operators.multimodal as mm_mod
    from tests.test_llm_ops import (
        test_multimodal_resize_fixed_size_and_deterministic as gate,
    )

    orig = mm_mod._resize_batches

    def truncating(batches):
        for pdf in orig(batches):
            pdf = pdf.copy()
            pdf["thumb"] = pdf["thumb"].map(lambda b: bytes(b)[:-1])
            yield pdf

    with _mutated(mm_mod, "_resize_batches", truncating):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_hll_merge_gate_goes_red_on_mask_flip(spark, tmp_path):
    """Flip the increment mask to the naive `~in_base` (NULL for NULL
    ts, so NULL-ts users silently leave BOTH sketch legs): the planted
    NULL-ts group's merged sketch goes NULL, merge_rel_gap reads NULL,
    and the planted gate's not-None assertion must fail."""
    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import test_hll_union_merge_planted as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(agg_mod, "_hll_inc_mask", lambda in_base: ~in_base):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


# --- r10 widening, second batch: semdedup cluster collapse, KLL audit
# masking, bitext-LSH margin, corpus-LSH near-dup prune, and the
# multimodal header codec — 20 mutation-tested gates total.


def test_semdedup_gate_goes_red_on_threshold_flip(spark, sf_dir, tmp_path):
    """Push the semantic-dup cosine past 1: no within-cluster pair can
    clear it, the three planted clusters stop collapsing, and the
    planted gate's dropped-count assertion must fail."""
    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import (
        test_semdedup_drops_planted_semantic_dups as gate,
    )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(mllib_mod, "_SEMDEDUP_COS", 1.01):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_kll_gate_goes_red_on_biased_mask(spark, tmp_path):
    """Bias the finite-value mask to silently drop values >= 500 (the
    realistic regression: an over-eager corrupt-row filter changing the
    audited population). Both sketch and exact twin shift together, so
    only an EXTERNAL expectation catches it — the planted gate's
    p50_exact == 499.5 pin must fail."""
    import pyspark.sql.functions as SF

    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import test_kll_quantile_merge_planted as gate

    orig = agg_mod._finite

    def biased(col):
        return SF.when(col < 500, orig(col))

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(agg_mod, "_finite", biased):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


def test_bitext_lsh_gate_goes_red_on_margin_flip(spark, sf_dir):
    """Raise the keep margin past any real neighborhood ratio: the
    miner emits nothing and the real-fixture contract gate's non-empty
    assertion must fail."""
    import bitcoinminingetl_spark.operators.similarity as sim_mod
    from tests.test_llm_ops import test_bitext_mine_lsh_real_fixture as gate

    with _mutated(sim_mod, "_BT_MARGIN", 5.0):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_corpus_dedup_lsh_gate_goes_red_on_threshold_flip(
    spark, sf_dir, tmp_path
):
    """Push the near-dup verify threshold above 1.0: the planted
    near-dup survives the corpus pipeline's prune stage and the
    composition gate's 'doc 3 dropped' assertion must fail (the
    byte-dup stage is md5-exact and unaffected — only the LSH+verify
    stage dies, which is the regression class this gate pins)."""
    from tests.test_llm_ops import test_corpus_dedup_lsh_composition as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(dedup_mod, "_JACCARD_THRESHOLD", 1.01):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_multimodal_header_gate_goes_red_on_codec_break(spark):
    """Break the decode kernel with a one-pixel width bias on PNGs (the
    realistic codec regression: an off-by-one in a header offset). The
    mutation wraps the KERNEL the query ships to executors —
    monkeypatching the inner `_decode_image` would only change the
    driver's copy, since Python workers re-import the module — and the
    real-header fixture gate's exact-dimension assertion must fail;
    restored, it must pass."""
    import bitcoinminingetl_spark.operators.multimodal as mm_mod
    from tests.test_llm_ops import test_multimodal_decodes_real_headers as gate

    orig = mm_mod._decode_batches

    def biased_kernel(batches):
        for pdf in orig(batches):
            pdf = pdf.copy()
            png = pdf["format"] == "png"
            pdf.loc[png, "width"] = pdf.loc[png, "width"] + 1
            yield pdf

    with _mutated(mm_mod, "_decode_batches", biased_kernel):
        with pytest.raises(AssertionError):
            gate(spark)
    gate(spark)


def test_eval_split_gate_goes_red_on_boundary_flip(spark, sf_dir):
    """Shrink the train boundary to 'aa': most docs (md5 prefixes
    uniform over 00..ff) leave the train split, and the golden
    hashlib-derived assignments — the EXTERNAL pin the oracle can't
    provide, since it bakes the same constants — must fail. Restored,
    they must pass."""
    import bitcoinminingetl_spark.operators.corpus_ops as corpus_mod
    from tests.test_llm_ops import test_eval_split_golden_assignments as gate

    with _mutated(corpus_mod, "_SPLIT_TRAIN_LT", "aa"):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


# --- r11 widening (r10 VERDICT item 1): every remaining ungated
# rows-only family gets a red/green-proven gate — 36 total. Same
# flip-assert-restore pattern; where no threshold exists, the mutation
# swaps the module-level KERNEL the query resolves at call time.


def test_approx_distinct_gate_goes_red_on_column_flip(spark, sf_dir):
    """Point the HLL sketch at the wrong column (l_linestatus: 2 distinct
    values vs hundreds of parts — the _THETA_B wrong-input regression
    class; the max legal rsd of 0.39 lands INSIDE the 5% tolerance on
    this fixture, so a coarseness flip alone can't prove the gate). The
    5%-of-exact planted test must fail."""
    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import test_approx_distinct_close_to_exact as gate

    with _mutated(agg_mod, "_HLL_COL", "l_linestatus"):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_approx_percentiles_gate_goes_red_on_accuracy_flip(spark, sf_dir):
    """Coarsen the GK sketch to accuracy=1: rank error is unbounded, the
    reported quantiles collapse toward a single order statistic, and the
    1%-relative planted tolerance test must fail."""
    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import (
        test_approx_percentiles_within_tolerance as gate,
    )

    with _mutated(agg_mod, "_APCT_ACCURACY", 1):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_equiheight_approx_gate_goes_red_on_accuracy_flip(spark, sf_dir):
    """Coarsen the boundary sketch to accuracy=1: all nine boundaries
    collapse to the same order statistic, only buckets {1, 10} survive,
    and the vs-ntile gate's bucket-set equality must fail."""
    import bitcoinminingetl_spark.operators.aggregates as agg_mod
    from tests.test_llm_ops import test_equiheight_approx_matches_ntile as gate

    with _mutated(agg_mod, "_EQH_ACCURACY", 1):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_length_buckets_approx_gate_goes_red_on_accuracy_flip(spark, sf_dir):
    """Coarsen the length-boundary sketch to accuracy=1: buckets merge,
    padding waste jumps to ~1.6x the ntile answer (measured), and the
    25%-of-exact padded-tokens tolerance must fail."""
    import bitcoinminingetl_spark.operators.corpus_ops as corpus_mod
    from tests.test_llm_ops import (
        test_length_buckets_approx_tolerance_vs_ntile as gate,
    )

    with _mutated(corpus_mod, "_LB_ACCURACY", 1):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_ann_lsh_gate_goes_red_on_bucket_kernel_break(spark, sf_dir):
    """Swap the sign-bucket kernel for a hash of the raw vector bytes
    (the same regression class as the knn-LSH gate: bucketing stops
    grouping SIMILAR vectors and only groups identical ones). No query
    shares a bucket with any distinct vector, the neighbor set empties,
    and the subset-of-exact gate's non-empty assertion must fail."""
    import bitcoinminingetl_spark.operators.similarity as sim_mod
    from tests.test_llm_ops import test_ann_lsh_is_subset_of_exact_ranking as gate

    with _mutated(sim_mod, "sign_bucket_udf", _broken_bucket_udf):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_ann_ivf_kmeans_gate_goes_red_on_nprobe_flip(spark, sf_dir):
    """Drop the probe count to 0 (the off-by-one that empties the probe
    rank filter): no cells are searched, the neighbor set empties, and
    the recall-floor gate's non-empty assertion must fail."""
    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import (
        test_ann_ivf_kmeans_scores_exact_and_recall_floor as gate,
    )

    with _mutated(mllib_mod, "_IVF_KM_NPROBE", 0):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_minhash_mllib_gate_goes_red_on_verify_drift(spark, sf_dir):
    """Perturb the verification stage's reported Jaccard by +0.001 (the
    re-scoring drift regression: candidates still come from the model
    signatures, but the verified values no longer match the exact
    definition). Every returned pair violates the gate's 1e-9 value
    agreement with the exact n-gram twin, and it must fail."""
    import pyspark.sql.functions as SF

    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import test_minhash_mllib_matches_exact_pairs as gate

    orig = mllib_mod._verify_candidates

    def drifted(sh, candidates, sets=None):
        return orig(sh, candidates, sets=sets).withColumn(
            "jaccard", SF.col("jaccard") + SF.lit(0.001)
        )

    with _mutated(mllib_mod, "_verify_candidates", drifted):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_pagerank_lsh_gate_goes_red_on_teleport_flip(spark, sf_dir):
    """Break the teleport/damping complement (teleport 0.30 with damping
    0.85 — exactly the 1-d float-drift class the module comment warns
    about): per-iteration mass inflates by the excess, the 5-iteration
    total lands at ~1.556, and the mass-conservation gate must fail."""
    import bitcoinminingetl_spark.operators.corpus_ops as corpus_mod
    from tests.test_llm_ops import test_pagerank_lsh_subset_and_mass as gate

    with _mutated(corpus_mod, "_PR_TELEPORT", 0.30):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_hard_negatives_lsh_gate_goes_red_on_label_filter_drop(
    spark, tmp_path
):
    """Drop the label-inequality predicate at re-rank (the refactor that
    loses the one filter making these negatives NEGATIVES): the planted
    same-label near-twin (doc 51, cosine ~0.999 to its anchor) enters
    the top-k and the planted-test's same-label-reject assertion must
    fail. Restored, it must pass."""
    import pyspark.sql.functions as SF

    import bitcoinminingetl_spark.operators.similarity as sim_mod
    from tests.test_llm_ops import test_hard_negatives_planted as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(
        sim_mod, "_hn_label_keep", lambda q_label, n_label: SF.lit(True)
    ):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


def test_skew_metrics_gate_goes_red_on_partition_collapse(
    spark, sf_dir, tmp_path
):
    """Collapse the instrument's layout to one partition: every row lands
    together, skew_ratio reads exactly 1.0 on ANY distribution, and the
    planted-hot-key gate's ratio > 4 assertion must fail — the
    regression class where the diagnostic goes blind rather than wrong."""
    import bitcoinminingetl_spark.operators.scans as scans_mod
    from tests.test_llm_ops import (
        test_skew_metrics_detects_planted_hot_key as gate,
    )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(scans_mod, "_SKEW_NPART", 1):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_zlib_gate_goes_red_on_keep_band_flip(spark, sf_dir, tmp_path):
    """Open the keep band's low edge to 0.0: repetitive spam (ratio
    ~0.03) is kept, and the planted gate's spam-rejected assertion must
    fail — the threshold regression that silently lets machine-generated
    repetition into the corpus."""
    import bitcoinminingetl_spark.operators.text as t_mod
    from tests.test_llm_ops import test_zlib_quality_planted as gate

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(t_mod, "_ZLIB_KEEP_LO", 0.0):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)


def test_multimodal_embed_gate_goes_red_on_bin_shift(spark, sf_dir):
    """Roll the feature vector by one position (the bin-index off-by-one
    regression). The rolled features stay 16-dim, L1-normalized and
    deterministic — only the crafted-payload histogram pin (bins 0/15
    get 3/4, 1/4) catches it, and it must fail."""
    import bitcoinminingetl_spark.operators.multimodal as mm_mod
    from tests.test_llm_ops import (
        test_multimodal_embed_deterministic_and_normalized as gate,
    )

    orig = mm_mod._feature_batches

    def rolled(batches):
        for pdf in orig(batches):
            pdf = pdf.copy()
            pdf["feature"] = pdf["feature"].map(
                lambda v: list(v[1:]) + [v[0]] if len(v) else v
            )
            yield pdf

    with _mutated(mm_mod, "_feature_batches", rolled):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_streaming_window_avg_gate_goes_red_on_window_flip(
    spark, sf_dir, tmp_path
):
    """Widen the tumbling window to 10 minutes while the batch twin keeps
    its independent 5-minute literal: window starts and averages both
    shift, and the match-batch differential must fail."""
    import bitcoinminingetl_spark.streaming.pipeline as pipe_mod
    from tests.test_streaming import (
        land_event_json,
        test_windowed_averages_match_batch as gate,
    )

    red = tmp_path / "red"
    (red / "landed").mkdir(parents=True)
    landed_red = land_event_json(spark, sf_dir, red / "landed")
    with _mutated(pipe_mod, "_TUMBLE_WINDOW", "10 minutes"):
        with pytest.raises(AssertionError):
            gate(spark, landed_red, red)
    green = tmp_path / "green"
    (green / "landed").mkdir(parents=True)
    landed_green = land_event_json(spark, sf_dir, green / "landed")
    gate(spark, landed_green, green)


def test_streaming_sessionize_gate_goes_red_on_gap_flip(spark, sf_dir):
    """Shrink the inactivity gap to 1 minute: emitted sessions can now be
    as short as 60 s, and the laws gate's session-length law (every
    session >= the 30-minute gap, since end = last event + gap) must
    fail — the one emitted-row law that pins the gap constant itself."""
    import bitcoinminingetl_spark.streaming.pipeline as pipe_mod
    from tests.test_streaming import test_streaming_sessionize_laws as gate

    with _mutated(pipe_mod, "_SESSION_GAP", "1 minute"):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_streaming_interval_join_gate_goes_red_on_tolerance_flip(
    spark, sf_dir, tmp_path
):
    """Shrink the attribution tolerance to 1 minute while the batch twin
    keeps its independent ±5-minute literal: pairs between 1 and 5
    minutes apart vanish from the stream side, and the match-batch
    differential must fail."""
    import bitcoinminingetl_spark.streaming.pipeline as pipe_mod
    from tests.test_streaming import (
        land_event_json,
        test_stream_stream_interval_join_matches_batch as gate,
    )

    red = tmp_path / "red"
    (red / "landed").mkdir(parents=True)
    landed_red = land_event_json(spark, sf_dir, red / "landed")
    with _mutated(pipe_mod, "_JOIN_TOLERANCE", "1 minute"):
        with pytest.raises(AssertionError):
            gate(spark, landed_red, red)
    green = tmp_path / "green"
    (green / "landed").mkdir(parents=True)
    landed_green = land_event_json(spark, sf_dir, green / "landed")
    gate(spark, landed_green, green)


def test_incremental_dedup_gate_goes_red_on_threshold_flip(spark, tmp_path):
    """Push the near-dup verify threshold above 1.0: the streamed
    near-dup of corpus doc 1 survives run 1's LSH+verify stage, the
    cross-restart gate's run-1 accept-set assertion must fail (the
    md5-exact stage is unaffected — only the LSH ingest gate dies,
    which is the regression class this gate pins)."""
    from tests.test_streaming import (
        test_incremental_dedup_drops_cross_batch_near_dup_across_restart as gate,
    )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(dedup_mod, "_JACCARD_THRESHOLD", 1.01):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


# --- r11 completion: the last three ungated rows-only families —
# cluster keywords, the multimodal decode pipeline, and the compaction
# planner's inventory — so EVERY rows-only query is red/green-proven.


def test_cluster_keywords_gate_goes_red_on_min_count_flip(spark, tmp_path):
    """Raise the keyword min-count past any fixture frequency: no token
    qualifies, the per-cluster keyword sets empty, and the planted
    disjoint-vocabulary gate's non-empty assertion must fail."""
    import bitcoinminingetl_spark.operators.mllib_ops as mllib_mod
    from tests.test_llm_ops import (
        test_cluster_keywords_separate_planted_vocabularies as gate,
    )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(mllib_mod, "_CKW_MIN_COUNT", 10**9):
        with pytest.raises(AssertionError):
            gate(spark, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, green)


def test_multimodal_pipeline_gate_goes_red_on_magic_byte_break(
    spark, sf_dir
):
    """Wrap the decode kernel to misdetect every payload as a JPEG with
    fabricated dimensions (the magic-byte regression class): the
    honesty law — text stand-ins decode to 'unknown' with NULL dims —
    must fail. Restored, it must pass."""
    import bitcoinminingetl_spark.operators.multimodal as mm_mod
    from tests.test_llm_ops import (
        test_multimodal_pipeline_deterministic as gate,
    )

    orig = mm_mod._decode_batches

    def misdetecting(batches):
        for pdf in orig(batches):
            pdf = pdf.copy()
            pdf["format"] = "jpeg"
            pdf["width"] = 640
            pdf["height"] = 480
            yield pdf

    with _mutated(mm_mod, "_decode_batches", misdetecting):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir)
    gate(spark, sf_dir)


def test_compaction_gate_goes_red_on_inventory_miss(spark, sf_dir, tmp_path):
    """Drop the first file of every partition from the shared binning
    relation (the inventory-miss regression class — exactly the
    zero-row-file hole r7 closed): the planner and executor stay
    CONSISTENT with each other but both miss a physical file, the
    executed layout carries one more file per partition than the plan
    predicts, and the plan-vs-execution equality gate must fail.
    Restored, it must pass."""
    import pyspark.sql.functions as SF
    from pyspark.sql.window import Window as W

    import bitcoinminingetl_spark.operators.scans as scans_mod
    from tests.test_sources import (
        test_compaction_plan_execution_matches_predicted_bins as gate,
    )

    orig = scans_mod.compaction_file_bins

    def missing_one(spark_, sf_dir_, target):
        w = W.partitionBy("ds").orderBy("file")
        return (
            orig(spark_, sf_dir_, target)
            .withColumn("_rn", SF.row_number().over(w))
            .filter(SF.col("_rn") > 1)
            .drop("_rn")
        )

    red = tmp_path / "red"
    red.mkdir()
    with _mutated(scans_mod, "compaction_file_bins", missing_one):
        with pytest.raises(AssertionError):
            gate(spark, sf_dir, red)
    green = tmp_path / "green"
    green.mkdir()
    gate(spark, sf_dir, green)
