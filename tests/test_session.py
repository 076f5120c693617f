"""session.get_spark: the JVM-wide cache of compiled generated classes
holds a repeated workload's working set, so a warm pass compiles
nothing. With Spark's default 100 entries the benchmark's 10-query mix
(about 180 classes) evicts the next class it needs on every pass."""

from __future__ import annotations

from bitcoinminingetl_spark.registry import load_all
from bitcoinminingetl_spark.runner import run_query

# the benchmark's query_mix workload
QUERY_MIX = (
    "q_window_join", "q_window_fallback", "q_filter_between", "q_null_routing",
    "q_ohlc_bars",
    "q_dedup_ngram_jaccard", "q_dedup_clusters", "q_corpus_dedup",
    "q_cosine_topk", "q_bm25_rank",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, registry, sf_dir) -> None:
    for name in QUERY_MIX:
        run_query(spark, name, registry[name].fn, sf_dir)


def test_warm_pass_of_the_query_mix_compiles_no_class(spark, sf_dir):
    registry = load_all()
    _run_pass(spark, registry, sf_dir)
    before = _compiles(spark)
    _run_pass(spark, registry, sf_dir)
    assert _compiles(spark) - before == 0
