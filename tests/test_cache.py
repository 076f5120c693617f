"""Unit tests for functions/cache.py — the shared LRU persist-once policy
behind the corpus-artifact stack (shingle index, pair overlaps, normed
embeddings, bigram model, resample aggregate). The operator-level behavior
is covered by those families' own suites; this pins the cache mechanics
every family now inherits: build-once, hit-reuse, LRU (not clear-all)
eviction, and unpersist-on-evict."""

from __future__ import annotations

from bitcoinminingetl_spark.functions.cache import lru_persisted


def _is_persisted(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_build_once_and_hit_reuse(spark):
    cache: dict = {}
    builds = []

    def build(tag):
        def _b():
            builds.append(tag)
            return spark.range(5).toDF(tag)

        return _b

    a1 = lru_persisted(cache, "a", build("a"))
    a2 = lru_persisted(cache, "a", build("a"))
    assert a1 is a2, "hit must return the SAME persisted relation"
    assert builds == ["a"], "builder runs once per key"
    assert _is_persisted(a1)
    a1.unpersist()


def test_lru_evicts_oldest_not_most_recent(spark):
    cache: dict = {}
    # distinct row counts per key: Spark's cache manager matches by
    # CANONICALIZED plan (alias names normalized away), so range(3)
    # relations named differently would share ONE cache entry and
    # persisting a later key would resurrect an evicted one
    sizes = {"a": 1, "b": 2, "c": 3}

    def mk(key):
        return lru_persisted(
            cache, key, lambda: spark.range(sizes[key]).toDF(key), cap=2
        )

    a, b = mk("a"), mk("b")
    mk("a")  # refresh a's LRU position: b is now oldest
    c = mk("c")  # cap hit -> evicts b, NOT a (the clear-all bug this replaces)
    assert set(cache) == {"a", "c"}
    assert _is_persisted(a), "most-recently-used entry must survive eviction"
    assert not _is_persisted(b), "evicted entry must be unpersisted"
    for df in (a, c):
        df.unpersist()


def test_distinct_keys_distinct_relations(spark):
    cache: dict = {}
    a = lru_persisted(cache, "k1", lambda: spark.range(1).toDF("x"))
    b = lru_persisted(cache, "k2", lambda: spark.range(2).toDF("x"))
    assert a is not b
    assert a.count() == 1 and b.count() == 2
    for df in (a, b):
        df.unpersist()


def test_unpersist_all_clears_every_registered_cache(spark):
    """unpersist_all must drop every relation in every dict that ever
    passed through lru_persisted — perfbench/run.py relies on it between
    timing passes so later passes rebuild honestly instead of timing
    cache hits."""
    from bitcoinminingetl_spark.functions.cache import unpersist_all

    c1: dict = {}
    c2: dict = {}
    a = lru_persisted(c1, "a", lambda: spark.range(4).toDF("a"))
    b = lru_persisted(c2, "b", lambda: spark.range(6).toDF("b"))
    assert _is_persisted(a) and _is_persisted(b)
    unpersist_all()
    assert not c1 and not c2, "registered caches must be emptied"
    assert not _is_persisted(a) and not _is_persisted(b)
    # caches stay usable: next access rebuilds and re-persists
    a2 = lru_persisted(c1, "a", lambda: spark.range(4).toDF("a"))
    assert _is_persisted(a2) and a2.count() == 4
    a2.unpersist()
    c1.clear()


def test_r13_shared_relations_build_once_per_corpus(spark, sf_dir):
    """r13 shared-relation optimizations: the span-gram index, the
    surrogate bucket relation and the BM25 tf table must be
    persist-once per (session, corpus) — a second call returns the SAME
    persisted DataFrame (one build, every consumer reads executor
    storage), which is the entire optimization."""
    from bitcoinminingetl_spark.operators.corpus_ops import (
        span_dup_grams,
        span_grams,
    )
    from bitcoinminingetl_spark.operators.reference_pipeline import (
        surrogate_buckets,
    )
    from bitcoinminingetl_spark.operators.text import bm25_tf

    for fn in (
        span_grams,
        span_dup_grams,
        surrogate_buckets,
        bm25_tf,
    ):
        first = fn(spark, sf_dir)
        second = fn(spark, sf_dir)
        assert first is second, f"{fn.__name__} must serve the cache hit"
        assert _is_persisted(first), f"{fn.__name__} must be persisted"


def test_shingle_sets_is_persist_once_and_matches_inline_aggregate(
    spark, sf_dir
):
    """r13 shared shingle_sets relation: persist-once per (session,
    corpus), and bit-identical to the inline per-doc aggregate it
    replaced inside _verify_candidates (doc_id -> sorted shingle set +
    count) — the equivalence every LSH verify consumer now rests on."""
    from bitcoinminingetl_spark.operators.dedup import (
        _doc_shingle_sets,
        shingle_index,
        shingle_sets,
    )

    first = shingle_sets(spark, sf_dir)
    second = shingle_sets(spark, sf_dir)
    assert first is second, "shingle_sets must serve the cache hit"
    assert _is_persisted(first), "shingle_sets must be persisted"

    inline = _doc_shingle_sets(shingle_index(spark, sf_dir))
    got = {
        r.doc_id: (sorted(r.shingles), r.n_shingles) for r in first.collect()
    }
    want = {
        r.doc_id: (sorted(r.shingles), r.n_shingles) for r in inline.collect()
    }
    assert got == want
