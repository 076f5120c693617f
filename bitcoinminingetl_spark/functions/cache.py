"""Session-scoped persist-once cache for shared relations.

Several operator families share one expensive subplan per corpus — the
dedup family's shingle index, the cosine family's normed embeddings, the
resample family's bucket aggregate. Each family persists it once per
(session, corpus) and serves every consumer from executor storage: the
engine-side analogue of the snapshot/index tables a production pipeline
materializes once per corpus version and shares across queries at 100 TB.

One doctrine, one implementation (this module), three call sites —
previously each family hand-rolled the dict + eviction logic and two of
the three evicted the WHOLE cache (including the most recently used
entry) when full.

Contract:
- Keys must include ``spark.sparkContext.applicationId`` so a stopped
  session's dead relations are never served to a new one.
- ASSUMES IMMUTABLE INPUTS for the key's lifetime: rewriting the parquet
  under a cached path within one Spark application serves the stale
  relation. Fixture suites that rewrite in place must use a fresh path
  (pytest ``tmp_path`` does) or bypass the cache.
- Bounded LRU: beyond ``cap`` entries the least-recently-used one is
  unpersisted and dropped (dict preserves insertion order; hits
  re-insert at the tail), so fixture churn can't accumulate executor
  storage.
- Distinct keys must map to distinct CANONICALIZED plans: Spark's cache
  manager matches by canonical plan (alias names and exprIds normalized
  away), so two keys whose relations canonicalize identically would
  share one storage entry — evicting one would drop the other's blocks,
  and re-persisting would resurrect them. All current keys differ by
  source path or plan constants (n-gram length, df_cap), which
  canonicalize distinctly; tests/test_cache.py pins the mechanics.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

# Every dict ever passed to lru_persisted, by identity — lets a timing
# harness (perfbench/run.py) drop ALL persist-once relations between
# passes, so each pass rebuilds honestly, without hardcoding the
# per-module cache list anywhere.
_ALL_CACHES: list[dict] = []


def unpersist_all() -> None:
    """Unpersist and forget every relation in every registered cache.
    Used by timing harnesses between passes; consumers lazily rebuild."""
    for cache in _ALL_CACHES:
        for key in list(cache):
            try:
                cache.pop(key).unpersist()
            except Exception:  # noqa: BLE001 — owned by a stopped session
                pass


def lru_persisted(
    cache: dict[str, DataFrame],
    key: str,
    build: Callable[[], DataFrame],
    cap: int = 4,
) -> DataFrame:
    """Return the persisted relation for ``key``, building + persisting
    it on first use and refreshing its LRU position on every hit."""
    if not any(c is cache for c in _ALL_CACHES):
        _ALL_CACHES.append(cache)
    df = cache.pop(key, None)
    if df is None:
        if len(cache) >= cap:
            oldest = next(iter(cache))
            try:
                cache.pop(oldest).unpersist()
            except Exception:  # noqa: BLE001 — owned by a stopped session
                pass
        df = build().persist()
    cache[key] = df
    return df
