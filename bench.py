"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}. $SPARK_GRAFT_CPUS defaults to the CPUs this process may run on.

Every query runs once, to completion, through ``runner.run_query`` with
the noop sink, so the full plan — scan, shuffle, join — actually runs and
its Spark jobs carry the query name. No DataFrame is cached between
queries. Before the pass, ``runner.warm`` reads each fixture table once
(OS page cache / parquet footers) and spins up the JVM, MLlib and Arrow,
and the SHARED_INFRA persist-once relations are built and timed once, so
per-query numbers measure steady-state plan cost rather than which query
happened to touch a table or a relation first.

The full per-query map goes to BENCH_FULL.json; the full-registry DuckDB
oracle mirror at $SPARK_GRAFT_ORACLE_SF_DIR (default sf0.01) goes to
ORACLE_LOCAL.json. A single pass is noisy on a shared host; the gated,
repeated benchmark is perfbench/run.py.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from bitcoinminingetl_spark.operators import corpus_ops as _corpus
from bitcoinminingetl_spark.operators import dedup as _dedup
from bitcoinminingetl_spark.operators import reference_pipeline as _refpipe
from bitcoinminingetl_spark.operators import scans as _scans
from bitcoinminingetl_spark.operators import text as _text
from bitcoinminingetl_spark.registry import load_all
from bitcoinminingetl_spark.runner import run_query, warm
from bitcoinminingetl_spark.session import default_parallelism, get_spark
from scripts.stamp import tree_stamp

# Headline set: the flagship reference query plus the most
# shuffle/join/agg-heavy operators — the ones whose plans matter at 100 TB.
HEADLINE = (
    "q_window_join",
    "q_filter_between",
    "q_avg_grouped",
    "q_join_inner",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_dedup_exact",
    "q_text_stats",
    "q_cosine_topk",
    # LLM-pipeline flagships (the north-star surface)
    "q_corpus_dedup_lsh",
    "q_curation_funnel",
    "q_knn_join_lsh",
    "q_hybrid_rrf",
)


def _self_materialized(build):
    """For a builder that materializes its relation itself: run it, then
    hand the noop sink an empty frame so nothing is read back."""
    return lambda s, d: (build(s, d), s.range(0))[1]


# Shared-infra attribution (r5 VERDICT item 3): the dedup family's
# persisted shingle index and pair-overlap relations build once per
# (session, corpus) and are shared by ~8 consumers — without this step
# the ALPHABETICAL family head (q_dedup_clusters in r5) pays the whole
# build and its bench number reads as plan cost (4.4 s reported vs
# 1.05 s warm). Each persist-once relation below is built and timed
# explicitly before the query pass; the times land in BENCH_FULL.json
# under "shared_infra" and in the grand total, and every family member's
# per-query number is then warm plan cost. At 100 TB these are the
# corpus-snapshot index tables a production pipeline writes once and
# serves to every query. Each build is (spark, sf_dir) -> DataFrame,
# run through the noop sink so the relation fully materializes.
SHARED_INFRA = (
    ("shingle_index", _dedup.shingle_index),
    ("normed_embeddings", _dedup.normed_embeddings),
    # the decontamination family (q_curation_funnel, q_decontaminate)
    # shares a SECOND index at n=13
    (
        "shingle_index_13gram",
        lambda s, d: _dedup.shingle_index(s, d, n=_corpus._DECON_N),
    ),
    ("pair_overlaps_uncapped", _dedup.pair_overlaps),
    # per-doc shingle-set relation shared by the three LSH verify
    # consumers (r13: _verify_candidates aggregated the shingle index
    # into sets twice per query)
    ("shingle_sets", _dedup.shingle_sets),
    # positional word-5-gram span index + its multi-doc gram set, shared
    # by the span family (r13: q_dup_span_stats and q_dedup_span_removal
    # each re-ran the scan + posexplode + hash and its groupBy(gram_h)
    # aggregate inline)
    ("span_grams", _corpus.span_grams),
    ("span_dup_grams", _corpus.span_dup_grams),
    # bucketed orders relation for the distributed surrogate-key plan
    # (r13: referenced twice per query by two registry entries — the
    # sketch subtree previously built 4x inline)
    ("surrogate_buckets", _refpipe.surrogate_buckets),
    (
        "pair_overlaps_df_cap",
        lambda s, d: _dedup.pair_overlaps(s, d, df_cap=_dedup._DF_CAP),
    ),
    # symmetric near-dup edge relation + node count for the PageRank
    # family (builds on pair_overlaps, so its cost here is the
    # incremental edge/degree materialization only)
    ("pagerank_graph", _self_materialized(_corpus.pagerank_graph)),
    # the LSH-edge twin persists its own graph: single consumer, but the
    # 5 internal iterations would otherwise re-run MinHash banding — the
    # build is one-time cost, not plan cost
    (
        "pagerank_graph_lsh",
        _self_materialized(
            lambda s, d: _corpus.pagerank_graph(s, d, variant="lsh")
        ),
    ),
    # write-once date-partitioned events layout (the pruning query's
    # fixture — a production table's layout, not a query)
    (
        "partitioned_events_layout",
        _self_materialized(_scans._partitioned_events),
    ),
    # per-doc LM score table shared by the CCNet bucket pair (bigram
    # probe join runs once for the family, not per query)
    ("ccnet_scored", _text.ccnet_scored),
    # per-doc BM25 term-frequency table shared by the retrieval family
    # (r13: _bm25_scored referenced it twice per query across three
    # queries — six interpreted tf passes per pass)
    ("bm25_tf", _text.bm25_tf),
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    names = [n for n in HEADLINE if n in registry]
    # widen with everything else that's registered, so the bench tracks
    # coverage growth round over round
    names += [n for n in sorted(registry) if n not in names]

    spark = get_spark(app_name="bitcoinminingetl-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # estimate sf from lineitem row count (sf1 ~ 6M rows)
    from bitcoinminingetl_spark.catalog import table

    lineitem_rows = table(spark, sf_dir, "lineitem").count()
    sf = round(lineitem_rows / 6_000_000, 4)

    # Untimed warm-up: without it whichever query FIRST touches a table
    # pays its OS-page-cache + parquet-footer cost (r4 saw q_rollup at
    # 6.1 s cold vs 0.7 s warm purely from scan-order luck), and JVM/JIT
    # spin-up lands on the first query of each kind.
    warm(spark, sf_dir)

    # Shared-infra attribution (r5 VERDICT item 3): see SHARED_INFRA.
    shared_infra: dict[str, float] = {}
    try:
        for label, build in SHARED_INFRA:
            _, _, sec = run_query(spark, label, build, sf_dir)
            shared_infra[label] = round(sec, 3)
    except Exception as exc:  # noqa: BLE001 — consumers rebuild lazily
        print(f"bench: shared-infra prebuild failed: {exc}", file=sys.stderr)

    # One pass: every plan executes end to end through the noop sink, so
    # the full plan runs JVM-side and nothing crosses into Python.
    timings: dict[str, float] = {}
    for name in names:
        try:
            _, _, sec = run_query(spark, name, registry[name].fn, sf_dir)
            timings[name] = round(sec, 3)
        except Exception as exc:  # noqa: BLE001 — bench must survive one bad query
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0

    total = round(
        sum(t for t in timings.values() if t >= 0)
        + sum(shared_infra.values()),
        3,
    )
    # Lifecycle population (r4 VERDICT item 3): the q_streaming_* queries
    # time a full streaming LIFECYCLE — land files, start the stream, run
    # micro-batches, restart, drain — so their wall time is trigger/drain/
    # restart latency, not plan cost. Reported under their own key so a
    # plan regression in the other queries can't hide inside (or be
    # blamed on) streaming jitter. Headline total on stdout is unchanged.
    lifecycle = {
        n: t for n, t in timings.items() if n.startswith("q_streaming_")
    }
    plan_timings = {n: t for n, t in timings.items() if n not in lifecycle}
    # Full per-query timing map goes to a file on disk; the stdout line is
    # kept compact (headline queries only) because the driver captures only
    # the tail of stdout — r1's one-line dump of 105 timings overflowed it
    # and left the bench artifact unparseable.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": plan_timings,
        "lifecycle_queries": lifecycle,
        # one-time per-corpus index builds, attributed to the family
        # rather than whichever query alphabetically runs first
        "shared_infra": shared_infra,
        "shared_infra_total": round(sum(shared_infra.values()), 3),
        "plan_cost_total": round(
            sum(t for t in plan_timings.values() if t >= 0), 3
        ),
        "lifecycle_total": round(
            sum(t for t in lifecycle.values() if t >= 0), 3
        ),
        "sf": sf,
        "cpus": default_parallelism(),  # the session's actual local[N]
        # False until the mirror phase below completes; rewritten to True
        # on success so a swallowed mirror failure (or a hard kill mid-
        # mirror) stays visible — ORACLE_LOCAL.json would be stale from a
        # previous tree in exactly that case.
        "oracle_mirror_ok": False,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        **tree_stamp(Path(_REPO)),
    }
    (Path(_REPO) / "BENCH_FULL.json").write_text(json.dumps(full, indent=1))

    # Full-registry oracle mirror: every registered query gets a DuckDB
    # differential pass/fail at the correctness SF, in ORACLE_LOCAL.json.
    try:
        from bitcoinminingetl_spark.oracle_check import run_oracle_check

        oracle_sf_dir = os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        )
        summary = run_oracle_check(spark, oracle_sf_dir)
        summary.update(tree_stamp(Path(_REPO)))
        (Path(_REPO) / "ORACLE_LOCAL.json").write_text(
            json.dumps(summary, indent=1)
        )
        print(
            f"oracle mirror: {summary['n_match']} match / "
            f"{summary['n_rows_only']} rows-only / "
            f"{summary['n_mismatch']} mismatch / "
            f"{summary['n_spark_error'] + summary['n_oracle_error']} error"
            f" -> ORACLE_LOCAL.json",
            file=sys.stderr,
        )
        full["oracle_mirror_ok"] = True
        (Path(_REPO) / "BENCH_FULL.json").write_text(
            json.dumps(full, indent=1)
        )
    except Exception as exc:  # noqa: BLE001 — the bench line must still print
        print(f"bench: oracle mirror failed: {exc}", file=sys.stderr)

    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "full_timings": "BENCH_FULL.json",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
