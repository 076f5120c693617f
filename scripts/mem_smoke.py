"""Constrained-heap skew-guard smoke (r9 VERDICT item 4).

The df_cap / bucket-cap / cluster-cap guards exist to bound MEMORY,
not time. This harness plants the corpora the caps were designed
against, then runs the guarded dedup/ANN family in a fresh subprocess
(the plain driver session, session.plain_session) pinned to a ~2 GiB
driver heap on local[4], each query counted through runner.run_query:

- hot-SHINGLE corpus: 20k documents that all share one boilerplate
  sentence (document frequency 20,000 — 400x the df_cap=50 stop-shingle
  threshold). The unguarded exact pair relation through that shingle is
  C(20k,2) ≈ 2·10^8 rows; the guarded paths must prune it pre-fan-out.
- hot-BUCKET embeddings: one giant label block (every vector label 0 —
  the degenerate clusterer) with a 1 000-vector near-identical hot
  cluster that lands in a single sign bucket per table, plus planted
  corrupt rows (zero / NaN / huge-component vectors) so the
  normed-load doctrine is exercised under the same heap.

Two arms, each its own subprocess (heap isolation — a dead arm cannot
poison the next):
- `guarded`: every scale-path query must COMPLETE under the small heap
  and return a sane (non-exploded) row count.
- `unguarded_contrast`: the unpruned exact twin (q_dedup_ngram_jaccard,
  df_cap=None semantics) on the same corpus, expected to DIE (OOM) or
  blow the timeout — the demonstration that the caps are what stands
  between the guarded paths and a 2·10^8-row fan-out, not corpus luck.

Writes MEMGUARD.json (a committed receipt).

Usage: python scripts/mem_smoke.py            (~2-4 min)
       python scripts/mem_smoke.py arm <name> (internal: one subprocess arm)
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

CORPUS = REPO / "scratch_memsmoke"
HEAP = "2g"
CPUS = 4
N_DOCS = 20_000
N_EMB_DIVERSE = 4_000
N_EMB_HOT = 1_000
N_PLANTED_PAIRS = 50
BOILERPLATE = "shared boilerplate sentence every document carries"
GUARDED = [
    "q_dedup_ngram_pruned",      # df_cap stop-shingle prune
    "q_dedup_minhash_lsh",       # banded LSH + bucket_cap
    "q_corpus_dedup_lsh",        # end-to-end pipeline on LSH candidates
    "q_dedup_simhash",           # chunk blocking
    "q_dedup_embed_cosine_lsh",  # sign-bit sub-buckets inside the block
    "q_semdedup",                # cluster-size cap
    "q_knn_join_lsh",            # narrow-id candidate relation
]
UNGUARDED = "q_dedup_ngram_jaccard"  # unpruned exact twin: must die here
ARM_TIMEOUT_S = 600
UNGUARDED_TIMEOUT_S = 300


def build_corpus() -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    CORPUS.mkdir(exist_ok=True)
    rng = np.random.default_rng(7)

    # documents: unique filler + the one hot shingle in every doc
    doc_ids, texts = [], []
    for i in range(N_DOCS):
        filler = " ".join(f"tok{i}_{j}" for j in range(8))
        texts.append(f"{filler} {BOILERPLATE} tail{i}")
        doc_ids.append(i)
    # 50 planted near-dup PAIRS with pair-unique vocabulary (shingle
    # document frequency 2 — well under df_cap): the guarded paths must
    # prune the hot shingle while still FINDING these, so the receipt
    # proves the caps drop the skew, not the signal
    for p in range(N_PLANTED_PAIRS):
        body = " ".join(f"pair{p}_{j}" for j in range(12))
        texts.append(f"{body} variant one")
        doc_ids.append(N_DOCS + 2 * p)
        texts.append(f"{body} variant two")
        doc_ids.append(N_DOCS + 2 * p + 1)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(
                    [f"src{i % 4}" for i in range(len(texts))], pa.string()
                ),
                "n_chars": pa.array(
                    [len(t) for t in texts], pa.int64()
                ),
            }
        ),
        CORPUS / "documents.parquet",
    )

    # embeddings: one giant label block; diverse base + hot near-identical
    # cluster + corrupt rows the normed load must exclude
    diverse = rng.standard_normal((N_EMB_DIVERSE, 64)).astype(np.float32)
    hot_base = rng.standard_normal(64).astype(np.float32)
    hot = hot_base + 0.001 * rng.standard_normal(
        (N_EMB_HOT, 64)
    ).astype(np.float32)
    vecs = [row for row in np.vstack([diverse, hot]).tolist()]
    ids = list(range(len(vecs)))
    # corrupt tail: zero vector, NaN component, huge component
    vecs += [[0.0] * 64, [float("nan")] + [1.0] * 63, [1e30] + [0.0] * 63]
    ids += [len(ids), len(ids) + 1, len(ids) + 2]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    vecs, pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        CORPUS / "embeddings.parquet",
    )


def run_arm(name: str) -> None:
    """One subprocess arm under the constrained heap. Prints one JSON
    line per query to stdout; the parent collects them."""
    from bitcoinminingetl_spark.registry import load_all
    from bitcoinminingetl_spark.runner import run_query
    from bitcoinminingetl_spark.session import plain_session

    spark = plain_session(f"mem-smoke-{name}", cpus=CPUS, driver_memory=HEAP)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    queries = GUARDED if name == "guarded" else [UNGUARDED]
    for q in queries:
        _, n, sec = run_query(spark, q, registry[q].fn, str(CORPUS), "count")
        print(json.dumps({"query": q, "rows": n, "sec": round(sec, 2)}), flush=True)
    spark.stop()


def main() -> int:
    from scripts.stamp import tree_stamp

    if len(sys.argv) > 2 and sys.argv[1] == "arm":
        run_arm(sys.argv[2])
        return 0

    print(f"building hostile corpus under {CORPUS} ...")
    build_corpus()

    results: dict[str, dict] = {}

    def spawn(arm: str, timeout: int) -> dict:
        t0 = time.perf_counter()
        try:
            proc = subprocess.run(
                [sys.executable, __file__, "arm", arm],
                cwd=REPO,
                capture_output=True,
                text=True,
                timeout=timeout,
            )
            status = "completed" if proc.returncode == 0 else "died"
            tail = proc.stderr[-1500:] if proc.returncode != 0 else ""
        except subprocess.TimeoutExpired as e:
            # keep the partial per-query rows the arm printed before the
            # hang — a timeout receipt that shows WHICH query hung (and
            # that the others completed) is a diagnostic; an empty one
            # is noise (r10 code-review finding)
            status, tail = "timeout", (e.stderr or b"")[-1500:]
            out = e.stdout or b""
            proc = subprocess.CompletedProcess(
                e.cmd,
                -1,
                stdout=out.decode(errors="replace")
                if isinstance(out, bytes)
                else out,
                stderr="",
            )
            if isinstance(tail, bytes):
                tail = tail.decode(errors="replace")
        rows = []
        for line in proc.stdout.splitlines():
            try:
                rows.append(json.loads(line))
            except ValueError:
                pass
        return {
            "status": status,
            "wall_sec": round(time.perf_counter() - t0, 1),
            "queries": rows,
            "stderr_tail": tail,
        }

    print(f"arm guarded: {len(GUARDED)} scale-path queries @ {HEAP} heap")
    results["guarded"] = spawn("guarded", ARM_TIMEOUT_S)
    print(json.dumps(results["guarded"], indent=1)[:2000])

    print(f"arm unguarded_contrast: {UNGUARDED} @ {HEAP} heap "
          f"(expected to die/timeout)")
    results["unguarded_contrast"] = spawn(
        "unguarded_contrast", UNGUARDED_TIMEOUT_S
    )
    print(
        f"unguarded arm: {results['unguarded_contrast']['status']} "
        f"after {results['unguarded_contrast']['wall_sec']}s"
    )

    guarded_rows = {
        r["query"]: r["rows"] for r in results["guarded"]["queries"]
    }
    guarded_ok = (
        results["guarded"]["status"] == "completed"
        and len(guarded_rows) == len(GUARDED)
        and guarded_rows.get("q_dedup_ngram_pruned", 0) >= N_PLANTED_PAIRS
    )
    contrast_died = results["unguarded_contrast"]["status"] in (
        "died",
        "timeout",
    )
    out = {
        "metric": "mem_guard_smoke",
        "heap": HEAP,
        "cpus": CPUS,
        "corpus": {
            "documents": N_DOCS,
            "hot_shingle_df": N_DOCS,
            "planted_pairs": N_PLANTED_PAIRS,
            "df_cap": 50,
            "embeddings": N_EMB_DIVERSE + N_EMB_HOT + 3,
            "hot_cluster": N_EMB_HOT,
            "labels": 1,
            "unguarded_pair_bound": N_DOCS * (N_DOCS - 1) // 2,
        },
        # the ONE shared stamp implementation: tree_commit and
        # tree_dirty, like every other receipt
        **tree_stamp(REPO),
        "arms": results,
        "verdict": {
            "guarded_completed_under_heap": guarded_ok,
            "unguarded_contrast_died": contrast_died,
        },
    }
    (REPO / "MEMGUARD.json").write_text(json.dumps(out, indent=1))
    print(f"wrote {REPO / 'MEMGUARD.json'}")
    # Exit status covers BOTH arms: a receipt where the unguarded
    # contrast arm unexpectedly completed is vacuous (proves nothing
    # about the guards) and must fail the run itself, not wait for the
    # committed-artifact hygiene test to notice.
    if guarded_ok and contrast_died:
        print("RESULT: OK")
        return 0
    if not guarded_ok:
        print("RESULT: GUARDED ARM FAILED UNDER CONSTRAINED HEAP")
    else:
        print("RESULT: VACUOUS — UNGUARDED CONTRAST ARM COMPLETED")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
