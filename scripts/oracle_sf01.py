"""Second-scale-factor oracle sweep (r12 VERDICT item 2).

All 200+ ORACLE_LOCAL value hashes are pinned at sf0.01 only, and
several query thresholds are explicitly tuned so the sf0.01 check is
non-vacuous (q_dedup_embed_cosine's 0.35 demo threshold, the LSH demo
configs). A predicate that DEGENERATES at 10x the data — a threshold no
row crosses, a bucket scheme that collapses to one bucket, an overflow
that only a bigger aggregate reaches — would pass the sf0.01 gate
silently. This script runs the SAME full-registry differential check
(oracle_check.run_oracle_check: column names, row counts, value hashes
against DuckDB) at sf0.1 and writes ORACLE_SF01.json, stamped with
tree_commit/tree_dirty like ORACLE_LOCAL and wired into the snapshot
contract + a hygiene gate.

Non-vacuity is part of the receipt: the summary records how many
oracle-hashed queries matched on ZERO rows at sf0.1 — a query whose
result empties at scale still "matches", so the count is asserted not
to GROW relative to sf0.01 (a newly-empty result at 10x is exactly the
degeneration this sweep exists to catch).

Runs in the engine's own session factory (not the plain driver-sim
session): the subject under test here is query/oracle SEMANTICS at
scale, not config assumptions — driver_sim keeps that duty at sf0.01.

Usage: python scripts/oracle_sf01.py  (~minutes; exits 1 on any
mismatch/error)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF01_DIR = "/root/testdata/sf0.1"


def main() -> int:
    from bitcoinminingetl_spark.oracle_check import run_oracle_check
    from bitcoinminingetl_spark.session import get_spark
    from scripts.stamp import tree_stamp

    spark = get_spark(app_name="oracle-sf01")
    spark.sparkContext.setLogLevel("ERROR")

    def report(name: str, rec: dict) -> None:
        print(f"  {name}: {rec['status']}", flush=True)
        if rec["status"] not in ("match", "rows_only"):
            print(f"    {json.dumps(rec)[:600]}", flush=True)

    summary = run_oracle_check(spark, SF01_DIR, on_result=report)
    spark.stop()

    # zero-row matches at sf0.1 vs sf0.01 — the degeneration indicator
    zero_rows_sf01 = sorted(
        name
        for name, rec in summary["queries"].items()
        if rec["status"] == "match" and rec["spark_rows"] == 0
    )
    try:
        local = json.loads((REPO / "ORACLE_LOCAL.json").read_text())
        zero_rows_sf001 = sorted(
            name
            for name, rec in local["queries"].items()
            if rec.get("status") == "match" and rec.get("spark_rows") == 0
        )
    except (OSError, ValueError):
        zero_rows_sf001 = []
    newly_empty = sorted(set(zero_rows_sf01) - set(zero_rows_sf001))
    summary["zero_row_matches"] = zero_rows_sf01
    summary["newly_empty_vs_sf001"] = newly_empty
    summary["ok"] = summary["ok"] and not newly_empty
    summary.update(tree_stamp())
    (REPO / "ORACLE_SF01.json").write_text(
        json.dumps(summary, indent=1) + "\n"
    )
    print(
        f"ORACLE_SF01: {summary['n_match']} match,"
        f" {summary['n_mismatch']} mismatch,"
        f" {summary['n_rows_only']} rows-only,"
        f" {summary['n_spark_error']} spark-err,"
        f" {summary['n_oracle_error']} oracle-err,"
        f" newly-empty {newly_empty}"
    )
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
