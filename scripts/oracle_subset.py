"""Ad-hoc differential check of a named query subset at one SF — the
per-change oracle re-proof loop optimization rounds run before moving
on (full sweeps stay with driver_sim / oracle_sf01).

Usage: python scripts/oracle_subset.py q_a,q_b [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from bitcoinminingetl_spark.oracle_check import run_oracle_check
    from bitcoinminingetl_spark.registry import load_all
    from bitcoinminingetl_spark.session import get_spark

    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="oracle-subset")
    spark.sparkContext.setLogLevel("ERROR")

    def report(name: str, rec: dict) -> None:
        print(f"{name}: {rec['status']} ({rec.get('spark_rows')} rows)")
        if rec["status"] not in ("match", "rows_only"):
            print("  ", {k: rec.get(k) for k in ("spark_only", "oracle_only", "err")})

    summary = run_oracle_check(spark, sf_dir, on_result=report, names=names)
    spark.stop()
    bad = summary["n_mismatch"] + summary["n_spark_error"] + summary["n_oracle_error"]
    print("RESULT:", "OK" if bad == 0 else f"{bad} FAILURES")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
