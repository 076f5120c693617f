"""Driver simulation: what the external harness does to this repo.

Builds a plain SparkSession (default configs — deliberately NOT our
session factory), smoke-runs ``entry``, then runs every registered
query at sf0.01 and diffs it against its DuckDB oracle (column names,
row count, order-insensitive canonicalized values).

The oracles run on ``oracle_check.duck_connect``, which registers the
XXH64 port, so the four xxhash64 dedup queries get MATCH here. The
driver itself never checks them: ``__spark_entry__.oracle_sql``
withholds oracles that call the port, because the driver's DuckDB does
not have it (tests/test_entry.py binds the export on a plain DuckDB).

Exit code 0 iff everything matches. Used by .claude/skills/verify.
"""

from __future__ import annotations

import importlib
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    from bitcoinminingetl_spark.oracle_check import run_oracle_check
    from bitcoinminingetl_spark.session import plain_session

    spark = plain_session("driver-sim")
    spark.sparkContext.setLogLevel("ERROR")
    mod = importlib.import_module("__spark_entry__")

    df = mod.entry(spark)
    rows = df.collect()
    print(f"ENTRY rows: {len(rows)} schema: {df.schema.simpleString()}")
    entry_ok = len(rows) > 0

    def report(name: str, rec: dict) -> None:
        status = rec["status"]
        if status == "rows_only":
            print(f"{name}: rows-only, {rec['spark_rows']} rows")
        elif status == "match":
            print(f"{name}: MATCH ({rec['spark_rows']} rows)")
        elif status == "mismatch":
            print(f"{name}: MISMATCH ({rec['spark_rows']} rows)")
            print("  cols", rec["spark_cols"], "vs", rec["oracle_cols"])
            print("  spark-only", rec["spark_only"])
            print("  oracle-only", rec["oracle_only"])
        else:
            print(f"{name}: {status.upper()} {rec.get('err')}")

    summary = run_oracle_check(spark, SF_DIR, on_result=report)
    spark.stop()
    failures = (
        (0 if entry_ok else 1)
        + summary["n_mismatch"]
        + summary["n_spark_error"]
        + summary["n_oracle_error"]
    )
    print("RESULT:", "OK" if failures == 0 else f"{failures} FAILURES")
    return 0 if failures == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
