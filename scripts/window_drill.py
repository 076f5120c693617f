"""Shifted-window oracle rotation drill (r8 VERDICT stretch 7; widened
to the FULL registry r10 per r9 VERDICT item 3).

The external driver hash-checks only the ~50 alphabetically-first
registry queries each round; it has therefore hashed the same window
for nine rounds. ORACLE_LOCAL.json and scripts/driver_sim.py already
prove the full registry green, but this drill produces the committed
receipt in the driver's own shape — a PLAIN SparkSession (driver
conditions, not our session factory), one fresh session per window,
the same per-query record schema as CORRECTNESS_r{N}.json — for every
window the driver could ever rotate into.

Usage:
  python scripts/window_drill.py --all            # every 50-query
      window across the registry, fresh session per window, combined
      WINDOW_DRILL.json (the round receipt)
  python scripts/window_drill.py [start] [n]      # one ad-hoc window
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"
DRIVER_WINDOW = 50


def _run_window(window: list[str]) -> dict[str, dict]:
    """One driver-shaped pass: fresh plain SparkSession + fresh DuckDB
    connection, torn down after — the same cold-start conditions the
    driver gives each round's correctness run."""
    from bitcoinminingetl_spark.oracle_check import run_oracle_check
    from bitcoinminingetl_spark.session import plain_session

    spark = plain_session("window-drill")
    spark.sparkContext.setLogLevel("ERROR")
    summary = run_oracle_check(
        spark,
        SF_DIR,
        on_result=lambda name, rec: print(f"{name}: {rec['status']}", flush=True),
        names=window,
    )
    spark.stop()
    return summary["queries"]


def _counts(results: dict[str, dict]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for rec in results.values():
        counts[rec["status"]] = counts.get(rec["status"], 0) + 1
    return counts


def _emit(out: dict, results: dict[str, dict]) -> int:
    from scripts.stamp import tree_stamp

    counts = _counts(results)
    out["counts"] = counts
    out.update(tree_stamp(REPO))
    out["queries"] = results
    (REPO / "WINDOW_DRILL.json").write_text(json.dumps(out, indent=1))
    bad = (
        counts.get("mismatch", 0)
        + counts.get("spark_error", 0)
        + counts.get("oracle_error", 0)
    )
    print(", ".join(f"{k}={v}" for k, v in sorted(counts.items())))
    print("RESULT:", "OK" if bad == 0 else f"{bad} FAILURES")
    return 0 if bad == 0 else 1


def main() -> int:
    from bitcoinminingetl_spark.registry import load_all

    registry = load_all()
    names = sorted(registry)

    if len(sys.argv) > 1 and sys.argv[1] == "--all":
        windows = [
            names[i : i + DRIVER_WINDOW]
            for i in range(0, len(names), DRIVER_WINDOW)
        ]
        results: dict[str, dict] = {}
        meta = []
        for i, window in enumerate(windows):
            print(
                f"--- window {i + 1}/{len(windows)} "
                f"[{window[0]} .. {window[-1]}] ---",
                flush=True,
            )
            wres = _run_window(window)
            results.update(wres)
            meta.append(
                {
                    "window_start": window[0],
                    "window_end": window[-1],
                    "n": len(window),
                    "counts": _counts(wres),
                }
            )
        out = {
            "metric": "window_drill",
            "mode": "all_windows",
            "sf_dir": SF_DIR,
            "n": len(results),
            "windows": meta,
        }
        return _emit(out, results)

    start = sys.argv[1] if len(sys.argv) > 1 else names[DRIVER_WINDOW]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else DRIVER_WINDOW
    window = [q for q in names if q >= start][:n]
    if not window:
        print(f"no queries at or after {start!r}")
        return 1
    results = _run_window(window)
    out = {
        "metric": "window_drill",
        "mode": "single_window",
        "sf_dir": SF_DIR,
        "window_start": window[0],
        "window_end": window[-1],
        "n": len(window),
    }
    return _emit(out, results)


if __name__ == "__main__":
    raise SystemExit(main())
