"""Per-query A/B measurement + plan capture for optimization rounds.

Times a named subset of registry queries in ONE warm session (same
methodology as bench.py: noop sink through runner.run_query after
runner.warm) and optionally dumps each query's .explain("formatted") to
plans/<tag>/<query>_<suffix>.txt. One untimed pass of the targets runs
before the timed reps, so every persisted relation they read is built
before the first timed rep and family members measure warm plan cost.

Usage:
  python scripts/opt_measure.py --queries q_a,q_b --reps 3 \
      [--plans-dir plans/r13 --suffix before] [--sf-dir /root/testdata/sf0.1]

Prints one JSON line: {"queries": {name: min_sec}, "reps": N, "sf_dir": ...}
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bitcoinminingetl_spark.registry import load_all  # noqa: E402
from bitcoinminingetl_spark.runner import run_query, warm  # noqa: E402
from bitcoinminingetl_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()
    names = [n for n in args.queries.split(",") if n]

    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="opt-measure")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, args.sf_dir)

    # one untimed warmup pass of the targets themselves (JIT/codegen and
    # the persist-once relations they read)
    for n in names:
        try:
            run_query(spark, n, registry[n].fn, args.sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {n} failed: {exc}", file=sys.stderr)

    if args.plans_dir:
        plans_dir = REPO / args.plans_dir
        plans_dir.mkdir(parents=True, exist_ok=True)
        for n in names:
            df = registry[n].fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{n}_{args.suffix}.txt").write_text(buf.getvalue())

    reps = [
        {
            n: round(run_query(spark, n, registry[n].fn, args.sf_dir)[2], 3)
            for n in names
        }
        for _ in range(args.reps)
    ]

    out = {
        "queries": {n: min(r[n] for r in reps) for n in names},
        "per_rep": reps,
        "reps": args.reps,
        "sf_dir": args.sf_dir,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
