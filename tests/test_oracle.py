"""In-repo mirror of the driver's differential correctness gate: run every
registered query on Spark and its DuckDB oracle on the same parquet, then
compare row count, column names, and order-insensitive values with
oracle_check.compare, the one compare contract."""

from __future__ import annotations

import pytest

from bitcoinminingetl_spark.oracle_check import (
    compare,
    fetch_oracle,
    shared_oracle_memo,
)
from bitcoinminingetl_spark.registry import load_all

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)

# Parity twins share one oracle string (e.g. the recursive-CTE transitive
# closure behind both CC queries); run each SHARED oracle once per session
# instead of once per twin (r5 VERDICT stretch 8). Same policy as
# oracle_check.shared_oracle_memo — only duplicated strings are retained.
_ORACLE_MEMO = shared_oracle_memo(REGISTRY)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    o_cols, o_rows = fetch_oracle(duck, spec.oracle, _ORACLE_MEMO)
    rec = compare(sdf.columns, sdf.collect(), o_cols, o_rows)
    assert rec["status"] == "match", f"{name}: {rec}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    assert sdf.count() >= 0
    assert len(sdf.schema.fields) > 0


def test_comparator_catches_induced_wrongness(spark, sf_dir):
    """Meta-test of the differential gate itself: a deliberately wrong
    query must come back `mismatch`, never `match` — guarding against a
    vacuous comparator (e.g. a canonicalization bug that collapses all
    rows equal, or column sorting that hides a value swap). Three
    perturbation classes: a value off by one cent, a dropped row, and a
    renamed column."""
    from dataclasses import replace

    from bitcoinminingetl_spark.oracle_check import check_one, duck_connect

    spec = REGISTRY["q_avg_grouped"]
    con = duck_connect(sf_dir)
    assert check_one(spark, con, spec, sf_dir)["status"] == "match"

    def perturbed(fn):
        return replace(spec, fn=fn)

    from pyspark.sql import functions as SF

    off_by_cent = perturbed(
        lambda s, d: spec.fn(s, d).withColumn(
            "avg_qty", SF.col("avg_qty") + 0.01
        )
    )
    assert check_one(spark, con, off_by_cent, sf_dir)["status"] == "mismatch"

    dropped_row = perturbed(lambda s, d: spec.fn(s, d).limit(3))
    assert check_one(spark, con, dropped_row, sf_dir)["status"] == "mismatch"

    renamed = perturbed(
        lambda s, d: spec.fn(s, d).withColumnRenamed("avg_qty", "avg_q2")
    )
    assert check_one(spark, con, renamed, sf_dir)["status"] == "mismatch"
