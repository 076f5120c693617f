"""Smoke tests for the driver contract in __spark_entry__.py."""

from __future__ import annotations

import importlib


def _entry_mod():
    return importlib.import_module("__spark_entry__")


def test_entry_runs(spark):
    mod = _entry_mod()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["window_start", "avg_click", "avg_view"]


def test_queries_and_oracles_consistent():
    mod = _entry_mod()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) > 0
    assert set(oracles) <= set(qs)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


# the xxhash64 queries: their oracles call the XXH64 port
# (functions/xxhash64.py), which only oracle_check.duck_connect registers
ENGINE_HASH = {
    "q_corpus_dedup_lsh",
    "q_dedup_minhash_lsh",
    "q_dedup_pagerank_lsh",
    "q_dedup_simhash",
}


def test_exported_oracles_bind_on_a_plain_duckdb(sf_dir):
    """The external driver runs oracle_sql() on its own DuckDB connection:
    the ten table views and no Python functions. Every exported oracle
    must bind there, and the oracles that call the port must stay in
    the registry but out of the export."""
    import duckdb

    from bitcoinminingetl_spark.catalog import TABLES
    from bitcoinminingetl_spark.registry import load_all

    oracles = _entry_mod().oracle_sql()
    registry = load_all()
    assert all(registry[n].oracle for n in ENGINE_HASH)
    assert not ENGINE_HASH & set(oracles)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        unbound = {}
        for name, sql in oracles.items():
            try:
                con.execute(f"EXPLAIN {sql}")
            except duckdb.Error as exc:
                unbound[name] = str(exc)[:200]
    finally:
        con.close()
    assert not unbound, unbound
