"""Unit tests of the n-gram near-dup kernel in operators/dedup.py: each
Spark stage must agree with its DuckDB twin on hostile inputs (NULL and
empty text, docs shorter than n, grams repeated inside one doc, double
spaces, an LSH bucket over the cap), and the containment query must
threshold the raw ratio, not the rounded report."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bitcoinminingetl_spark.operators import dedup

_LOOP = " ".join(["a", "b", "c"] * 10)  # every 3-gram and 13-gram repeats
DOCS = [
    (1, None),
    (2, ""),
    (3, "a b"),
    (4, _LOOP),
    (5, "one  two three four"),
    (6, " ".join(f"w{i}" for i in range(20))),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    yield con
    con.close()


@pytest.mark.parametrize("n", [3, 13])
def test_shingle_sql_matches_shingle_strings(docs, con, n):
    spark_rows = {(r.doc_id, r.s) for r in dedup._shingle_strings(docs, n).collect()}
    duck_rows = set(con.execute(dedup.shingle_sql(n)).fetchall())
    assert spark_rows == duck_rows
    assert 1 not in {d for d, _ in spark_rows}  # NULL text has no shingles
    assert (2, "") in spark_rows


@pytest.mark.parametrize("n", [3, 13])
def test_ngram_list_sql_matches_ngram_array(docs, con, n):
    """Positional gram lists, duplicates kept, under the consumers' NULL
    mask (q_repetition_score, q_quality_filter_gopher)."""
    grams = F.when(F.col("text").isNotNull(), dedup.ngram_array(F.split("text", " "), n))
    spark_rows = {
        r.doc_id: r.g for r in docs.select("doc_id", grams.alias("g")).collect()
    }
    duck_rows = dict(
        con.execute(
            f"SELECT doc_id, CASE WHEN text IS NULL THEN NULL"
            f" ELSE {dedup.ngram_list_sql(n)} END FROM documents"
        ).fetchall()
    )
    assert spark_rows == duck_rows
    assert len(spark_rows[4]) > len(set(spark_rows[4]))  # repeats kept


def test_lsh_bucket_cap_both_engines(spark):
    """A (band, sig) bucket one doc over _LSH_BUCKET_CAP is dropped by
    _candidate_pairs and by its DuckDB twin alike; the small bucket's 3
    pairs survive on both."""
    big = dedup._LSH_BUCKET_CAP + 1
    rows = [(i, 0, 7) for i in range(big)] + [(10_001 + i, 1, 9) for i in range(3)]
    expect = {(10_001, 10_002), (10_001, 10_003), (10_002, 10_003)}
    bands = spark.createDataFrame(rows, "doc_id long, band int, sig long")
    assert {(r.doc_a, r.doc_b) for r in dedup._candidate_pairs(bands).collect()} == expect
    con = duckdb.connect()
    con.execute("CREATE TABLE bands (doc_id BIGINT, band INTEGER, sig BIGINT)")
    con.executemany("INSERT INTO bands VALUES (?, ?, ?)", rows)
    duck = con.execute(
        f"WITH {dedup.capped_candidates_sql('bands')} SELECT doc_a, doc_b FROM cand"
    ).fetchall()
    con.close()
    assert set(duck) == expect and len(duck) == 3


def test_containment_thresholds_raw_ratio(spark, monkeypatch):
    """320003 / 400004 = 0.7999995 rounds to 0.8 but is below the 0.8
    threshold, so the pair is dropped (as the oracle's WHERE drops it);
    320004 / 400004 is above and reported rounded."""
    overlaps = spark.createDataFrame(
        [(1, 2, 320_003, 400_004, 500_000), (3, 4, 320_004, 400_004, 500_000)],
        "doc_a long, doc_b long, n_inter long, n_a long, n_b long",
    )
    monkeypatch.setattr(dedup, "pair_overlaps", lambda *a, **k: overlaps)
    rows = dedup.q_dedup_containment(spark, "unused").collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(3, 4)]
    assert float(rows[0].containment) == round(320_004 / 400_004, 6)
