"""The XXH64 port (functions/xxhash64.py) against Spark's own xxhash64.

Table-driven: every form below is evaluated by Spark, by the port's
Python functions and by the DuckDB functions ``register`` installs, over
strings whose UTF-8 lengths cross each branch of XXH64 (the 1-, 4- and
8-byte tails and the 32-byte stripe loop at 31/32/33 bytes)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from bitcoinminingetl_spark.functions import xxhash64 as X

_TEXT = "the quick brown fox jumps over the lazy dog, 0123456789 ABCDEFGHIJKLMNOPQRSTUVWXYZ"
STRINGS = [_TEXT[:n] for n in (0, 1, 3, 4, 7, 8, 13, 31, 32, 33, 54, 80)] + [
    "naïve café — 日本語のテキスト"
]
_NEG = -(2**40) - 3

# form -> (Spark column over `s`, port over the string list, DuckDB SQL over `s`)
FORMS = {
    "string": (
        lambda s: F.xxhash64(s),
        lambda v: X.hash_strings(v),
        "spark_xxhash64_string(s, 42)",
    ),
    "long_then_int": (
        lambda s: F.xxhash64(F.xxhash64(s), F.lit(7)),
        lambda v: X.hash_int(7, X.hash_long(X.hash_strings(v))),
        "spark_xxhash64_int(7, spark_xxhash64_long(spark_xxhash64_string(s, 42), 42))",
    ),
    "string_then_int": (
        lambda s: F.xxhash64(s, F.lit(3)),
        lambda v: X.hash_int(3, X.hash_strings(v)),
        "spark_xxhash64_int(3, spark_xxhash64_string(s, 42))",
    ),
    "four_longs": (
        lambda s: F.xxhash64(
            F.xxhash64(s),
            F.lit(_NEG),
            F.length(s).cast("long"),
            F.xxhash64(s, F.lit(3)),
        ),
        lambda v: X.hash_long(
            X.hash_int(3, X.hash_strings(v)),
            X.hash_long(
                [len(s) for s in v],
                X.hash_long(_NEG, X.hash_long(X.hash_strings(v))),
            ),
        ),
        "spark_xxhash64_long(spark_xxhash64_int(3, spark_xxhash64_string(s, 42)),"
        " spark_xxhash64_long(CAST(length(s) AS BIGINT),"
        f" spark_xxhash64_long({_NEG}, spark_xxhash64_long("
        "spark_xxhash64_string(s, 42), 42))))",
    ),
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    X.register(c)
    c.execute("CREATE TABLE strs (i INTEGER, s VARCHAR)")
    c.executemany("INSERT INTO strs VALUES (?, ?)", list(enumerate(STRINGS)))
    yield c
    c.close()


def test_strings_cross_every_length_branch():
    lengths = [len(s.encode()) for s in STRINGS]
    assert lengths[:12] == [0, 1, 3, 4, 7, 8, 13, 31, 32, 33, 54, 80]
    assert lengths[12] > len(STRINGS[12])  # multi-byte UTF-8


@pytest.mark.parametrize("form", sorted(FORMS))
def test_port_matches_spark(spark, con, form):
    spark_col, port, sql = FORMS[form]
    df = spark.createDataFrame(list(enumerate(STRINGS)), "i int, s string")
    want = [r.h for r in df.orderBy("i").select(spark_col(F.col("s")).alias("h")).collect()]
    assert [int(h) for h in port(STRINGS)] == want
    got = [r[0] for r in con.execute(f"SELECT {sql} FROM strs ORDER BY i").fetchall()]
    assert got == want


def test_null_argument_keeps_the_seed(spark, con):
    """Spark skips a NULL argument: the hash so far passes through."""
    row = spark.sql(
        "SELECT xxhash64(CAST(NULL AS STRING)) AS a,"
        " xxhash64(CAST(NULL AS STRING), 3) AS b"
    ).first()
    got = con.execute(
        "SELECT spark_xxhash64_string(NULL, 42),"
        " spark_xxhash64_int(3, spark_xxhash64_string(NULL, 42))"
    ).fetchone()
    assert (row.a, row.b) == got == (42, int(X.hash_int(3)[0]))
