"""Unit tests of functions/vectors.py, the embedding family's shared
vector math: the sign-bucket kernel must agree with its DuckDB twin on
hostile inputs, and the Spark cosine with the DuckDB rounded-cosine
SQL."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from bitcoinminingetl_spark.functions.vectors import (
    COSINE_SQL,
    Q_SCALE,
    bucket_rows_sql,
    cosine,
    norm,
    sign_bucket_udf,
)
from bitcoinminingetl_spark.operators.dedup import _EMB_LSH_BITS, _EMB_LSH_PLANES
from bitcoinminingetl_spark.operators.similarity import (
    _ANN_BITS,
    _ANN_PLANES,
    _KNN_BITS,
    _KNN_PLANES,
)

# (planes, bits) of the three md5 plane families
MD5_FAMILIES = [
    (_ANN_PLANES, _ANN_BITS),
    (_KNN_PLANES, _KNN_BITS),
    (_EMB_LSH_PLANES, _EMB_LSH_BITS),
]


def _spark_buckets(spark, vectors, udf) -> dict[int, list[int]]:
    df = spark.createDataFrame(
        list(enumerate(vectors)), "id long, embedding array<double>"
    )
    rows = df.select("id", udf(F.col("embedding")).alias("b")).collect()
    return {r.id: list(r.b) for r in rows}


def _zero_dot_vector(plane: list[int]) -> list[float]:
    """A non-zero vector whose quantized dot with `plane` is exactly 0:
    v_i = w_j, v_j = -w_i on two dims with non-zero weights. Integer
    components make floor(v * 1e6) exact."""
    i, j = [d for d, w in enumerate(plane) if w != 0][:2]
    v = [0.0] * len(plane)
    v[i], v[j] = float(plane[j]), float(-plane[i])
    return v


def test_md5_bucket_kernel_matches_duckdb_on_hostile_vectors(spark):
    rng = np.random.default_rng(5)
    for planes, bits in MD5_FAMILIES:
        tables = len(planes) // bits
        normal = [rng.standard_normal(64).tolist() for _ in range(20)]
        hostile, finite = [], []
        for bad in (
            float("nan"),
            float("inf"),
            float("-inf"),
            float(2**63) / Q_SCALE,  # scaled value reaches the int64 edge
            1e13,
            -1e13,
            1e11,  # quantizes inside int64, but its plane dots would not
            -1e11,
        ):
            v = rng.standard_normal(64).tolist()
            finite.append(list(v))
            finite[-1][3] = 0.0
            v[3] = bad
            hostile.append(v)
        zero_dot = _zero_dot_vector(planes[0])
        vectors = normal + hostile + finite + [zero_dot, [0.0] * 64]

        # the zero-dot case really is exercised: exact int dot of 0
        q = np.floor(np.array(zero_dot) * Q_SCALE).astype(np.int64)
        assert int(q @ np.array(planes[0], dtype=np.int64)) == 0
        assert q.any()

        got = _spark_buckets(spark, vectors, sign_bucket_udf(planes, bits))

        con = duckdb.connect()
        con.execute("CREATE TABLE vecs (id BIGINT, embedding DOUBLE[])")
        con.executemany(
            "INSERT INTO vecs VALUES (?, ?)", list(enumerate(vectors))
        )
        want = {
            i: list(b)
            for i, b in con.execute(
                "SELECT id, list(bkt ORDER BY tbl) FROM ("
                f"{bucket_rows_sql(planes, bits, 'vecs', 'id')}) GROUP BY id"
            ).fetchall()
        }
        con.close()

        assert got == want
        assert len(got) == len(vectors)
        # the zero dot sets bit 0 of table 0; the zero vector sets every bit
        assert got[len(vectors) - 2][0] & 1 == 1
        assert got[len(vectors) - 1] == [2**bits - 1] * tables
        # masked components (NaN, inf, past the edge) quantize to 0: each
        # hostile vector buckets like its finite part alone
        for k in range(len(hostile)):
            assert got[len(normal) + k] == got[len(normal) + len(hostile) + k]


def test_cosine_matches_duckdb_cosine_sql(spark):
    rng = np.random.default_rng(3)
    pairs = [
        (rng.standard_normal(64).tolist(), rng.standard_normal(64).tolist())
        for _ in range(20)
    ]
    pairs.append((pairs[0][0], pairs[0][0]))  # identical vectors: cosine 1
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id long, a array<double>, b array<double>",
    )
    scored = df.withColumn("na", norm(F.col("a"))).withColumn(
        "nb", norm(F.col("b"))
    )
    got = {
        r.id: r.cosine
        for r in scored.select(
            "id", cosine("a", "b", "na", "nb").alias("cosine")
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE a (id BIGINT, embedding DOUBLE[])")
    con.execute("CREATE TABLE b (id BIGINT, embedding DOUBLE[])")
    for side in (0, 1):
        con.executemany(
            f"INSERT INTO {'ab'[side]} VALUES (?, ?)",
            [(i, p[side]) for i, p in enumerate(pairs)],
        )
    want = dict(
        con.execute(
            f"SELECT a.id, {COSINE_SQL} FROM a JOIN b ON a.id = b.id"
        ).fetchall()
    )
    con.close()

    assert got == want
    assert got[len(pairs) - 1] == 1.0
