"""Vector math of the embedding family, in one place: the Spark column
expressions (dot, norm, rounded cosine), their DuckDB twins, and the
random-hyperplane sign-bucket kernel (Charikar, STOC'02) with its DuckDB
twin.

Cross-engine parity rests on evaluation order. ``dot`` is a left fold
from 0.0 (zip_with + aggregate); DuckDB's ``list_reduce`` folds from
the first element, and 0.0 + x == x exactly in IEEE, so both engines
produce bit-identical doubles before the 6-dp decimal rounding.

Sign buckets: a vector's bucket in one table is the sum of 2^b over the
planes b whose dot with it is >= 0. The kernel quantizes each component
to floor(v * Q_SCALE) int64 and uses small integer planes (md5
bytes), so every bucket dot is exact integer arithmetic: numpy's int64
matmul and DuckDB's per-element fold cannot disagree on a sign, and
every query of the LSH family carries a full value-hash oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from bitcoinminingetl_spark.functions.numeric import roundn, roundn_sql


def dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(x: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(x, lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: str, b: str, na: str, nb: str) -> Column:
    """6-dp engine-stable cosine of the vector columns a, b with norm
    columns na, nb. guard=False: inputs come through normed_embeddings
    (finite, non-zero norms), so the cosine is a finite [-1, 1] and the
    dot product is evaluated once."""
    return roundn(dot(F.col(a), F.col(b)) / (F.col(na) * F.col(nb)), 6, guard=False)


# DuckDB twins over the aliases `a` and `b` of the embeddings table.
DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), "
    "(x, y) -> x + y)"
)


def norm_sql(side: str) -> str:
    return (
        f"sqrt(list_reduce(list_transform(CAST({side}.embedding AS DOUBLE[]), "
        "v -> v * v), (x, y) -> x + y))"
    )


def usable_norm_sql(side: str) -> str:
    """Oracle-side mirror of normed_embeddings' corrupt-vector
    exclusion: finite positive norm. Without it a NaN-component vector
    sails through the oracle's cosine filter — DuckDB (like Spark)
    compares NaN GREATER than any threshold — and every oracle pair set
    grows phantom corrupt pairs the Spark side excludes; in a ranked
    pool the NaN cosines would sort first."""
    return f"(isfinite({norm_sql(side)}) AND {norm_sql(side)} > 0)"


COSINE_SQL = roundn_sql(f"{DOT_SQL} / ({norm_sql('a')} * {norm_sql('b')})", 6)

# Quantization scale of the sign-bucket kernel: one double multiply +
# floor per component (IEEE-identical in numpy and DuckDB), after which
# every bucket dot is exact int64 (max |dot| ~ 64 dims * 1e6 * 128 ≈ 8.2e9).
Q_SCALE = 1_000_000.0
# A scaled component quantizes only below 2^49, so that every plane dot
# stays inside int64: 64 dims * |plane| <= 128 * 2^49 = 2^62. Past that
# numpy's int64 arithmetic wraps silently while DuckDB's raises (and past
# 2^63 numpy's cast is undefined while DuckDB's CAST raises), so such a
# component contributes 0, identically in both engines. NaN/Inf compare
# not-less-than the bound on both sides, so the one predicate masks them
# too.
_Q_SAFE = float(2**49)


def sign_bucket_udf(planes, bits: int):
    """Arrow-batched sign-bucket kernel: embedding -> array<long> with one
    bucket id per table. `planes` is the (tables * bits, dims) integer
    matrix of md5_planes. All tables' plane dots are ONE numpy int64
    matmul per Arrow batch over the floor(v * Q_SCALE) quantization;
    the higher-order-function form (one dot per plane) is a
    ~1500-literal expression tree that falls out of whole-stage codegen
    and evaluates interpreted, an order of magnitude slower. DuckDB
    twin: bucket_rows_sql."""
    p = np.asarray(planes, dtype=np.int64)
    tables = len(p) // bits
    weights = (2 ** np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(emb: pd.Series) -> pd.Series:
        x = np.array(emb.tolist(), dtype=np.float64) * Q_SCALE  # (n, dims)
        ok = np.abs(x) < _Q_SAFE  # False for NaN/Inf/overflow
        q = np.floor(np.where(ok, x, 0.0)).astype(np.int64)
        signs = (q @ p.T >= 0).astype(np.int64)  # (n, tables * bits)
        return pd.Series(list(signs.reshape(len(q), tables, bits) @ weights))

    return buckets


def md5_planes(tag: str, tables: int, bits: int) -> list[list[int]]:
    """(tables * bits, 64) integer hyperplanes from md5 bytes: first byte
    of md5('tag|t|b|d') - 128, in [-128, 127]. Engine-portable by
    construction: Python-computed constants embedded as literals in
    both the UDF closure and the DuckDB oracle text."""
    return [
        [
            hashlib.md5(f"{tag}|{t}|{b}|{d}".encode()).digest()[0] - 128
            for d in range(64)
        ]
        for t in range(tables)
        for b in range(bits)
    ]


# DuckDB twin of sign_bucket_udf's quantization of `embedding`:
# components at or past _Q_SAFE (NaN/Inf included) become 0, matching
# the UDF's mask.
_QUANTIZE_SQL = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"v -> CASE WHEN abs(v * {Q_SCALE!r}) < {_Q_SAFE!r} "
    f"THEN CAST(floor(v * {Q_SCALE!r}) AS BIGINT) ELSE 0 END)"
)


def bucket_rows_sql(planes: list[list[int]], bits: int, rel: str, cols: str) -> str:
    """DuckDB twin of posexplode(sign_bucket_udf(planes, bits)(embedding))
    over relation `rel`: one (cols..., tbl, bkt) row per vector and table,
    tables numbered from 0. A table's bucket is the sum of 2^b over its
    planes b whose int64 dot with the quantized vector `q` is >= 0; each
    plane literal is zipped onto `q` once per row."""

    def bucket(t: int) -> str:
        terms = []
        for b in range(bits):
            lit = "[" + ", ".join(str(x) for x in planes[t * bits + b]) + "]"
            dot_q = (
                f"list_reduce(list_transform(list_zip(q, {lit}), "
                "p -> p[1] * p[2]), (x, y) -> x + y)"
            )
            terms.append(f"(CASE WHEN {dot_q} >= 0 THEN {2 ** b} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    qv = f"(SELECT {cols}, {_QUANTIZE_SQL} AS q FROM {rel})"
    return " UNION ALL ".join(
        f"SELECT {cols}, {t} AS tbl, {bucket(t)} AS bkt FROM {qv}"
        for t in range(len(planes) // bits)
    )
