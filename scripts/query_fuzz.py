"""Grammar-based differential fuzzing (r12 VERDICT item 3).

The 237 hand-written registry queries all pass their oracles; the residual
correctness risk is unknown-unknowns in operator corners no hand query
exercises (NULL-in-join-key × outer-join × aggregate interactions, window
frames over tied orders, set ops over filtered scans). This script closes
that gap with a SEEDED generator that composes project / filter / join /
aggregate / window / set-op fragments over the ten parquet views and
compiles every generated query BOTH ways:

- to a PySpark **DataFrame plan** (the same API surface the engine's
  operators are built from — F.col expressions, .join/.groupBy/.agg,
  Window specs), and
- to a **DuckDB SQL string**,

then value-hash-compares the two with the driver's own canonicalization
(`oracle_check.compare`: column-name set, row count, order-insensitive
9-dp-rounded values — exactly the external driver's contract).

r13 grammar widening (second pass, same determinism doctrine): ROLLUP /
CUBE with GROUPING() markers (grouping-null vs data-null corners),
semi/anti joins as EXISTS / NOT EXISTS (NULL-key anti-join 3VL), 3-table
left-deep FK join chains (join reordering + two-hop NULL propagation),
count(DISTINCT), COALESCE over outer-join columns, month/day extraction,
UNION DISTINCT and INTERSECT ALL.

Determinism doctrine (what keeps a fuzz failure a REAL divergence):
- float SUM/AVG fragments route through the engine's own portable
  aggregate helpers (functions/numeric.dsum/davg + their *_sql twins) —
  exact decimal accumulation, immune to partition-order float addition;
- row-wise double arithmetic (+,-,*) is IEEE-identical per row in both
  engines and canon rounds to 9 dp;
- row_number / lag always carry the table's primary key as the final
  ORDER BY tiebreak (total order); rank/dense_rank values are
  deterministic under ties by definition;
- integer arithmetic stays in ranges the fixtures cannot overflow.

Usage: python scripts/query_fuzz.py [--seed N] [--n N] [--sf-dir DIR]
Writes FUZZ.json (seed, n, per-status counts, divergence samples, tree
stamp via scripts/stamp.py) and exits 1 on any divergence.
"""

from __future__ import annotations

import argparse
import json
import random
import sys
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import Column, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bitcoinminingetl_spark.functions.numeric import (  # noqa: E402
    davg,
    davg_sql,
    dsum,
    dsum_sql,
)
from bitcoinminingetl_spark.oracle_check import (  # noqa: E402
    compare,
    duck_connect,
    fetch_oracle,
)

# ---------------------------------------------------------------------------
# typed column catalog — the grammar's terminals. dtypes: int (exact
# integer), float (double), str, ts (timestamp). pk = unique total-order
# tiebreak for row_number/lag. lowcard = grouping/partition keys.
# ---------------------------------------------------------------------------

CATALOG = {
    "lineitem": {
        "cols": {
            "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
            "l_linenumber": "int", "l_quantity": "float",
            "l_extendedprice": "float", "l_discount": "float",
            "l_tax": "float", "l_returnflag": "str", "l_linestatus": "str",
            "l_shipdate": "ts",
        },
        # NOT TPC-H's (orderkey, linenumber): the synthetic fixture
        # reuses line numbers within an order (11785 duplicate pairs at
        # sf0.01 — found by the fuzzer's own first run, divergence
        # i=91: a lag over a non-total order is legitimately
        # nondeterministic across engines). The 4-tuple is verified
        # duplicate-free on the sf0.01 fixture the fuzz contract pins.
        "pk": ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        "lowcard": ("l_returnflag", "l_linestatus"),
    },
    "orders": {
        "cols": {
            "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
            "o_totalprice": "float", "o_orderdate": "ts",
            "o_orderpriority": "str",
        },
        "pk": ("o_orderkey",),
        "lowcard": ("o_orderstatus", "o_orderpriority"),
    },
    "customer": {
        "cols": {
            "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
            "c_acctbal": "float", "c_mktsegment": "str",
        },
        "pk": ("c_custkey",),
        "lowcard": ("c_mktsegment", "c_nationkey"),
    },
    "supplier": {
        "cols": {
            "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
            "s_acctbal": "float",
        },
        "pk": ("s_suppkey",),
        "lowcard": ("s_nationkey",),
    },
    "part": {
        "cols": {
            "p_partkey": "int", "p_name": "str", "p_brand": "str",
            "p_type": "str", "p_size": "int", "p_retailprice": "float",
        },
        "pk": ("p_partkey",),
        "lowcard": ("p_brand", "p_size"),
    },
    "nation": {
        "cols": {
            "n_nationkey": "int", "n_name": "str", "n_regionkey": "int",
        },
        "pk": ("n_nationkey",),
        "lowcard": ("n_regionkey",),
    },
    "events": {
        "cols": {
            "event_id": "int", "user_id": "int", "event_type": "str",
            "value": "float",
        },
        "pk": ("event_id",),
        "lowcard": ("event_type",),
    },
    "documents": {
        "cols": {
            "doc_id": "int", "lang": "str", "source": "str",
            "n_chars": "int",
        },
        "pk": ("doc_id",),
        "lowcard": ("lang", "source"),
    },
}

# FK graph for join fragments: (left table, left key, right table, right
# key). Orientation matters for left/full joins — both orders are
# exercised by swapping.
FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]

# two-hop chains for 3-table joins: consecutive edges sharing the middle
# table (all column names are prefix-unique, so no qualification issues)
FK_CHAINS = [
    (e1, e2)
    for e1 in FK_EDGES
    for e2 in FK_EDGES
    if e1[2] == e2[0] and e1[0] != e2[2]
]


@dataclass
class Expr:
    """One typed expression, carried in BOTH dialects."""

    col: Column
    sql: str
    dtype: str


def _lit_pools(con) -> dict:
    """Literal pools drawn deterministically from the fixture itself
    (sorted distincts / quantiles via DuckDB) so generated filters are
    selective but mostly non-vacuous."""
    pools: dict = {}
    for t, spec in CATALOG.items():
        for c, dt in spec["cols"].items():
            if dt == "str" and c in spec["lowcard"]:
                vals = [
                    r[0]
                    for r in con.execute(
                        f"SELECT DISTINCT {c} FROM {t} WHERE {c} IS NOT NULL"
                        f" ORDER BY 1 LIMIT 8"
                    ).fetchall()
                ]
                pools[(t, c)] = vals
            elif dt in ("int", "float"):
                qs = con.execute(
                    f"SELECT quantile_cont(CAST({c} AS DOUBLE),"
                    f" [0.1, 0.25, 0.5, 0.75, 0.9]) FROM {t}"
                ).fetchone()[0]
                pools[(t, c)] = [round(float(q), 2) for q in qs]
            elif dt == "ts":
                qs = con.execute(
                    f"SELECT min({c}), max({c}) FROM {t}"
                ).fetchone()
                pools[(t, c)] = [str(q)[:10] for q in qs if q is not None]
    return pools


class Gen:
    """The seeded grammar. Every method that consumes randomness draws
    ONLY from self.rng, so (seed, n, fixture) fully determine the run."""

    def __init__(self, rng: random.Random, pools: dict):
        self.rng = rng
        self.pools = pools

    # -- terminals ---------------------------------------------------------

    def col(self, tables: list[str], want: str | None = None) -> Expr | None:
        opts = [
            (t, c, dt)
            for t in tables
            for c, dt in CATALOG[t]["cols"].items()
            if want is None or dt == want
        ]
        if not opts:
            return None
        t, c, dt = self.rng.choice(opts)
        return Expr(F.col(c), c, dt)

    def num_lit(self, table: str, c: str) -> Expr:
        pool = self.pools.get((table, c))
        v = self.rng.choice(pool) if pool else float(self.rng.randint(0, 100))
        return Expr(F.lit(v), repr(float(v)), "float")

    # -- expressions -------------------------------------------------------

    def num_expr(self, tables: list[str], depth: int = 0) -> Expr | None:
        base = self.col(tables, self.rng.choice(["int", "float"]))
        if base is None:
            return None
        if depth >= 2 or self.rng.random() < 0.45:
            return base
        pick = self.rng.random()
        if pick < 0.35:
            other = self.num_expr(tables, depth + 1)
            if other is None:
                return base
            op = self.rng.choice(["+", "-"])
            col = base.col + other.col if op == "+" else base.col - other.col
            return Expr(col, f"({base.sql} {op} {other.sql})", "float")
        if pick < 0.6:
            k = self.rng.randint(2, 9)
            return Expr(base.col * k, f"({base.sql} * {k})", base.dtype)
        if pick < 0.75 and base.dtype == "int":
            k = self.rng.randint(2, 13)
            # pmod parity: Spark % and DuckDB % agree on non-negative
            # fixture keys; keep the operand non-negative via abs
            return Expr(
                F.abs(base.col) % k, f"(abs({base.sql}) % {k})", "int"
            )
        if pick < 0.85:
            # COALESCE over two numeric columns — the 3VL fragment that
            # actually fires on outer-join NULL sides (r13 widening).
            # Both operands cast to DOUBLE so the engines agree on the
            # result type regardless of int/float mix.
            other = self.col(tables, self.rng.choice(["int", "float"]))
            if other is None:
                return base
            return Expr(
                F.coalesce(
                    base.col.cast("double"), other.col.cast("double")
                ),
                f"coalesce(CAST({base.sql} AS DOUBLE),"
                f" CAST({other.sql} AS DOUBLE))",
                "float",
            )
        cond = self.bool_expr(tables, depth + 1)
        other = self.num_expr(tables, depth + 1)
        if cond is None or other is None:
            return base
        return Expr(
            F.when(cond.col, base.col).otherwise(other.col),
            f"(CASE WHEN {cond.sql} THEN {base.sql} ELSE {other.sql} END)",
            "float",
        )

    def str_expr(self, tables: list[str]) -> Expr | None:
        base = self.col(tables, "str")
        if base is None:
            return None
        pick = self.rng.random()
        if pick < 0.4:
            return base
        if pick < 0.55:
            return Expr(F.upper(base.col), f"upper({base.sql})", "str")
        if pick < 0.7:
            return Expr(F.lower(base.col), f"lower({base.sql})", "str")
        if pick < 0.85:
            k = self.rng.randint(1, 4)
            return Expr(
                F.substring(base.col, 1, k),
                f"substr({base.sql}, 1, {k})",
                "str",
            )
        return Expr(F.length(base.col).cast("long"),
                    f"CAST(length({base.sql}) AS BIGINT)", "int")

    def scalar_expr(self, tables: list[str]) -> Expr | None:
        if self.rng.random() < 0.6:
            e = self.num_expr(tables)
        else:
            e = self.str_expr(tables)
        if e is not None and e.dtype == "ts":
            part = self.rng.choice(["year", "month", "day"])
            return Expr(getattr(F, part)(e.col).cast("long"),
                        f"CAST({part}({e.sql}) AS BIGINT)", "int")
        return e

    def bool_expr(self, tables: list[str], depth: int = 0) -> Expr | None:
        if depth < 2 and self.rng.random() < 0.3:
            a = self.bool_expr(tables, depth + 1)
            b = self.bool_expr(tables, depth + 1)
            if a is None or b is None:
                return a or b
            op = self.rng.choice(["AND", "OR"])
            col = a.col & b.col if op == "AND" else a.col | b.col
            return Expr(col, f"({a.sql} {op} {b.sql})", "bool")
        if depth < 2 and self.rng.random() < 0.12:
            inner = self.bool_expr(tables, depth + 1)
            if inner is not None:
                return Expr(~inner.col, f"(NOT {inner.sql})", "bool")
        pick = self.rng.random()
        # numeric comparison against a fixture-quantile literal
        if pick < 0.45:
            opts = [
                (t, c)
                for t in tables
                for c, dt in CATALOG[t]["cols"].items()
                if dt in ("int", "float")
            ]
            t, c = self.rng.choice(opts)
            lit = self.num_lit(t, c)
            op = self.rng.choice(["<", "<=", ">", ">=", "=", "<>"])
            sop = {"=": "==", "<>": "!="}.get(op, op)
            col = getattr(
                F.col(c),
                {"<": "__lt__", "<=": "__le__", ">": "__gt__",
                 ">=": "__ge__", "==": "__eq__", "!=": "__ne__"}[sop],
            )(lit.col)
            return Expr(col, f"({c} {op} {lit.sql})", "bool")
        # string equality / IN over the fixture's own enum pool
        if pick < 0.7:
            opts = [
                (t, c)
                for t in tables
                for c in CATALOG[t]["lowcard"]
                if CATALOG[t]["cols"][c] == "str"
                and self.pools.get((t, c))
            ]
            if opts:
                t, c = self.rng.choice(opts)
                pool = self.pools[(t, c)]
                if self.rng.random() < 0.5 or len(pool) < 2:
                    v = self.rng.choice(pool)
                    return Expr(
                        F.col(c) == v, f"({c} = '{v}')", "bool"
                    )
                vals = self.rng.sample(pool, k=min(2, len(pool)))
                quoted = ", ".join(f"'{v}'" for v in vals)
                return Expr(
                    F.col(c).isin(vals), f"({c} IN ({quoted}))", "bool"
                )
        # timestamp range
        if pick < 0.85:
            opts = [
                (t, c)
                for t in tables
                for c, dt in CATALOG[t]["cols"].items()
                if dt == "ts" and self.pools.get((t, c))
            ]
            if opts:
                t, c = self.rng.choice(opts)
                lo, hi = self.pools[(t, c)][0], self.pools[(t, c)][-1]
                # deterministic midpoint date string between lo and hi
                v = self.rng.choice([lo, hi])
                op = self.rng.choice([">=", "<"])
                col = (
                    F.col(c) >= F.lit(v).cast("timestamp")
                    if op == ">="
                    else F.col(c) < F.lit(v).cast("timestamp")
                )
                return Expr(col, f"({c} {op} TIMESTAMP '{v}')", "bool")
        # NULL probes (3VL corners — mostly fire on outer-join columns)
        e = self.col(tables)
        if e is None:
            return None
        if self.rng.random() < 0.5:
            return Expr(e.col.isNull(), f"({e.sql} IS NULL)", "bool")
        return Expr(e.col.isNotNull(), f"({e.sql} IS NOT NULL)", "bool")

    # -- aggregates --------------------------------------------------------

    def agg_expr(self, tables: list[str], alias: str) -> Expr | None:
        pick = self.rng.random()
        if pick < 0.2:
            return Expr(
                F.count(F.lit(1)).alias(alias), f"count(*) AS {alias}", "int"
            )
        if pick < 0.3:
            e = self.col(tables)
            if e is None:
                return None
            return Expr(
                F.count(e.col).alias(alias),
                f"count({e.sql}) AS {alias}",
                "int",
            )
        if pick < 0.4:
            # exact distinct count (r13 widening): exercises Spark's
            # distinct-aggregate expand rewrite vs DuckDB's native path
            e = self.col(tables, self.rng.choice(["int", "str"]))
            if e is None:
                return None
            return Expr(
                F.count_distinct(e.col).alias(alias),
                f"count(DISTINCT {e.sql}) AS {alias}",
                "int",
            )
        if pick < 0.55:
            e = self.col(tables, self.rng.choice(["int", "str", "float"]))
            if e is None:
                return None
            fn = self.rng.choice(["min", "max"])
            return Expr(
                getattr(F, fn)(e.col).alias(alias),
                f"{fn}({e.sql}) AS {alias}",
                e.dtype,
            )
        if pick < 0.75:
            e = self.col(tables, "float")
            if e is None:
                return None
            return Expr(
                dsum(e.col).alias(alias),
                f"{dsum_sql(e.sql)} AS {alias}",
                "float",
            )
        if pick < 0.9:
            e = self.col(tables, "float")
            if e is None:
                return None
            return Expr(
                davg(e.col).alias(alias),
                f"{davg_sql(e.sql)} AS {alias}",
                "float",
            )
        e = self.col(tables, "int")
        if e is None:
            return None
        return Expr(
            F.sum(e.col).cast("long").alias(alias),
            f"CAST(sum({e.sql}) AS BIGINT) AS {alias}",
            "int",
        )

    # -- query shapes ------------------------------------------------------

    _SQL_HOW = {
        "inner": "JOIN",
        "left": "LEFT JOIN",
        "right": "RIGHT JOIN",
        "full": "FULL JOIN",
    }

    def _from_clause(self) -> tuple[list[str], "callable", str]:
        """A FROM fragment: one table, an FK join (inner / left / right /
        full), or (r13) a 3-table left-deep FK chain with independent
        join types per hop. Returns (visible tables, spark_df builder,
        sql). Both engines evaluate the chain left-deep with per-hop ON
        conditions, so mixed outer types are semantics-identical."""
        pick = self.rng.random()
        if pick < 0.4:
            t = self.rng.choice(list(CATALOG))
            return [t], (lambda env: env[t]), t
        if pick < 0.55:
            (t1, k1, t2, k2), (_, k3, t3, k4) = self.rng.choice(FK_CHAINS)
            how1 = self.rng.choice(["inner", "left", "right", "full"])
            how2 = self.rng.choice(["inner", "left", "inner"])

            def build(env):
                return (
                    env[t1]
                    .join(env[t2], on=env[t1][k1] == env[t2][k2], how=how1)
                    .join(env[t3], on=env[t2][k3] == env[t3][k4], how=how2)
                )

            return (
                [t1, t2, t3],
                build,
                f"{t1} {self._SQL_HOW[how1]} {t2} ON {t1}.{k1} = {t2}.{k2}"
                f" {self._SQL_HOW[how2]} {t3} ON {t2}.{k3} = {t3}.{k4}",
            )
        lt, lk, rt, rk = self.rng.choice(FK_EDGES)
        how = self.rng.choice(["inner", "left", "right", "full", "inner"])

        def build(env):
            return env[lt].join(
                env[rt], on=env[lt][lk] == env[rt][rk], how=how
            )

        return (
            [lt, rt],
            build,
            f"{lt} {self._SQL_HOW[how]} {rt} ON {lt}.{lk} = {rt}.{rk}",
        )

    def gen_query(self) -> tuple["callable", str] | None:
        tables, build_from, from_sql = self._from_clause()
        where = self.bool_expr(tables) if self.rng.random() < 0.8 else None
        shape = self.rng.random()
        if shape < 0.3:
            return self._gen_agg(tables, build_from, from_sql, where)
        if shape < 0.42:
            return self._gen_rollup(tables, build_from, from_sql, where)
        if shape < 0.58:
            return self._gen_window(tables, build_from, from_sql, where)
        if shape < 0.68:
            return self._gen_semijoin()
        if shape < 0.78 and len(tables) == 1:
            return self._gen_setop(tables[0])
        return self._gen_project(tables, build_from, from_sql, where)

    def _gen_project(self, tables, build_from, from_sql, where):
        exprs = []
        for i in range(self.rng.randint(2, 4)):
            e = self.scalar_expr(tables)
            if e is not None:
                exprs.append((f"c{i}", e))
        if not exprs:
            return None
        distinct = self.rng.random() < 0.25
        # a LIMIT needs a total order: full PK prefix of every table
        limit = None
        order_cols = [c for t in tables for c in CATALOG[t]["pk"]]
        if self.rng.random() < 0.3:
            limit = self.rng.randint(5, 50)

        def build(env):
            df = build_from(env)
            if where is not None:
                df = df.filter(where.col)
            df = df.select(*[e.col.alias(a) for a, e in exprs]
                           + [F.col(c) for c in order_cols])
            if distinct:
                df = df.drop(*order_cols).distinct()
            elif limit is not None:
                df = df.orderBy(*[F.col(c).asc_nulls_first()
                                  for c in order_cols]).limit(limit)
                df = df.drop(*order_cols)
            else:
                df = df.drop(*order_cols)
            return df

        sel = ", ".join(f"{e.sql} AS {a}" for a, e in exprs)
        w = f" WHERE {where.sql}" if where is not None else ""
        if distinct:
            sql = f"SELECT DISTINCT {sel} FROM {from_sql}{w}"
        elif limit is not None:
            ob = ", ".join(f"{c} ASC NULLS FIRST" for c in order_cols)
            sql = (
                f"SELECT {sel} FROM {from_sql}{w} ORDER BY {ob}"
                f" LIMIT {limit}"
            )
        else:
            sql = f"SELECT {sel} FROM {from_sql}{w}"
        return build, sql

    def _gen_agg(self, tables, build_from, from_sql, where):
        keys = []
        for t in tables:
            for c in CATALOG[t]["lowcard"]:
                keys.append(c)
        self.rng.shuffle(keys)
        keys = keys[: self.rng.randint(1, 2)]
        aggs = []
        for _ in range(self.rng.randint(1, 3)):
            # alias by POSITION IN THE KEPT LIST, not by loop index: a
            # failed draw would otherwise leave aggs[0] aliased a1
            # while the HAVING fragment filters a0 (found by the
            # fuzzer's own first full run — divergence i=87)
            a = self.agg_expr(tables, f"a{len(aggs)}")
            if a is not None:
                aggs.append(a)
        if not aggs:
            return None
        having = None
        if self.rng.random() < 0.3:
            # filter on the first aggregate when it is a count (always
            # non-null, integer-exact in both engines)
            if aggs[0].sql.startswith("count"):
                having = self.rng.randint(1, 5)

        def build(env):
            df = build_from(env)
            if where is not None:
                df = df.filter(where.col)
            out = df.groupBy(*[F.col(k) for k in keys]).agg(
                *[a.col for a in aggs]
            )
            if having is not None:
                out = out.filter(F.col("a0") >= having)
            return out

        sel = ", ".join(keys + [a.sql for a in aggs])
        w = f" WHERE {where.sql}" if where is not None else ""
        sql = (
            f"SELECT {sel} FROM {from_sql}{w} GROUP BY "
            + ", ".join(keys)
        )
        if having is not None:
            sql = f"SELECT * FROM ({sql}) WHERE a0 >= {having}"
        return build, sql

    def _gen_rollup(self, tables, build_from, from_sql, where):
        """ROLLUP / CUBE over 1–2 low-card keys with GROUPING() markers
        (r13 widening): exercises grouping-null vs data-null separation —
        the marker columns pin WHICH null is which, so an engine folding
        a data-NULL key into the subtotal row hashes differently."""
        keys = [c for t in tables for c in CATALOG[t]["lowcard"]]
        self.rng.shuffle(keys)
        keys = keys[: self.rng.randint(1, 2)]
        op = self.rng.choice(["rollup", "cube"])
        aggs = []
        for _ in range(self.rng.randint(1, 2)):
            a = self.agg_expr(tables, f"a{len(aggs)}")
            if a is not None:
                aggs.append(a)
        if not aggs:
            return None

        def build(env):
            df = build_from(env)
            if where is not None:
                df = df.filter(where.col)
            grouped = (
                df.rollup(*[F.col(k) for k in keys])
                if op == "rollup"
                else df.cube(*[F.col(k) for k in keys])
            )
            return grouped.agg(
                *[
                    F.grouping(F.col(k)).cast("long").alias(f"g{i}")
                    for i, k in enumerate(keys)
                ],
                *[a.col for a in aggs],
            )

        sel = ", ".join(
            keys
            + [
                f"CAST(grouping({k}) AS BIGINT) AS g{i}"
                for i, k in enumerate(keys)
            ]
            + [a.sql for a in aggs]
        )
        w = f" WHERE {where.sql}" if where is not None else ""
        # EMPTY-INPUT PIN (found by this grammar's first run, i=15/158):
        # ANSI/DuckDB emit the () grouping set's grand-total row even
        # over zero input rows; Spark's rollup/cube emit NOTHING on an
        # empty relation (unlike its own global groupBy().agg(), which
        # does emit the row). HAVING count(*) > 0 encodes Spark's
        # behavior exactly: every grouping-set row over non-empty input
        # aggregates >= 1 rows, so the guard only ever removes the
        # empty-input grand-total row. Pinned in
        # tests/test_properties.py::test_rollup_empty_input_pinned.
        sql = (
            f"SELECT {sel} FROM {from_sql}{w} GROUP BY {op.upper()} ("
            + ", ".join(keys)
            + ") HAVING count(*) > 0"
        )
        return build, sql

    def _gen_semijoin(self):
        """Semi / anti join as EXISTS / NOT EXISTS over an FK edge (r13
        widening): the NOT EXISTS + NULL-key corner is exactly where
        left_anti and NOT IN diverge, so value-hashing Spark's
        semi/anti against DuckDB's EXISTS pins the 3VL the engine's own
        join operators rely on."""
        lt, lk, rt, rk = self.rng.choice(FK_EDGES)
        anti = self.rng.random() < 0.5
        inner = self.bool_expr([rt]) if self.rng.random() < 0.5 else None
        where = self.bool_expr([lt]) if self.rng.random() < 0.6 else None
        cols = list(CATALOG[lt]["pk"]) + [
            c for c in CATALOG[lt]["lowcard"] if c not in CATALOG[lt]["pk"]
        ][:1]

        def build(env):
            r = env[rt]
            if inner is not None:
                r = r.filter(inner.col)
            df = env[lt]
            if where is not None:
                df = df.filter(where.col)
            return df.join(
                r,
                on=df[lk] == r[rk],
                how="left_anti" if anti else "left_semi",
            ).select(*[F.col(c) for c in cols])

        pred = f"{rt}.{rk} = {lt}.{lk}"
        if inner is not None:
            pred += f" AND {inner.sql}"
        exists = f"EXISTS (SELECT 1 FROM {rt} WHERE {pred})"
        if anti:
            exists = f"NOT {exists}"
        w = f"{where.sql} AND " if where is not None else ""
        sql = (
            f"SELECT {', '.join(cols)} FROM {lt} WHERE {w}{exists}"
        )
        return build, sql

    def _gen_window(self, tables, build_from, from_sql, where):
        part_opts = [c for t in tables for c in CATALOG[t]["lowcard"]]
        part = self.rng.choice(part_opts)
        order_expr = self.col(tables, self.rng.choice(["int", "float"]))
        if order_expr is None:
            return None
        pk = [c for t in tables for c in CATALOG[t]["pk"]]
        fn = self.rng.choice(
            ["row_number", "rank", "dense_rank", "lag", "sum"]
        )
        desc = self.rng.random() < 0.5
        # rank/dense_rank: values deterministic under ties, PK tiebreak
        # unnecessary; row_number/lag/sum-running need the total order
        order_cols_sql = [
            f"{order_expr.sql} {'DESC' if desc else 'ASC'} NULLS "
            + ("LAST" if desc else "FIRST")
        ]
        spark_order = [
            order_expr.col.desc_nulls_last()
            if desc
            else order_expr.col.asc_nulls_first()
        ]
        if fn in ("row_number", "lag", "sum"):
            # EXPLICIT null placement on the PK tiebreaks: Spark's
            # .asc() defaults NULLS FIRST, DuckDB's bare ASC defaults
            # NULLS LAST — on outer-join NULL keys the two total orders
            # diverge and every order-dependent window value with them
            # (found by the fuzzer's own first full run — divergence
            # i=91, a lag over a RIGHT JOIN's null side; the engine's
            # own operators always pin null placement for this reason)
            order_cols_sql += [f"{c} ASC NULLS FIRST" for c in pk]
            spark_order += [F.col(c).asc_nulls_first() for c in pk]
        w = Window.partitionBy(F.col(part)).orderBy(*spark_order)
        if fn == "row_number":
            wcol = F.row_number().over(w).cast("long")
            wsql = "CAST(row_number() OVER (PARTITION BY {p} ORDER BY {o}) AS BIGINT)"
        elif fn == "rank":
            wcol = F.rank().over(w).cast("long")
            wsql = "CAST(rank() OVER (PARTITION BY {p} ORDER BY {o}) AS BIGINT)"
        elif fn == "dense_rank":
            wcol = F.dense_rank().over(w).cast("long")
            wsql = "CAST(dense_rank() OVER (PARTITION BY {p} ORDER BY {o}) AS BIGINT)"
        elif fn == "lag":
            ic = self.col(tables, "int")
            if ic is None:
                return None
            wcol = F.lag(ic.col, 1).over(w)
            wsql = (
                f"lag({ic.sql}, 1) OVER"
                " (PARTITION BY {p} ORDER BY {o})"
            )
        else:  # running sum of an int column over the total order
            ic = self.col(tables, "int")
            if ic is None:
                return None
            wcol = F.sum(ic.col).over(w).cast("long")
            wsql = (
                f"CAST(sum({ic.sql}) OVER"
                " (PARTITION BY {p} ORDER BY {o}) AS BIGINT)"
            )
        wsql = wsql.format(p=part, o=", ".join(order_cols_sql))
        keep_pk = pk[:2]

        def build(env):
            df = build_from(env)
            if where is not None:
                df = df.filter(where.col)
            return df.select(
                F.col(part).alias("k"),
                *[F.col(c) for c in keep_pk],
                wcol.alias("w"),
            )

        wfilter = f" WHERE {where.sql}" if where is not None else ""
        sel = ", ".join([f"{part} AS k"] + keep_pk + [f"{wsql} AS w"])
        sql = f"SELECT {sel} FROM {from_sql}{wfilter}"
        return build, sql

    def _gen_setop(self, t):
        a = self.bool_expr([t])
        b = self.bool_expr([t])
        if a is None or b is None:
            return None
        cols = list(CATALOG[t]["pk"]) + [
            c
            for c in CATALOG[t]["lowcard"]
            if c not in CATALOG[t]["pk"]
        ][:1]
        op = self.rng.choice(
            ["union_all", "union", "intersect", "intersect_all", "except"]
        )

        def build(env):
            d1 = env[t].filter(a.col).select(*[F.col(c) for c in cols])
            d2 = env[t].filter(b.col).select(*[F.col(c) for c in cols])
            if op == "union_all":
                return d1.unionAll(d2)
            if op == "union":
                return d1.union(d2).distinct()
            if op == "intersect":
                return d1.intersect(d2)
            if op == "intersect_all":
                return d1.intersectAll(d2)
            return d1.exceptAll(d2)

        sel = ", ".join(cols)
        sql_op = {
            "union_all": "UNION ALL",
            "union": "UNION",
            "intersect": "INTERSECT",
            "intersect_all": "INTERSECT ALL",
            "except": "EXCEPT ALL",
        }[op]
        sql = (
            f"SELECT {sel} FROM {t} WHERE {a.sql} {sql_op} "
            f"SELECT {sel} FROM {t} WHERE {b.sql}"
        )
        return build, sql


def run_fuzz(spark, sf_dir: str, seed: int, n: int) -> dict:
    con = duck_connect(sf_dir)
    pools = _lit_pools(con)
    rng = random.Random(seed)
    gen = Gen(rng, pools)
    env = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in CATALOG
    }
    statuses: dict[str, int] = {"match": 0, "mismatch": 0, "error": 0}
    divergences = []
    nonempty = 0
    made = 0
    while made < n:
        q = gen.gen_query()
        if q is None:
            continue
        build, sql = q
        made += 1
        try:
            sdf = build(env)
            srows = sdf.collect()
            rec = compare(sdf.columns, srows, *fetch_oracle(con, sql))
        except Exception as exc:  # noqa: BLE001 — recorded per query
            statuses["error"] += 1
            divergences.append(
                {"i": made, "sql": sql, "status": "error",
                 "err": str(exc)[:400]}
            )
            continue
        statuses[rec["status"]] += 1
        if rec["spark_rows"] > 0:
            nonempty += 1
        if rec["status"] != "match":
            divergences.append({"i": made, "sql": sql, **rec})
        if made % 25 == 0:
            print(
                f"  {made}/{n}: {statuses['match']} match,"
                f" {statuses['mismatch']} mismatch,"
                f" {statuses['error']} error",
                flush=True,
            )
    return {
        "seed": seed,
        "n": n,
        "sf_dir": sf_dir,
        "n_match": statuses["match"],
        "n_mismatch": statuses["mismatch"],
        "n_error": statuses["error"],
        "n_nonempty": nonempty,
        "ok": statuses["mismatch"] == 0 and statuses["error"] == 0,
        "divergences": divergences[:20],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1303)
    ap.add_argument("--n", type=int, default=200)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from bitcoinminingetl_spark.session import get_spark
    from scripts.stamp import tree_stamp

    spark = get_spark()
    summary = run_fuzz(spark, args.sf_dir, args.seed, args.n)
    summary.update(tree_stamp())
    (REPO / "FUZZ.json").write_text(json.dumps(summary, indent=1) + "\n")
    print(
        f"FUZZ: {summary['n_match']} match, {summary['n_mismatch']} mismatch,"
        f" {summary['n_error']} error, {summary['n_nonempty']} non-empty"
        f" (seed={summary['seed']}, n={summary['n']})"
    )
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
