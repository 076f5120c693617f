"""Property-based and invariance tests (SURVEY §5.2 item 3).

Two families:
- plan invariants: results must not depend on physical execution knobs
  (shuffle partition count, input split size) — the property that makes a
  plan trustworthy when AQE re-plans it at 1000 executors.
- hypothesis-generated differentials: tiny random inputs checked against a
  pure-Python reference implementation (sessionization, dedup).
Spark round-trips are slow, so example counts are deliberately small —
these guard semantics, they are not fuzzing for crashes.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from bitcoinminingetl_spark.registry import load_all

REGISTRY = load_all()


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_agg_results_invariant_under_shuffle_partitions(spark, sf_dir):
    """q_avg_grouped and the flagship q_window_join must return identical
    rows at 8 vs 2 shuffle partitions: decimal-quantized aggregation
    (functions/numeric) makes double sums independent of partial-agg
    merge order."""
    for name in ("q_avg_grouped", "q_window_join"):
        base = _rows(REGISTRY[name].fn(spark, sf_dir))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "2")
            alt = _rows(REGISTRY[name].fn(spark, sf_dir))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert base == alt, name


def test_dedup_pairs_invariant_under_input_splits(spark, sf_dir):
    """Jaccard pair detection is a set property of the corpus — forcing
    tiny input splits (more scan partitions) must not change it."""
    base = _rows(REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        alt = _rows(REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert base == alt


@settings(max_examples=5, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user_id
            st.integers(min_value=0, max_value=86_400), # seconds offset
        ),
        min_size=1,
        max_size=40,
    )
)
def test_sessionize_matches_python_reference(spark, events):
    """Session count per user == 1 + number of >30-min gaps in that
    user's sorted event times (pure-Python reference)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(seconds=off), uid, "click", 1.0)
        for i, (uid, off) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    # reuse the operator's plan by inlining its logic over this frame
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    got = (
        df.withColumn(
            "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "session_idx",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id")
        .agg(F.countDistinct("session_idx").alias("n_sessions"))
    )
    got_map = {r.user_id: r.n_sessions for r in got.collect()}

    expected: dict[int, int] = {}
    by_user: dict[int, list[int]] = {}
    for uid, off in events:
        by_user.setdefault(uid, []).append(off)
    for uid, offs in by_user.items():
        offs.sort()
        n = 1 + sum(1 for a, b in zip(offs, offs[1:]) if b - a > 1800)
        expected[uid] = n
    assert got_map == expected


@settings(max_examples=5, deadline=None)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=30)
)
def test_dedup_idempotent_and_counts_distinct(spark, keys):
    """dropDuplicates is idempotent and keeps exactly one row per key."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    once = df.dropDuplicates(["k"])
    twice = once.dropDuplicates(["k"])
    assert once.count() == len(set(keys))
    assert sorted(r.k for r in twice.collect()) == sorted(set(keys))


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("a b c d e f g".split()), min_size=1, max_size=20
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_score_matches_python_reference(spark, docs):
    """rep_ratio == 1 - |distinct 3-grams| / |3-gram positions| against a
    pure-Python reference, for arbitrary token streams (including docs
    shorter than the gram width, which contribute one full-text gram)."""
    from bitcoinminingetl_spark.registry import load_all

    rows = [(i + 1, " ".join(toks), "en", "web", 1) for i, toks in enumerate(docs)]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(td + "/documents.parquet")
        got = {
            r.doc_id: (r.n_grams, r.n_distinct, r.rep_ratio)
            for r in load_all()["q_repetition_score"].fn(spark, td).collect()
        }
    for i, toks in enumerate(docs):
        n_pos = max(len(toks) - 2, 1)
        grams = [" ".join(toks[j : j + 3]) for j in range(n_pos)]
        n_grams, n_distinct = len(grams), len(set(grams))
        want_ratio = round(1.0 - n_distinct / n_grams, 6)
        g = got[i + 1]
        assert (g[0], g[1]) == (n_grams, n_distinct)
        assert abs(g[2] - want_ratio) < 1e-9


@settings(max_examples=5, deadline=None)
@given(cap=st.integers(min_value=1, max_value=6))
def test_pruned_jaccard_pairs_subset_of_cooccurrence(spark, cap):
    """For any df_cap, pruned pairs only relate docs that co-occur on a
    kept shingle (df <= cap), and each pair's Jaccard stays in (0, 1] —
    internal consistency of the pruned universe."""
    from bitcoinminingetl_spark.functions.numeric import roundn
    from bitcoinminingetl_spark.operators import dedup

    rows = [
        (1, "a b c d e", "en", "web", 1),
        (2, "a b c x y", "en", "web", 1),
        (3, "a b c d e", "en", "web", 1),
        (4, "p q r s t", "en", "web", 1),
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(td + "/documents.parquet")
        sh = dedup._shingled(
            dedup.table(spark, td, "documents")
        )
        pairs = (
            dedup._pair_overlaps(sh, df_cap=cap)
            .select("doc_a", "doc_b", roundn(dedup.jaccard(), 6).alias("jaccard"))
            .collect()
        )
    for r in pairs:
        assert 0.0 < r.jaccard <= 1.0
        assert r.doc_a < r.doc_b
    # doc 4 shares no shingle with anyone: never paired at any cap
    assert all(4 not in (r.doc_a, r.doc_b) for r in pairs)


@settings(max_examples=5, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("a b c d e f g".split()), min_size=0, max_size=30
        ),
        min_size=1,
        max_size=10,
    )
)
def test_doc_pack_matches_python_reference(spark, docs):
    """Packing invariants against a pure-Python exclusive prefix sum:
    seq_id/seq_pos equal the serial concat-and-split assignment for any
    token-count profile (including empty docs), regardless of how the
    distributed sketch buckets split the cumsum."""
    from bitcoinminingetl_spark.operators.corpus_ops import _PACK_CAP
    from bitcoinminingetl_spark.registry import load_all

    rows = [(i + 1, " ".join(toks), "en", "web", 1) for i, toks in enumerate(docs)]
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(td + "/documents.parquet")
        got = {
            r.doc_id: (r.n_tokens, r.seq_id, r.seq_pos, r.straddles)
            for r in load_all()["q_doc_pack"].fn(spark, td).collect()
        }
    cum = 0
    for i, toks in enumerate(docs):
        n = len(toks)  # [a-z0-9]+ tokens == words by construction
        want = (n, cum // _PACK_CAP, cum % _PACK_CAP,
                cum % _PACK_CAP + n > _PACK_CAP)
        assert got[i + 1] == want, (i + 1, got[i + 1], want)
        cum += n


@settings(max_examples=5, deadline=None)
@given(
    series=st.lists(
        st.tuples(
            st.sampled_from(["p", "h"]),                      # event_type
            st.floats(min_value=0, max_value=500, width=32),  # value
        ),
        min_size=1,
        max_size=40,
    )
)
def test_ewma_matches_python_reference(spark, series):
    """EWMA (alpha=.5, adjust=True, 16-obs truncation) against the
    direct Python formula for arbitrary per-type series."""
    import datetime as _dt

    from bitcoinminingetl_spark.operators.windows import _EWMA_L, ewma_smooth

    t0 = _dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + _dt.timedelta(seconds=i), et, float(v))
        for i, (et, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    got = {r.event_id: r.ewma for r in ewma_smooth(df).collect()}
    by_type: dict[str, list[tuple[int, float]]] = {}
    for i, (et, v) in enumerate(series):
        by_type.setdefault(et, []).append((i, float(v)))
    for et, evs in by_type.items():
        for pos, (eid, _) in enumerate(evs):
            window = [v for _, v in evs[max(0, pos - _EWMA_L + 1) : pos + 1]]
            m = len(window)
            s = sum(v * 0.5 ** (m - 1 - j) for j, v in enumerate(window))
            want = s / (2 * (1 - 0.5 ** m))
            assert abs(got[eid] - want) < 1e-6, (eid, got[eid], want)


def test_mix_sample_budget_property(spark, sf_dir):
    """q_mix_sample's greedy-inclusion contract, checked per source:
    (1) selected tokens minus the last (straddling) doc stay under the
    budget; (2) the selection is the quality-order PREFIX — no skipped
    better doc; (3) every source with any docs is represented."""
    from bitcoinminingetl_spark.operators.corpus_ops import (
        _MIX_TOKENS_PER_SOURCE,
    )

    picked = REGISTRY["q_mix_sample"].fn(spark, sf_dir).collect()
    by_source = {}
    for r in picked:
        by_source.setdefault(r.source, []).append(r)

    docs = REGISTRY["q_quality_calibrate"].fn(spark, sf_dir).collect()
    all_sources = {r.source for r in docs}
    assert set(by_source) == all_sources

    # recompute each source's quality order from the same scoring
    from bitcoinminingetl_spark.catalog import table as _table

    scored = (
        _table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
            .cast("long")
            .alias("n_tokens"),
            (
                F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)")).cast(
                    "double"
                )
                / F.greatest(F.col("n_chars"), F.lit(1))
            ).alias("density"),
        )
        .collect()
    )
    order = {}
    for r in scored:
        order.setdefault(r.source, []).append(r)
    for src, rows in order.items():
        rows.sort(key=lambda r: (-r.density, r.doc_id))
        chosen = {r.doc_id for r in by_source[src]}
        prefix = rows[: len(chosen)]
        assert {r.doc_id for r in prefix} == chosen, src  # exact prefix
        total = sum(r.n_tokens for r in prefix)
        assert total - prefix[-1].n_tokens < _MIX_TOKENS_PER_SOURCE, src


@given(
    st.lists(
        st.floats(
            min_value=-9e15, max_value=9e15,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=20, deadline=None)
def test_roundn_guard_modes_agree_in_range(spark, xs):
    """The overflow-guarded rounder and the single-eval plain-cast form
    (guard=False — used where callers prove boundedness, e.g. cosines)
    must be bit-identical wherever the plain form is defined at all:
    guard only changes behavior PAST the decimal range, never inside it.
    Ranges: DECIMAL(28,12) holds |x| < 1e16, so any in-range double
    takes the same decimal path in both forms."""
    from bitcoinminingetl_spark.functions.numeric import roundn

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    rows = df.select(
        roundn(F.col("x"), 6).alias("guarded"),
        roundn(F.col("x"), 6, guard=False).alias("plain"),
    ).collect()
    for r in rows:
        assert r.guarded == r.plain


def test_dsum_poison_is_partitioning_invariant(spark):
    """The exact-or-NULL poison bound must not depend on which partition
    the offending row lands in: max(abs) is an order-independent monoid,
    so a poisoned group reads NULL at any split of the input."""
    from bitcoinminingetl_spark.functions.numeric import dsum

    data = [("a", 1.5), ("a", 1e15), ("a", 2.5), ("b", 3.0), ("b", 4.5)]
    for parts in (1, 5):
        df = spark.createDataFrame(data, "k string, v double").repartition(parts)
        got = {
            r.k: r.s
            for r in df.groupBy("k").agg(dsum(F.col("v")).alias("s")).collect()
        }
        assert got == {"a": None, "b": 7.5}, parts


def test_rollup_empty_input_pinned(spark):
    """PINNED upstream-Spark corner (found by scripts/query_fuzz.py's r13
    grammar, divergences i=15/158): ANSI SQL — and DuckDB — emit the ()
    grouping set's grand-total row even over an EMPTY relation; Spark's
    rollup/cube emit nothing, while Spark's own global groupBy().agg()
    does emit the row. The fuzzer's DuckDB twin encodes this with
    HAVING count(*) > 0 (exact: every grouping-set row over non-empty
    input aggregates >= 1 rows). If an upstream Spark release makes
    rollup ANSI-conformant, this test fails and the fuzzer guard (and
    this pin) should be dropped together."""
    df = spark.createDataFrame([("a", 1)], "k string, v int").filter("v > 99")
    assert df.rollup("k").agg(F.count("v").alias("c")).collect() == []
    assert df.cube("k").agg(F.count("v").alias("c")).collect() == []
    # the contrast that makes this a corner, not a convention: global
    # aggregation over the same empty relation DOES produce one row
    [row] = df.groupBy().agg(F.count("v").alias("c")).collect()
    assert row.c == 0
