"""Adversarial-corpus sweep: every registered query must SURVIVE the
document/embedding/event shapes a real 100 TB corpus contains but the
clean synthetic fixtures do not — empty text, single-word and
whitespace-only docs, NULL text, backslash/quote tokens, unicode, a
2000-word doc, a zero-norm embedding, exact-duplicate vectors,
constant-value event streams (stddev 0), single-row and all-NULL-value
streams, +/-1e12 magnitudes, duplicate timestamps, malformed JSON props.

This is a crash gate, not a value oracle: the DuckDB differential check
(test_oracle.py) owns correctness on the clean fixtures; this suite owns
"no pathological row kills the job" — the class of bug behind the round-4
ADVICE findings (sequence() descending on short docs) and the ANSI-mode
divide-by-zero/IntCastingNaN crashes fixed in round 5. Spark 4 runs ANSI
mode by default, so a single bad row throws instead of yielding NULL;
at scale that is a dead 1000-executor job.

The TPC-H warehouse tables come straight from conftest's SF_DIR (warehouse data
is schema-disciplined by construction; telemetry and scraped corpora
are not). Streaming lifecycle queries are excluded — their robustness
is exercised by tests/test_streaming.py with its own landed fixtures.
"""

from __future__ import annotations

import datetime
import shutil

import pytest

from bitcoinminingetl_spark.oracle_check import canon, compare, duck_connect
from bitcoinminingetl_spark.registry import load_all
from tests.conftest import SF_DIR

REGISTRY = load_all()

_SWEEP = [n for n in sorted(REGISTRY) if not n.startswith("q_streaming_")]

_T0 = datetime.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def adv_dir(spark, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("advdata")
    for t in (
        "region nation customer supplier part orders lineitem"
    ).split():
        # same resolution as every other suite: conftest's SF_DIR honors
        # the SPARK_GRAFT_TEST_SF_DIR override (r5 ADVICE)
        shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")

    ev = []
    # constant-value stream: stddev 0 (z-score / corr divide-by-zero bait)
    for i in range(20):
        ev.append((i, _T0 + datetime.timedelta(minutes=i), 1, "const", 5.0, '{"k": 1}'))
    ev.append((100, _T0, 2, "lonely", 7.7, '{"k": 2}'))  # single-row stream
    for i in range(5):  # all-NULL-value stream
        ev.append((200 + i, _T0 + datetime.timedelta(hours=i), 3, "nullv", None, None))
    # simultaneous timestamps + decimal-overflow magnitudes
    for i in range(10):
        ev.append((300 + i, _T0, 4, "burst", -1e12 if i % 2 else 1e12, '{"k": 3}'))
    # malformed / empty / NULL props JSON
    ev.append((400, _T0, 5, "badjson", 1.0, "not json"))
    ev.append((401, _T0, 5, "badjson", 2.0, ""))
    ev.append((402, _T0, 5, "badjson", 3.0, None))
    for i in range(8):  # magnitudes past the dsum quantization bound (1e13)
        ev.append((600 + i, _T0 + datetime.timedelta(minutes=3 * i), 7, "huge",
                   -1e15 if i % 2 else 1e15, None))
    # NaN VALUE stream: a corrupt sensor/parse emitting IEEE NaN — the
    # events-side twin of the NaN embedding component. Spark's guarded
    # aggregates poison on it (NaN compares greater than the dsum
    # bound); DuckDB 1.0's TRY_CAST(nan AS DECIMAL) RAISES instead of
    # NULLing, which the _nan_masked() wrapper in every oracle rounder
    # exists to absorb — this stream keeps that path permanently hot.
    for i, v in enumerate([1.0, float("nan"), 2.0]):
        ev.append((650 + i, _T0 + datetime.timedelta(minutes=i), 8, "nanv",
                   v, None))
    # +/-Inf VALUE stream: the other non-finite — TRY_CASTs to NULL in
    # both engines (unlike NaN, which raises in DuckDB), and max(abs)
    # compares greater than the dsum bound, so guarded aggregates poison
    for i, v in enumerate([1.0, float("inf"), float("-inf")]):
        ev.append((660 + i, _T0 + datetime.timedelta(minutes=i), 8, "infv",
                   v, None))
    # partial-null stream: value NULL on a subset while user_id varies —
    # correlation moments must be pairwise-complete (the unpaired uid=100
    # row would deflate a naive stddev(user_id) by ~50x)
    ev.append((700, _T0, 1, "partial", 1.0, None))
    ev.append((701, _T0 + datetime.timedelta(minutes=1), 2, "partial", 2.0, None))
    ev.append((702, _T0 + datetime.timedelta(minutes=2), 100, "partial", None, None))
    # metronome view/purchase pair: exactly one of each per hour — the
    # hourly counts have ZERO variance (lead-lag correlation bait; also
    # the only view/purchase rows, so q_leadlag_corr isn't vacuous here)
    for h in range(4):
        ev.append((800 + h, _T0 + datetime.timedelta(hours=h), 9, "view", 1.0, None))
        ev.append((820 + h, _T0 + datetime.timedelta(hours=h), 9, "purchase", 1.0, None))
    # r5 regression shapes, pinned permanently (r5 VERDICT item 6):
    # (a) NULL inside an EWMA frame — [1, 2, NULL, 4] is the exact shape
    # where the pre-fix collect_list plan re-weighted by position among
    # the non-null survivors (3.0) while pandas ewm(ignore_na=False) /
    # the row-distance oracle give 4.625/1.375 = 3.363636
    for i, v in enumerate([1.0, 2.0, None, 4.0]):
        ev.append((900 + i, _T0 + datetime.timedelta(minutes=i), 40,
                   "nullframe", v, None))
    # (b) sub-second session gaps — a true 1800.5 s gap floored to whole
    # seconds by unix_timestamp() reads 1800 and merges two sessions the
    # microsecond-exact oracle splits; 1799.5 s and exactly 1800.0 s
    # must stay merged (the threshold is strict >)
    _sub = [0.0, 1800.5, 1800.5 + 1799.5, 1800.5 + 1799.5 + 1800.0]
    for i, s in enumerate(_sub):
        ev.append((910 + i, _T0 + datetime.timedelta(seconds=s), 41,
                   "subsec", 1.0, None))
    for i in range(50):  # one ordinary stream so aggregates have real work
        ev.append((500 + i, _T0 + datetime.timedelta(minutes=7 * i),
                   6 + i % 3, "normal", float(i), f'{{"k": {i}}}'))
    spark.createDataFrame(
        ev,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    docs = [
        (0, "", "en", "web", 0),                # empty text, eval-split id
        (1, "one", "en", "web", 3),             # single word
        (2, "   ", "en", "web", 3),             # whitespace -> ["","","",""]
        (3, "a", "en", "web", 1),               # single char
        (4, 'a\\b it\'s "quoted" end', "en", "web", 0),  # backslash+quotes
        (5, "héllo wörld 日本語 \U0001f600 ok", "xx", "web", 0),  # unicode
        (6, "just four words here", "en", "s2", 20),
        (7, " ".join(f"tok{i % 37}" for i in range(2000)), "en", "s2", 0),
        (8, " ".join(["x"] * 50), "en", "s2", 0),  # one token repeated
        (9, "the quick brown fox jumps over the lazy dog near the old"
            " mill stream", "en", "s1", 0),
        (10, "", "en", "s1", 0),                 # second eval-split empty
        (11, None, "en", "s1", 0),               # NULL text
        (12, "foo\x0bbar baz", "en", "s1", 11),  # vertical tab: Java \s
                                                 # has it, RE2 \s doesn't
        # pathological token/encoding shapes a 100 TB web crawl contains:
        (13, "x" * 30000, "en", "s2", 30000),    # ONE 30k-char token — no
                                                 # whitespace, stresses regex
                                                 # tokenizers + char n-grams
        (14, "café " * 40 + "éé", "fr", "s2", 0),
                                                 # combining accents (NFD)
        (15, "مرحبا بالع"
             "الم نص عربي",
         "ar", "s1", 0),                         # RTL Arabic
        (16, "a​b ‌c‍d test zw", "en", "s1", 0),
                                                 # zero-width space/joiners
    ] + [
        (
            100 + i,
            f"filler doc number {i} with some shared words alpha beta gamma",
            "en",
            f"s{i % 3}",
            0,
        )
        for i in range(20)
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    import random

    rng = random.Random(7)
    embs = [(0, [0.0] * 64, 0)]                  # zero-norm vector
    embs += [
        (1, [1.0] + [0.0] * 63, 0),
        (2, [1.0] + [0.0] * 63, 0),              # exact duplicate pair
    ]
    embs += [
        (i, [rng.gauss(0, 1) for _ in range(64)], i % 4) for i in range(3, 32)
    ]
    embs += [
        # corrupt encoder outputs: NaN component (norm NaN — which Spark
        # orders GREATER than 0, so a naive positivity filter admits it)
        # and an Inf component (norm +Inf)
        (32, [float("nan")] + [1.0] * 63, 0),
        (33, [float("inf")] + [1.0] * 63, 1),
    ]
    embs += [
        # poisoned DIMENSION (r6 VERDICT item 1): a label-5 group whose
        # dim 0 carries |x| >= the dsum bound (1e13) while the other 63
        # dims stay ordinary — davg goes exact-or-NULL on dim 0 ONLY, so
        # the centroid CSV must render a positional "null" token in BOTH
        # engines instead of dropping the element and shifting every
        # later dimension (the latent hash-fail the r6 verdict left open)
        (34, [2.0e14] + [float(i) / 64 for i in range(1, 64)], 5),
        (35, [-3.0e14] + [float(i) / 32 for i in range(1, 64)], 5),
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


@pytest.mark.parametrize("name", _SWEEP)
def test_query_survives_adversarial_corpus(spark, adv_dir, name):
    REGISTRY[name].fn(spark, adv_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def test_corrupt_vectors_are_excluded_not_fatal(spark, adv_dir):
    """The doctrine behind dedup.normed_embeddings: the planted zero
    vector (vec_id 0) and the corrupt NaN/Inf-component vectors (32, 33
    — non-finite norms, which Spark orders GREATER than zero, so they'd
    pass a bare positivity filter) silently leave the cosine family;
    none surfaces as a neighbor or kills the job. The planted
    exact-duplicate pair (1, 2) is still found at cosine 1."""
    rows = REGISTRY["q_dedup_embed_cosine"].fn(spark, adv_dir).collect()
    ids = {r.vec_a for r in rows} | {r.vec_b for r in rows}
    assert not ids & {0, 32, 33}
    assert any(
        {r.vec_a, r.vec_b} == {1, 2} and abs(r.cosine - 1.0) < 1e-6
        for r in rows
    )

    # quantizability window: non-finite scales read NULL mse/nnz, the
    # in-range corpus still quantizes
    quant = {
        r.vec_id: (r.mse, r.nnz)
        for r in REGISTRY["q_embed_quantize"].fn(spark, adv_dir).collect()
    }
    assert quant[32] == (None, None)
    assert quant[33] == (None, None)
    assert quant[3][0] is not None and quant[3][1] > 0


def test_embed_centroids_null_token_parity_with_oracle(spark, adv_dir):
    """r6 VERDICT item 1, pinned end-to-end on a fixture that actually
    fires it: the label-5 vectors carry |x| >= the dsum bound in dim 0,
    so davg poisons that dimension to NULL and the centroid CSV must
    render a positional "null" token in BOTH engines. DuckDB's
    printf('%.6f', NULL) yields a NULL list element that array_to_string
    silently DROPS — the oracle's COALESCE(..., 'null') is what keeps
    the vectors aligned; without it every dimension after the poisoned
    one shifts left and the value hash diverges. The clean sf fixtures
    never reach the bound, so this is the only differential check that
    exercises the exact-or-NULL rendering path."""
    import duckdb

    spec = REGISTRY["q_embed_centroids"]
    sdf = spec.fn(spark, adv_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = sdf.collect()

    con = duckdb.connect()
    try:
        # Spark writes the fixture as a part-file directory, so the view
        # needs the glob form (the driver's testdata is single-file)
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{adv_dir}/embeddings.parquet/*.parquet'"
        )
        res = con.execute(spec.oracle)
        o_cols = [d[0].lower() for d in res.description]
        o_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(s_cols) == sorted(o_cols)
    assert len(s_rows) == len(o_rows)
    assert compare(s_cols, s_rows, o_cols, o_rows)["status"] == "match"

    # non-vacuity: the poisoned dimension really rendered as a "null"
    # token at position 0 and ONLY there (no positional shift)
    csv5 = next(r.centroid_csv for r in s_rows if r.label == 5)
    parts = csv5.split(",")
    assert len(parts) == 64
    assert parts[0] == "null"
    assert "null" not in parts[1:]


def test_null_text_yields_null_counts_not_crash(spark, adv_dir):
    """Python-boundary null doctrine: NULL text flows through the pandas
    kernels as NULL counts (SQL split/length semantics), and the UDTF
    chunker emits no rows for it."""
    mp = {
        r.doc_id: (r.n_tokens, r.n_chars_obs)
        for r in REGISTRY["q_map_in_pandas"].fn(spark, adv_dir).collect()
    }
    assert mp[11] == (None, None)
    assert mp[1] == (1, 3)
    chunks = REGISTRY["q_python_udtf"].fn(spark, adv_dir).collect()
    assert all(r.doc_id != 11 for r in chunks)


def test_zero_variance_streams_yield_null_not_crash(spark, adv_dir):
    """Statistical doctrine on degenerate streams: a constant stream has
    NULL correlation (both engines' SQL answer) and no z-score outliers;
    a single-row stream (stddev_samp NULL) is likewise excluded; the
    all-NULL-value stream smooths to NULL EWMA rows."""
    corr = {
        r.event_type: r.corr_value_user
        for r in REGISTRY["q_corr_stats"].fn(spark, adv_dir).collect()
    }
    assert corr["const"] is None          # zero variance -> NULL, not a crash
    assert corr["lonely"] is None         # n=1 -> NULL moments
    # pairwise-complete doctrine: the (NULL value, uid 100) row is NOT a
    # pair, so the two complete pairs (1,1),(2,2) correlate perfectly —
    # a per-column stddev would have read ~0.012 instead
    assert corr["partial"] == 1.0

    # metronome streams: constant hourly counts -> zero variance ->
    # NULL lead-lag correlation (F.corr would have raised under ANSI)
    lag = {
        r.lag_h: r.lag_corr
        for r in REGISTRY["q_leadlag_corr"].fn(spark, adv_dir).collect()
    }
    assert lag and lag[0] is None

    z = REGISTRY["q_anomaly_zscore"].fn(spark, adv_dir).collect()
    assert all(r.event_type not in ("const", "lonely") for r in z)

    ewma = {
        r.event_id: r.ewma
        for r in REGISTRY["q_ewma_smooth"].fn(spark, adv_dir).collect()
    }
    assert all(ewma[200 + i] is None for i in range(5))  # null stream
    assert ewma[100] == 7.7               # single real value = its own EWMA


def test_ewma_null_in_frame_and_subsecond_sessions(spark, adv_dir):
    """Permanent pins for the two r5 late-found divergences (commit
    0767e08), in the exact row shapes that triggered them — the sweep
    must now catch any regression of either fix.

    EWMA: frame values [1, 2, NULL, 4] — row-distance weighting
    (pandas ewm(ignore_na=False)) gives (4 + 2*.25 + 1*.125)/1.375 =
    3.363636; the pre-fix position-among-non-nulls plan gave 3.0.

    Sessionize: gaps of 1800.5 / 1799.5 / exactly 1800.0 seconds — only
    the first exceeds the strict >1800 s threshold, and only if the gap
    keeps its microseconds (unix_timestamp flooring read 1800 and
    merged)."""
    ewma = {
        r.event_id: r.ewma
        for r in REGISTRY["q_ewma_smooth"].fn(spark, adv_dir).collect()
        if r.event_type == "nullframe"
    }
    assert ewma[903] == 3.363636
    assert ewma[902] == 1.666667          # NULL observation row still smooths

    sess = sorted(
        (r.session_idx, r.n_events)
        for r in REGISTRY["q_sessionize"].fn(spark, adv_dir).collect()
        if r.user_id == 41
    )
    assert sess == [(1, 1), (2, 3)]


def test_overflow_and_bad_json_yield_null_not_crash(spark, adv_dir):
    """ANSI-tolerance doctrine: a value too large for DECIMAL(12,2)
    TRY_CASTs to NULL in q_casts; malformed props JSON parses to a NULL
    variant (NULL k) instead of aborting the scan."""
    casts = {
        int(r.id_str): r.value_dec
        for r in REGISTRY["q_casts"].fn(spark, adv_dir).collect()
    }
    assert casts[300] is None             # 1e12 overflows DECIMAL(12,2)
    assert casts[0] == 5.0                # in-range values quantize as before

    vj = {
        r.event_id: (r.k, r.no_such_path)
        for r in REGISTRY["q_variant_json"].fn(spark, adv_dir).collect()
    }
    assert vj[400] == (None, True)        # "not json"
    assert vj[401] == (None, True)        # empty string
    assert vj[402] == (None, True)        # NULL props
    assert vj[0] == (1, True)             # well-formed still extracts


def test_unrepresentable_sums_poison_to_null(spark, adv_dir):
    """dsum doctrine: a stream whose magnitudes exceed the DECIMAL(18,4)
    quantization bound yields NULL sums/averages — exactness is dsum's
    contract, and a silently-truncated partial sum would be worse than
    no answer. In-range streams keep their exact values; a global
    control total covering the offending rows goes NULL too."""
    ohlc = REGISTRY["q_ohlc_bars"].fn(spark, adv_dir).collect()
    huge = [r for r in ohlc if r.event_type == "huge"]
    assert huge and all(r.avg_value is None for r in huge)
    const = [r for r in ohlc if r.event_type == "const"]
    assert const and all(r.avg_value == 5.0 for r in const)
    # NaN and +/-Inf poison like an over-bound magnitude: exact-or-NULL
    nanv = [r for r in ohlc if r.event_type == "nanv"]
    assert nanv and all(r.avg_value is None for r in nanv)
    infv = [r for r in ohlc if r.event_type == "infv"]
    assert infv and all(r.avg_value is None for r in infv)

    prof = REGISTRY["q_dq_profile"].fn(spark, adv_dir).collect()[0]
    assert prof.sum_value is None         # control total unrepresentable
    assert prof.n_rows > 0                # ...but the profile itself ran


@pytest.mark.parametrize(
    "name", ["q_k_anonymity", "q_l_diversity", "q_t_closeness"]
)
def test_privacy_trio_value_band_parity_with_oracle(spark, adv_dir, name):
    """r7 ADVICE (high), pinned end-to-end on the fixture that fires it:
    the nanv/infv streams carry IEEE NaN and +/-Inf values, and the
    trio's shared value_band projection must read NULL for them in BOTH
    engines. Pre-fix, Spark's floor(double) coerced NaN to band 0 and
    +/-Inf to Long.MIN/MAX *before* try_cast could act (floor itself
    casts to long), silently merging corrupt rows into real equivalence
    classes while the DuckDB oracle NULLed them — a class-count and
    hash divergence the clean sf fixtures (NaN-free) never exercised.
    This differential check is what keeps the _value_band mask pinned."""
    import duckdb

    spec = REGISTRY[name]
    sdf = spec.fn(spark, adv_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{adv_dir}/events.parquet/*.parquet'"
        )
        res = con.execute(spec.oracle)
        o_cols = [d[0].lower() for d in res.description]
        o_rows = res.fetchall()
    finally:
        con.close()

    assert sorted(s_cols) == sorted(o_cols)
    assert compare(s_cols, s_rows, o_cols, o_rows)["status"] == "match"

    # non-vacuity: probe the projection directly on the nanv/infv rows —
    # every non-finite value reads a NULL band (its own class), every
    # finite co-stream value keeps its real band (NaN did NOT merge
    # into [0,10), the pre-fix Spark behavior)
    if name == "q_k_anonymity":
        import pyspark.sql.functions as F

        from bitcoinminingetl_spark.catalog import table as _table
        from bitcoinminingetl_spark.operators.text import _value_band

        got = (
            _table(spark, adv_dir, "events")
            .filter(F.col("event_type").isin("nanv", "infv"))
            .select("value", _value_band())
            .collect()
        )
        nonfinite = [
            r.value_band
            for r in got
            if r.value is not None
            and (r.value != r.value or abs(r.value) == float("inf"))
        ]
        assert nonfinite and all(b is None for b in nonfinite)
        finite = [
            r.value_band
            for r in got
            if r.value is not None
            and r.value == r.value
            and abs(r.value) != float("inf")
        ]
        assert finite and all(b == 0 for b in finite)


# Declared divergences for the FULL adversarial differential sweep
# below — every entry carries the reason it cannot (or should not)
# match, so an UNDECLARED divergence is always a regression. Three
# classes survive after the r8 sweep fixes (value_band-class floor
# coercions, NULLS FIRST/LAST window defaults, Java-Formatter null
# rendering, NaN order statistics, corrupt-vector phantom pairs, JSON
# strictness, TRY_CAST-NaN-DECIMAL oracle crashes — all FIXED, not
# declared):
ADV_DIFF_DECLARED = {
    # DuckDB's moment aggregates overflow their internal accumulator on
    # the 1e15-magnitude streams and RAISE; Spark computes them fine
    # (the guarded columns read exact-or-NULL). Oracle-engine limit.
    "q_anomaly_zscore": "DuckDB STDDEV_SAMP out-of-range on 1e15 magnitudes",
    "q_corr_stats": "DuckDB STDDEV_SAMP out-of-range on 1e15 magnitudes",
    "q_linreg_trend": "DuckDB VAR_POP out-of-range on 1e15 magnitudes",
    # approx_top_k keeps k sketch slots; the oracle is the full token
    # count relation. Exact only while |vocab| <= k — true on the sf
    # fixtures (the hash-checked case), not on the adversarial corpus's
    # 108-token vocabulary.
    "q_heavy_hitters": "top-k sketch vs full relation when |vocab| > k",
}

# Beyond the DECIMAL quantization bound the guarded rounders fall back
# to plain double arithmetic, whose summation ORDER differs between
# engines — last-ulp deltas (~1e-16 relative) at 1e12+ magnitudes that
# the canonicalizer's 9-dp ABSOLUTE rounding cannot absorb. The
# dsum-guarded columns in the same queries read NULL identically; only
# the declared unguarded legs wobble, and they must still agree to 12
# SIGNIFICANT digits — verified, not just allowlisted.
ADV_DIFF_TOLERANT = {
    "q_embed_quantize",  # beyond-bound vector's mse
    "q_ewma_smooth",     # 1e12 burst-stream smoothing
    "q_window_frame",    # 1e15-adjacent moving average
}


def _canon_sig(cols, rows):
    """compare's canonical rows with floats reduced to 12 significant
    digits — relative, not decimal-place, rounding, so a last-ulp delta
    at 1e12 magnitude canonicalizes away while any real divergence
    (>1e-12 relative) still fails."""

    def cell(v):
        c = canon(v)
        if isinstance(c, float):
            return float(f"{c:.12g}")
        if isinstance(c, tuple):
            return tuple(
                float(f"{x:.12g}") if isinstance(x, float) else x for x in c
            )
        return c

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(cell(r[i]) for i in idx) for r in rows]
    out.sort(key=repr)
    return out


def test_full_differential_sweep_on_adversarial_corpus(spark, adv_dir):
    """The r8 gate the r7 ADVICE showed was missing: the DuckDB oracle
    mirror only ever ran the CLEAN fixtures, so any divergence that
    needs a NaN, an Inf, a NULL text, or a corrupt vector to fire was
    invisible to every hash check. This sweep runs EVERY oracle-backed
    query differentially on the adversarial corpus and fails on any
    divergence not declared above with a reason. First run found 28:
    9 real Spark-side bugs (non-finite floor coercion, NULLS FIRST/LAST
    window defaults, Java Formatter rendering NULL as 'nu', NaN order
    statistics, a pandas kernel poisoning group means), 12 oracle-side
    gaps (TRY_CAST-NaN crashes, strict JSON, phantom corrupt-vector
    pairs), 3 sub-ulp residuals now VERIFIED to 12 significant digits
    (ADV_DIFF_TOLERANT), and the 4 declared engine-limit residuals."""
    con = duck_connect(adv_dir)
    try:
        undeclared = {}
        matched = 0
        for name, spec in sorted(REGISTRY.items()):
            if spec.oracle is None or name.startswith("q_streaming_"):
                continue
            try:
                sdf = spec.fn(spark, adv_dir)
                s_cols = [c.lower() for c in sdf.columns]
                s_rows = [tuple(r) for r in sdf.collect()]
                res = con.execute(spec.oracle)
                o_cols = [d[0].lower() for d in res.description]
                o_rows = res.fetchall()
                if sorted(s_cols) != sorted(o_cols):
                    verdict = "schema"
                elif len(s_rows) != len(o_rows):
                    verdict = f"rows {len(s_rows)} vs {len(o_rows)}"
                elif name in ADV_DIFF_TOLERANT:
                    # sub-ulp class: must agree to 12 significant digits
                    assert _canon_sig(s_cols, s_rows) == _canon_sig(
                        o_cols, o_rows
                    ), f"{name} diverges past the sub-ulp tolerance"
                    matched += 1
                    continue
                elif compare(s_cols, s_rows, o_cols, o_rows)["status"] != "match":
                    verdict = "values"
                else:
                    matched += 1
                    # a DECLARED divergence that now matches is stale —
                    # surface it so the allowlist cannot rot
                    assert name not in ADV_DIFF_DECLARED, (
                        f"{name} matches but is still declared divergent — "
                        "remove the stale allowlist entry"
                    )
                    continue
            except Exception as exc:  # noqa: BLE001 — oracle engine limits
                verdict = f"error {type(exc).__name__}: {str(exc)[:90]}"
            if name not in ADV_DIFF_DECLARED:
                undeclared[name] = verdict
    finally:
        con.close()

    assert not undeclared, (
        f"undeclared adversarial divergences ({matched} matched): {undeclared}"
    )
    assert matched >= 180  # the sweep really ran (not vacuously green)


def test_floor_long_cross_engine_on_huge_finite_doubles(spark):
    """The saturation class the 1e15-capped adversarial corpus never
    fires (r9 self-review finding 2): finite doubles at or past 2**63,
    probed through every divisor shape floor_long supports — including
    a divisor < 1, which GROWS the band past long range and diverged
    cross-engine when the guard bounded the raw value instead of the
    floor's actual input. Spark and DuckDB must agree cell-for-cell."""
    import duckdb

    from pyspark.sql import functions as F

    from bitcoinminingetl_spark.functions.numeric import (
        floor_long,
        floor_long_sql,
    )

    vals = [
        123.4,
        -987.6,
        5e18,                       # < 2**63 raw, > 2**63 when /0.5
        9.3e18,                     # > 2**63 raw
        -9.3e18,
        1e19,
        9.223372036854774784e18,    # largest double below 2**63
        float("nan"),
        float("inf"),
        float("-inf"),
        None,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, value double"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, "
            + (
                "NULL::DOUBLE"
                if v is None
                else f"'{v}'::DOUBLE"
                if v != v or v in (float("inf"), float("-inf"))
                else repr(v)
            )
            + ")"
            for i, v in enumerate(vals)
        )
        + ") x(id, value)"
    )
    # 1/3 and 1234567.89 need MORE than 6 significant digits: under the
    # old '%g' rendering the DuckDB literal silently truncated while
    # Spark's F.lit carried the full double (r9 ADVICE) — these two
    # divisors pin the repr() round-trip-exact fix cross-engine
    for div in (None, 10, 0.5, 1 / 3, 1234567.89):
        got = [
            r.band
            for r in df.select(
                "id", floor_long(F.col("value"), div).alias("band")
            )
            .orderBy("id")
            .collect()
        ]
        exp = [
            r[0]
            for r in con.execute(
                f"SELECT {floor_long_sql('value', div)} AS band "
                "FROM t ORDER BY id"
            ).fetchall()
        ]
        assert got == exp, f"divisor={div}: spark={got} duckdb={exp}"
