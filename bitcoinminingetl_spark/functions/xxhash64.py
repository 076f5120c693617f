"""Reference port of Spark's XXH64 (``F.xxhash64``) for the DuckDB oracles.

Spark's ``xxhash64(c1, c2, ...)`` starts from seed 42 and hashes each
argument in turn, seeded by the hash so far; a NULL argument leaves the
hash unchanged. The hash of one argument depends on its type: a long goes
through ``hash_long``, an int through ``hash_int`` and a string through
the XXH64 of its UTF-8 bytes (``hash_strings``). So
``F.xxhash64(F.col("h"), F.lit(7))`` is ``hash_int(7, hash_long(h, 42))``:
the int literal is the value hashed, seeded by the long.

The long and int lanes are fixed-width and run as numpy uint64 arithmetic,
which wraps like Java's long. Strings need a per-row loop over their bytes.
Results are signed int64, as Spark returns them.

``register`` adds one DuckDB scalar function per lane, named
``UDF_PREFIX`` + ``_string``/``_long``/``_int``. Each takes (value, seed),
so SQL chains them the way Spark chains arguments. A DuckDB connection
without them cannot bind an oracle that calls them, which is why
``__spark_entry__.oracle_sql`` withholds such oracles from the external
driver.
"""

from __future__ import annotations

import numpy as np

SEED = 42
UDF_PREFIX = "spark_xxhash64"

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_U = {p: np.uint64(p) for p in (_P1, _P2, _P3, _P4, _P5)}


def _rotl(x, r: int):
    """64-bit rotate left of a Python int or a numpy uint64 array."""
    if isinstance(x, int):
        return ((x << r) | (x >> (64 - r))) & _M
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h):
    for shift, prime in ((33, _P2), (29, _P3)):
        h = h ^ (h >> np.uint64(shift))
        h = h * _U[prime]
    return h ^ (h >> np.uint64(32))


def _u64(x) -> np.ndarray:
    """int64 values (scalar or array) as their two's-complement uint64."""
    return np.atleast_1d(np.asarray(x, dtype=np.int64)).view(np.uint64)


def hash_long(v, seed=SEED) -> np.ndarray:
    """Spark's XXH64.hashLong over int64 values and seeds (broadcast)."""
    v, seed = _u64(v), _u64(seed)
    h = seed + _U[_P5] + np.uint64(8)
    h = h ^ (_rotl(v * _U[_P2], 31) * _U[_P1])
    h = _rotl(h, 27) * _U[_P1] + _U[_P4]
    return _fmix(h).view(np.int64)


def hash_int(v, seed=SEED) -> np.ndarray:
    """Spark's XXH64.hashInt over int32 values and int64 seeds."""
    v = _u64(v) & np.uint64(0xFFFFFFFF)
    h = _u64(seed) + _U[_P5] + np.uint64(4)
    h = h ^ (v * _U[_P1])
    h = _rotl(h, 23) * _U[_P2] + _U[_P3]
    return _fmix(h).view(np.int64)


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _unmixed(b: bytes, seed: int) -> int:
    """XXH64 of ``b`` up to, not including, the final avalanche."""
    n, i = len(b), 0

    def word(at: int, width: int) -> int:
        return int.from_bytes(b[at : at + width], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i <= n - 32:
            v = [_round(v[j], word(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = sum(_rotl(x, r) for x, r in zip(v, (1, 7, 12, 18))) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, word(i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((word(i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((b[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return h


def hash_strings(values, seed=SEED) -> np.ndarray:
    """Spark's XXH64.hashUnsafeBytes over the UTF-8 bytes of each string,
    with int64 seeds (broadcast). Only the avalanche is vectorized."""
    seeds = np.broadcast_to(_u64(seed), (len(values),))
    h = np.array(
        [_unmixed(s.encode("utf-8"), int(x)) for s, x in zip(values, seeds)],
        dtype=np.uint64,
    )
    return _fmix(h).view(np.int64)


def register(con) -> None:
    """Register the three lanes on a DuckDB connection. NULL values hash
    to their seed, as Spark skips NULL arguments."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from duckdb.typing import BIGINT, INTEGER, VARCHAR

    def lane(fn, fill):
        def call(values, seeds):
            seeds = seeds.to_numpy()
            out = fn(pc.fill_null(values, fill).to_numpy(zero_copy_only=False), seeds)
            is_null = values.is_null().to_numpy(zero_copy_only=False)
            return pa.array(np.where(is_null, seeds, out))

        return call

    for suffix, fn, fill, typ in (
        ("string", hash_strings, "", VARCHAR),
        ("long", hash_long, 0, BIGINT),
        ("int", hash_int, 0, INTEGER),
    ):
        con.create_function(
            f"{UDF_PREFIX}_{suffix}",
            lane(fn, fill),
            [typ, BIGINT],
            BIGINT,
            type="arrow",
            null_handling="special",
        )
