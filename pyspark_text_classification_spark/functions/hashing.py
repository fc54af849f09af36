"""Deterministic, cross-engine hashing primitives.

Spark's built-in ``hash()`` is Murmur3-x86-32(seed=42) and DuckDB's
``hash()`` is a different 64-bit hash, so neither can anchor an
oracle-checked MinHash/SimHash/fingerprint pipeline. Instead the engine
uses a polynomial rolling hash over codepoints,

    h(s) = fold(c in s) (31 * acc + codepoint(c)) mod (2^31 - 1)

which both engines evaluate with exact 64-bit integer arithmetic:
Spark  : aggregate(transform(split(s,''), ascii), 0L, (a,c) -> (31a+c)%p)
DuckDB : list_reduce(list_prepend(0, list_transform(string_split(s,''),
         c -> unicode(c))), (a,c) -> (31a+c)%p)

All intermediate values stay < 2^62, so no overflow under ANSI mode.
The MinHash permutation family is the standard (a*h + b) mod p with
p = 2^31 - 1 prime and (a, b) drawn once from a fixed seed and embedded
as literals, so Spark, DuckDB, and any future engine agree bit-for-bit.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 2_147_483_647  # 2^31 - 1, prime
HASH_MULT = 31

# MinHash permutation family: 32 perms -> 8 bands x 4 rows (classic LSH
# banding for Jaccard ~>= 0.6 candidate recall). Fixed seed; literal
# constants shared by the Spark plan and the DuckDB oracle.
NUM_PERMUTATIONS = 32
BAND_ROWS = 4
_rng = random.Random(20260813)
MINHASH_PERMS: list[tuple[int, int, int]] = [
    (i, _rng.randrange(1, HASH_MOD), _rng.randrange(0, HASH_MOD))
    for i in range(NUM_PERMUTATIONS)
]

SIMHASH_BITS = 32


def _poly_hash_sql(operand: str) -> str:
    return (
        f"aggregate(transform(filter(split({operand}, ''), ch -> ch != ''), "
        f"ch -> ascii(ch)), CAST(0 AS BIGINT), "
        f"(acc, code) -> (acc * {HASH_MULT} + code) % {HASH_MOD})"
    )


def char_poly_hash(col: Column | str) -> Column:
    """Polynomial rolling hash of a string column (long in [0, 2^31-1)).

    Column-name inputs go through ONE parsed SQL expression — building the
    filter/transform/aggregate lambdas as Column objects costs ~10 Py4J
    round-trips per call site, which adds up to whole seconds of driver
    time in queries that hash several derived columns.
    """
    if isinstance(col, str):
        return F.expr(_poly_hash_sql(col))
    chars = F.filter(F.split(col, ""), lambda ch: ch != "")
    codes = F.transform(chars, F.ascii)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, code: (acc * HASH_MULT + code) % HASH_MOD,
    )


def sql_char_poly_hash(expr: str) -> str:
    """DuckDB twin of :func:`char_poly_hash`.

    Empty fragments are filtered before ``unicode()`` exactly as the Spark
    side filters them: DuckDB's ``string_split('', '')`` yields [''] and
    ``unicode('')`` is -1, which would hash the empty string to -1 while
    Spark folds it to 0 (found by the cross-engine property test).
    """
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split({expr}, ''), c -> c != ''), "
        f"c -> CAST(unicode(c) AS BIGINT))), "
        f"(acc, c) -> (acc * {HASH_MULT} + c) % {HASH_MOD})"
    )


# Combining multiplier for token-hash shingles: shingle hash = left fold
# (acc * SHINGLE_MULT + token_hash) mod HASH_MOD over k consecutive token
# hashes. acc < 2^31 and SHINGLE_MULT < 2^20, so acc * mult + h < 2^52 —
# exact under ANSI 64-bit arithmetic in both engines.
SHINGLE_MULT = 1_000_003


def _shingle_fold_sql(arr: str) -> str:
    return (
        f"aggregate({arr}, CAST(0 AS BIGINT), "
        f"(acc, h) -> (acc * {SHINGLE_MULT} + h) % {HASH_MOD})"
    )


def token_shingle_hashes_sql(th: str, k: int = 2) -> str:
    """Spark SQL: k-shingle hashes from an ``array<long>`` of token hashes.

    Each token is char-hashed ONCE upstream; a shingle's hash is a
    polynomial fold over its k token hashes — O(total chars + k x
    positions) instead of the string-shingle path's O(k x total chars)
    (every char re-folded k times through array_join + char hashing).
    Documents shorter than k tokens fold their whole hash sequence, so
    every document still contributes >= 1 shingle. k=2 (the common case)
    skips the per-position aggregate for a single zip_with pass.
    """
    if k == 2:
        grams = (
            f"zip_with(slice({th}, 1, size({th}) - 1), "
            f"slice({th}, 2, size({th}) - 1), "
            f"(x, y) -> (x * {SHINGLE_MULT} + y) % {HASH_MOD})"
        )
    else:
        grams = (
            f"transform(sequence(1, size({th}) - {k - 1}), "
            f"i -> {_shingle_fold_sql(f'slice({th}, i, {k})')})"
        )
    return (
        f"CASE WHEN size({th}) < {k} THEN array({_shingle_fold_sql(th)}) "
        f"ELSE {grams} END"
    )


def sql_token_shingle_hashes(th: str, k: int = 2) -> str:
    """DuckDB twin of :func:`token_shingle_hashes_sql` (1-indexed slices)."""

    def fold(arr: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), "
            f"(acc, h) -> (acc * {SHINGLE_MULT} + h) % {HASH_MOD})"
        )

    return (
        f"CASE WHEN length({th}) < {k} THEN [{fold(th)}] "
        f"ELSE list_transform(range(1, length({th}) - {k - 1} + 1), "
        f"i -> {fold(f'list_slice({th}, i, i + {k - 1})')}) END"
    )


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """Word k-shingles of a token array, as space-joined strings (WITH
    positional duplicates — callers needing set semantics dedupe on the
    hash downstream, where it is one pass of a hash aggregate instead of
    ``array_distinct``'s O(len²) per-document string comparisons, which
    measured 5x slower at sf0.1).

    Documents shorter than k tokens contribute their whole token sequence
    as a single shingle so every non-empty document has >= 1 shingle.
    """
    whole = F.array(F.array_join(tokens, " "))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
    return F.when(F.size(tokens) < k, whole).otherwise(grams)

