"""Deterministic cross-engine hashing primitives for the
training-data operators (dedup / fingerprint / LSH families).

Everything the DuckDB correctness oracle re-computes must be
bit-identical on both engines, so every hash here is defined over
md5 (identical everywhere) instead of engine-native hash functions
(Spark's ``hash()`` is Murmur3-32 with Spark's seeding; DuckDB's
``hash()`` is a different 64-bit hash — never comparable).

The shared constants (MinHash permutations, SimHash width, random
hyperplanes) are minted once at import time from a seeded
``random.Random`` — Python's Mersenne Twister is specified and
platform-stable, so Spark expressions and generated oracle SQL see
the same literals.

One rule for every primitive that has a SQL-text form: ``*_sexpr`` is
its Spark definition, ``*_sql`` is the independent DuckDB oracle text,
and the Column function of the same name is ``F.expr`` over the former
(one expression costs 3 py4j round trips to build, whatever its size).

Scale notes: all of these are pure column expressions — JVM-side,
whole-stage-codegen'd, no Python UDFs, no shuffle by themselves.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 64-bit-safe modulus for MinHash permutations and rolling hashes.
#: a*(h%P)+b stays < 1e9 * (1e9+7) + 1e9 < 2^63 — no overflow in
#: either engine's checked BIGINT arithmetic.
POLY_MOD = 1_000_000_007

_rng = random.Random(42)

#: MinHash permutation family h_j(x) = (a_j * x + b_j) mod P.
#: 16 permutations = 2 bands x 8 rows: band-collision probability at
#: Jaccard .8 is 1-(1-.8^8)^2 ~ .31, at .95 ~ .85 — tuned for the
#: near-dup (not merely-similar) regime.
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, POLY_MOD), _rng.randrange(0, POLY_MOD)) for _ in range(16)
]
LSH_BANDS = 2
LSH_ROWS = 8  # LSH_BANDS * LSH_ROWS == len(MINHASH_PERMS)

SIMHASH_BITS = 32

#: Random hyperplanes for sign-LSH over 64-dim embeddings: 8 planes
#: -> 8-bit bucket ids (256 buckets). Literal float64 components are
#: embedded in both the Spark plan and the oracle SQL text.
N_HYPERPLANES = 8
EMBEDDING_DIM = 64
HYPERPLANES: list[list[float]] = [
    [_rng.uniform(-1.0, 1.0) for _ in range(EMBEDDING_DIM)]
    for _ in range(N_HYPERPLANES)
]

#: MULTI-TABLE sign-LSH: L independent hyperplane sets. A true
#: neighbor missed by one table's 8-bit bucket gets L-1 more chances
#: (P(miss all) = (1-p)^L) — the standard recall lever when one
#: table's bucket agreement is too strict (the repo's measured case:
#: recall_at_k showed single-table ~0.01 on near-uniform embeddings).
#: Table 0 IS the single-table family above, and the extra tables are
#: drawn strictly AFTER every other constant so existing oracle
#: literals never change.
N_LSH_TABLES = 4
HYPERPLANE_TABLES: list[list[list[float]]] = [HYPERPLANES] + [
    [
        [_rng.uniform(-1.0, 1.0) for _ in range(EMBEDDING_DIM)]
        for _ in range(N_HYPERPLANES)
    ]
    for _ in range(N_LSH_TABLES - 1)
]

def shl1(nbits: Column) -> Column:
    """``1L << nbits`` with a COLUMN shift amount (the PySpark
    ``shiftleft`` wrapper only accepts a literal int). Oracle twin:
    ``1::BIGINT << expr`` (DuckDB shifts by columns natively)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), nbits.cast("int"))


def md5_long_sexpr(expr: str) -> str:
    """String -> 60-bit positive int64 via the first 15 hex chars of
    md5."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def md5_long_sql(expr: str) -> str:
    """DuckDB text twin of :func:`md5_long`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def md5_long(expr: str) -> Column:
    return F.expr(md5_long_sexpr(expr))


def minhash_sig_sexpr(hashes_expr: str, a: int, b: int) -> str:
    """One MinHash signature value: min over the shingle-hash array of
    the permuted hash (a*(h%P)+b)%P."""
    return (
        f"array_min(transform({hashes_expr}, "
        f"h -> ({a} * (h % {POLY_MOD}) + {b}) % {POLY_MOD}))"
    )


def minhash_sig_sql(hashes_expr: str, a: int, b: int) -> str:
    """DuckDB text twin of :func:`minhash_sig`."""
    return (
        f"list_min(list_transform({hashes_expr}, "
        f"h -> ({a} * (h % {POLY_MOD}) + {b}) % {POLY_MOD}))"
    )


def minhash_sig(hashes_expr: str, a: int, b: int) -> Column:
    return F.expr(minhash_sig_sexpr(hashes_expr, a, b))


def fold_sum(arr: Column, zero: Column) -> Column:
    """Sequential left fold sum — order-deterministic, so float sums
    are bit-identical to DuckDB's ``list_reduce(list_prepend(0,l))``
    (0.0 + x == x in IEEE754, so the extra seed element is exact)."""
    return F.aggregate(arr, zero, lambda acc, x: acc + x)


def fold_sum_sql(arr_expr: str, zero: str = "0.0::DOUBLE") -> str:
    """DuckDB text twin of :func:`fold_sum`."""
    return f"list_reduce(list_prepend({zero}, {arr_expr}), (a, b) -> a + b)"


def rolling_fingerprint(hashes: Column) -> Column:
    """Polynomial rolling hash over a token-hash array:
    acc = (acc*31 + h%P) % P — the document-fingerprint primitive.
    acc < P and 31*P + P < 2^63, so no overflow on either engine."""
    p = F.lit(POLY_MOD)
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(31) + (h % p)) % p,
    )


def rolling_fingerprint_sql(hashes_expr: str) -> str:
    """DuckDB text twin of :func:`rolling_fingerprint`."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, {hashes_expr}), "
        f"(acc, h) -> (acc * 31 + (h % {POLY_MOD})) % {POLY_MOD})"
    )


def hash_bucket_sexpr(expr: str, n_buckets: int, salt: str = "split") -> str:
    """Deterministic content-hash bucket in [0, n_buckets): the
    primitive for reproducible train/val/test splits and hash-based
    sampling. Unlike ``rand()`` / ``TABLESAMPLE``, the assignment is a
    pure function of the key, so it survives task retries, re-runs,
    and repartitioning — the same properties that forced sha2
    surrogate ids over uuid4 (SURVEY §7). The salt decorrelates
    independent splits over the same keys."""
    lit = salt.replace("\\", "\\\\").replace("'", "\\'")
    keyed = f"concat('{lit}|', CAST({expr} AS STRING))"
    return f"{md5_long_sexpr(keyed)} % {n_buckets}"


def hash_bucket_sql(expr: str, n_buckets: int, salt: str = "split") -> str:
    """DuckDB text twin of :func:`hash_bucket`."""
    keyed = f"'{salt}|' || ({expr})::VARCHAR"
    return f"{md5_long_sql(keyed)} % {n_buckets}"


def hash_bucket(expr: str, n_buckets: int, salt: str = "split") -> Column:
    return F.expr(hash_bucket_sexpr(expr, n_buckets, salt))
