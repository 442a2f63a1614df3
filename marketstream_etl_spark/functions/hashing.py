"""Deterministic cross-engine hashing & tokenization primitives.

Every dedup/similarity operator needs hash values that the DuckDB oracle can
reproduce bit-for-bit.  Spark's `hash()`/`xxhash64()` and DuckDB's `hash()`
are different algorithms, so we standardize on md5 (identical hex output in
both) and parse a prefix as an integer:

  h32: first 8 md5 hex chars  → [0, 2^32)   (safe multiplicand)
  h60: first 15 md5 hex chars → [0, 2^60)   (fingerprint-grade)

MinHash permutations use (a*h32 + b) mod P with a < 2^30, b < P, P = 2^61-1,
keeping every intermediate < 2^63 — Spark 4 runs in ANSI mode where int64
overflow THROWS, so staying in range is correctness, not a nicety.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = (1 << 61) - 1  # prime modulus for minhash permutations
MINHASH_SEED = 42  # start of the (a, b) generator sequence


def h32(col: Column) -> Column:
    """First 32 bits of md5 as a non-negative long (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative long (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """DuckDB fragment mirroring h32()."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def h60_sql(expr: str) -> str:
    """DuckDB fragment mirroring h60()."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the minhash permutation family.

    Generated from a fixed linear-congruential sequence (NOT Python's
    `random`, so the list is reproducible from the constants alone and can
    be inlined into oracle SQL).
    """
    params = []
    x = MINHASH_SEED
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % ((1 << 30) - 1)) + 1  # 1 <= a < 2^30
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE_P
        params.append((a, b))
    return params


# --- shared tokenization (Spark side) --------------------------------------

TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Lowercased alnum tokens, empties removed."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda x: x != ""
    )


def shingles(toks: str, k: int = 3) -> Column:
    """Word k-grams of the token-array column named `toks`, joined by single
    spaces; empty array when < k tokens.

    Takes a column NAME, not an expression: the lambda reads the array once
    per shingle position, so an inline ``tokens(...)`` would re-run the
    whole lower → split → filter chain per position (O(n²) per document).
    Bind the tokens to a column in an earlier ``select`` first."""
    toks = F.col(toks)
    return F.when(F.size(toks) < k, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )


# --- shared tokenization (DuckDB side) --------------------------------------

def tokens_sql(text_expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({text_expr}), "
        f"'{TOKEN_SPLIT_RE}'), x -> x <> '')"
    )


def shingles_sql(toks_expr: str, k: int = 3) -> str:
    return (
        f"CASE WHEN len({toks_expr}) < {k} THEN [] "
        f"ELSE [array_to_string(({toks_expr})[i+1:i+{k}], ' ') "
        f"for i in range(0, len({toks_expr}) - {k - 1})] END"
    )
