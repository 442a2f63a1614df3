"""Two-phase distributed top-k per key.

A plain `row_number() OVER (PARTITION BY key ORDER BY score)` shuffles every
scored row to one reducer per key — with few keys (e.g. 8 ANN queries) that
serializes the whole dataset through a handful of tasks.  The two-phase
shape bounds every task:

  phase 1: top-k within (key, salt) — salt = hash(item) % n_salt spreads
           each key over n_salt reducers; output ≤ k·n_salt rows per key
  phase 2: top-k over the survivors — tiny input, exact result

Identical results to the single-window form (same ordering + tie-break), at
~n_salt× the phase-1 parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_key(
    df: DataFrame,
    key: str,
    order_by: list[Column],
    k: int,
    salt_src: str,
    n_salt: int = 32,
) -> DataFrame:
    """Exact top-k rows per `key` ordered by `order_by` (include a unique
    tie-break column, e.g. the item id, for determinism). `salt_src` must be
    a high-cardinality column (the item id)."""
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salt))
    )
    w1 = Window.partitionBy(key, "_salt").orderBy(*order_by)
    survivors = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(key).orderBy(*order_by)
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def top_k_per_key_bounded(
    df: DataFrame,
    key: str,
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """Single-window top-k for inputs whose per-key row count is BOUNDED
    BY CONSTRUCTION (e.g. RRF fusion of two lists capped at k_each rows
    per system: ≤ 2·k_each rows per key at ANY corpus size).  There the
    salted two-phase shape buys nothing — no reducer can receive more
    than the cap — and costs one extra Exchange + sort pass.  Identical
    results to top_k_per_key (same ordering + tie-break).  Callers whose
    per-key cardinality scales with the data MUST keep the salted form."""
    w = Window.partitionBy(key).orderBy(*order_by)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
