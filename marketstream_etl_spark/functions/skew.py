"""Skew-handling join helper: explicit key salting.

AQE's skew-join splitting (enabled in session.py) covers sort-merge joins
at runtime, but explicit salting is still the tool of choice when one key
dominates a shuffle *aggregation* or when the skewed side must hash-join.

`salted_join(left, right, key, n_salt)`: the big/skewed `left` gets a
deterministic salt derived from a unique column (so results are reproducible
run-to-run); the small-ish `right` is replicated n_salt times; the join key
becomes (key, salt) — a hot key now spreads over n_salt reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt_src: str,
    n_salt: int = 8,
) -> DataFrame:
    """Inner equi-join on `key` with the left side salted by hash(salt_src).

    `salt_src` must be a left column with high cardinality (e.g. the row's
    primary key) — NOT the join key, or every copy of a hot key would land
    on the same salt and nothing is gained.
    """
    salted_left = left.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salt)).cast("int")
    )
    replicated_right = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_left.join(replicated_right, [key, "_salt"])
    return out.drop("_salt")
