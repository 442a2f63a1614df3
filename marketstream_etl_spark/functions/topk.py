"""Exact top-k rows per key.

Spark plans `row_number() <= k` over a key partition as a `WindowGroupLimit`,
Partial in each map task and Final after the exchange, for any `k` below
`spark.sql.optimizer.windowGroupLimitThreshold` (1000); every `k` in this
package is 50 or less.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_key(
    df: DataFrame, key: str, order_by: list[Column], k: int
) -> DataFrame:
    """The first `k` rows per `key` in `order_by` order, numbered 1..k in a
    `rank` column.  Include a unique tie-break column (e.g. the item id) in
    `order_by` for a deterministic result."""
    w = Window.partitionBy(key).orderBy(*order_by)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
