"""`top_k_per_key` against a pure-Python reference on tie-heavy data, and
its exchange: Spark limits each map task to k rows per key before the
shuffle, so the shuffle carries k × keys × map tasks rows at any input
size."""

from __future__ import annotations

from collections import defaultdict

from conftest import shuffle_write
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.topk import top_k_per_key

N_KEYS = 7
K = 10
N_MAPS = 4


def _scored(spark, n: int):
    """n rows over N_KEYS keys in N_MAPS range partitions of the item id,
    so every map task holds every key; scores repeat every 50 items."""
    return spark.range(0, n, 1, N_MAPS).select(
        (F.col("id") % N_KEYS).alias("key"),
        F.col("id").alias("item"),
        (F.col("id") % 50).cast("double").alias("score"),
    )


def test_topk_matches_python_reference(spark):
    df = _scored(spark, 5000)
    got = top_k_per_key(df, "key", [F.desc("score"), F.col("item")], K)
    by_key = defaultdict(list)
    for r in df.collect():
        by_key[r.key].append((-r.score, r.item))
    want = sorted(
        (key, item, rank)
        for key, rows in by_key.items()
        for rank, (_, item) in enumerate(sorted(rows)[:K], start=1)
    )
    assert sorted(
        map(tuple, got.select("key", "item", "rank").collect())
    ) == want


def test_topk_with_k_larger_than_group(spark):
    df = spark.range(5).select(
        F.lit(1).alias("key"), F.col("id").alias("item"),
        F.col("id").cast("double").alias("score"),
    )
    out = top_k_per_key(df, "key", [F.desc("score"), F.col("item")], k=10)
    assert out.count() == 5


def test_topk_limits_each_map_task_before_the_exchange(spark):
    """At 50K and 200K rows the shuffle writes k rows per (map task, key):
    the executed plan has a Partial WindowGroupLimit below the Exchange."""
    for n in (50_000, 200_000):
        out = top_k_per_key(
            _scored(spark, n), "key", [F.desc("score"), F.col("item")], K
        )
        records, _ = shuffle_write(spark, out.collect)
        assert records == K * N_KEYS * N_MAPS, (n, records)
    plan = out._jdf.queryExecution().executedPlan().toString().splitlines()

    def first(*words: str) -> int:
        return next(i for i, line in enumerate(plan) if all(w in line for w in words))

    # a child prints below its parent: the limit runs before the exchange
    assert first("Exchange hashpartitioning(key") < first(
        "WindowGroupLimit", "Partial"
    ), "\n".join(plan)
