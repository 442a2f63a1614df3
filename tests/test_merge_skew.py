"""MERGE/upsert/SCD2 and salted-join semantics."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.skew import salted_join
from marketstream_etl_spark.operators.merge import merge_upsert, scd2_apply


def test_merge_upsert_source_wins(spark):
    target = spark.createDataFrame(
        [Row(k=1, v="old1"), Row(k=2, v="old2"), Row(k=3, v="old3")]
    )
    source = spark.createDataFrame([Row(k=2, v="new2"), Row(k=4, v="new4")])
    got = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {1: "old1", 2: "new2", 3: "old3", 4: "new4"}


def test_scd2_versions(spark):
    dim = spark.createDataFrame(
        [
            Row(k=1, attr="a", valid_from=100, valid_to=None),
            Row(k=2, attr="b", valid_from=100, valid_to=None),
            Row(k=3, attr="c", valid_from=50, valid_to=100),  # closed history
            Row(k=3, attr="c2", valid_from=100, valid_to=None),
        ]
    )
    changes = spark.createDataFrame(
        [Row(k=1, attr="a9"), Row(k=2, attr="b")]  # k=1 changed, k=2 same
    )
    out = scd2_apply(dim, changes, "k", ["attr"], version_ts=200)
    rows = sorted(
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in out.collect()
    )
    assert rows == [
        (1, "a", 100, 200),     # closed
        (1, "a9", 200, None),   # new version
        (2, "b", 100, None),    # unchanged current
        (3, "c", 50, 100),      # history untouched
        (3, "c2", 100, None),
    ]


def test_salted_join_matches_plain_join_on_skewed_data(spark):
    # one hot key (90%) + long tail
    left = spark.range(2000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100)
        .alias("k"),
    )
    right = spark.createDataFrame([Row(k=i, label=f"dim{i}") for i in range(100)])
    plain = left.join(right, "k").select("row_id", "k", "label")
    salted = salted_join(left, right, "k", salt_src="row_id", n_salt=8).select(
        "row_id", "k", "label"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # hot key actually spread across salts
    spread = (
        left.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8))
        )
        .filter(F.col("k") == 7)
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread == 8
