"""Data-layout plan properties: partition pruning and bucketed
(shuffle-free) joins — the composite-index analog, proven in the plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from marketstream_etl_spark.sources.bucketed import write_bucketed
from marketstream_etl_spark.sources.generator import generate_trades
from tests.test_plans import plan_of


def test_bucketed_join_is_shuffle_free(spark):
    li = generate_trades(spark, 4000).select("trade_id", "symbol", "price")
    orders = generate_trades(spark, 1000).select(
        F.col("trade_id"), F.col("volume")
    )
    try:
        write_bucketed(li, "b_trades", "trade_id")
        write_bucketed(orders, "b_orders", "trade_id")
        joined = spark.table("b_trades").join(
            spark.table("b_orders").hint("merge"), "trade_id"
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        # co-located buckets: no exchange on either side
        assert "Exchange hashpartitioning(trade_id" not in plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS b_trades")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Both sides bucket-sorted by the join key → the sort-merge join plan
    has no Exchange (and no per-side Sort): co-location is a table property,
    not a per-query shuffle."""
    from marketstream_etl_spark.sources.bucketed import (
        bucketed_join,
        ensure_bucketed_pair,
        q_bucketed_join,
    )

    o_tbl, l_tbl = ensure_bucketed_pair(spark, sf_dir)
    joined = bucketed_join(spark, o_tbl, l_tbl)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "ShuffleExchange" not in plan

    # and the full driver query agrees with a plain (shuffled) join
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.tables import load_table

    got = {
        r["o_orderpriority"]: (r["n_items"], r["revenue"])
        for r in q_bucketed_join(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    want = {
        r["o_orderpriority"]: (r["n"], r["rev"])
        for r in o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("rev"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_managed_partitioned_table_prunes_to_one_directory(spark):
    """sources/partitioned.py: the l_returnflag predicate must resolve to a
    PartitionFilter and the scan must touch ONLY that partition's files."""
    from marketstream_etl_spark.sources.partitioned import (
        ensure_partitioned_lineitem,
        pruned_scan,
    )

    tbl = ensure_partitioned_lineitem(spark, "/root/testdata/sf0.001")
    df = pruned_scan(spark, tbl, "R")
    plan = plan_of(df)
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "l_returnflag" in pf
    files = df.inputFiles()
    assert files and all("l_returnflag=R" in f for f in files)
    # pruning must not change the answer
    flat = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    assert df.count() == flat.filter(F.col("l_returnflag") == "R").count()


def test_grouping_sets_single_scan(spark):
    """q_grouping_sets: one Expand + one aggregate pass, not three scans."""
    from marketstream_etl_spark.plans.advanced import q_grouping_sets

    plan = plan_of(q_grouping_sets(spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    # one file index == one scan (the node name appears twice: tree + detail)
    assert plan.count("Location: InMemoryFileIndex") == 1
