"""Bucketed managed tables — Spark's answer to the reference's composite
B-tree index (DatabaseLoader.cpp:117-125) for the JOIN side of the story.

Writing both fact tables bucketed (and sorted) by the join key means every
subsequent join on that key is CO-LOCATED: the sort-merge join reads bucket
i of each table on the same task with no Exchange and no per-query sort.
At 100 TB this converts the single largest shuffle in the workload (fact ⋈
fact on orderkey) into a scan-side property paid once at write time —
exactly the drop-index/bulk-load/rebuild trade the reference makes, but for
repeated reads.  test_layout asserts the join plan is exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.tables import load_table

N_BUCKETS = 8


def _clear_table(spark: SparkSession, table: str) -> None:
    """Drop catalog entry AND stale warehouse dir: the in-memory catalog is
    per-session, so a previous process can leave the location behind without
    a table entry, which saveAsTable(overwrite) refuses to reuse."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)


def write_bucketed(df: DataFrame, table: str, key: str) -> None:
    """Persist as a managed table bucketed AND sorted by the join key: the
    per-bucket sort order makes later sort-merge joins skip their sort."""
    _clear_table(df.sparkSession, table)
    (
        df.write.mode("overwrite")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def ensure_bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + lineitem bucketed by orderkey — once.  Table names are
    keyed to the source dir (stable md5, not the per-process str hash), so
    repeat calls within a session find the catalog entry and skip the
    rewrite: the bucketing cost really is paid at write time only."""
    from marketstream_etl_spark.sources.tables import source_key

    sfx = source_key(sf_dir)
    o_tbl, l_tbl = f"bkt_orders_{sfx}", f"bkt_lineitem_{sfx}"
    if not (
        spark.catalog.tableExists(o_tbl) and spark.catalog.tableExists(l_tbl)
    ):
        write_bucketed(
            load_table(spark, sf_dir, "orders"), o_tbl, "o_orderkey"
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"), l_tbl, "l_orderkey"
        )
    return o_tbl, l_tbl


def bucketed_join(spark: SparkSession, o_tbl: str, l_tbl: str) -> DataFrame:
    """The co-located fact ⋈ fact join itself.  The merge hint pins
    sort-merge (a broadcast would also be shuffle-free on toy data but
    wouldn't exercise bucket co-location — and can't exist at 100 TB)."""
    o = spark.table(o_tbl)
    l = spark.table(l_tbl)
    return o.hint("merge").join(
        l, o["o_orderkey"] == l["l_orderkey"], "inner"
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: order-priority revenue over the co-located join."""
    o_tbl, l_tbl = ensure_bucketed_pair(spark, sf_dir)
    joined = bucketed_join(spark, o_tbl, l_tbl)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


BUCKETED_JOIN_SQL = """
            SELECT o_orderpriority, count(*) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
register("bucketed_join", q_bucketed_join, BUCKETED_JOIN_SQL)
