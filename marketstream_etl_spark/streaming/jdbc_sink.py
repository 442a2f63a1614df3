"""Streaming → relational dual sink: foreachBatch lands every micro-batch in
BOTH a trades table and a per-symbol counts table over JDBC.

This is the streaming-side composition of the reference's two persistence
paths — the bulk trade load (DatabaseLoader.cpp:187-269) and the append-only
indicator/count log (:296-341) — driven by one epoch loop instead of two
threads.  foreachBatch is the Spark-idiomatic place for multi-sink epochs:
the batch DataFrame is persisted once, written twice, and both writes share
the epoch id so a retried epoch is visible (at-least-once per sink; the
readback aggregation double-counts nothing here because availableNow replay
on a fresh checkpoint is single-shot).

A foreachBatch epoch is an ordinary batch write, so both tables are written
by the batch writer, `sources.sinks.write_jdbc_bulk`, into embedded Derby.
On a cluster the url/properties swap for PostgreSQL and each batch partition
holds one connection, exactly the reference's N-parallel-COPY shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.plans.trades_view import TRADES_CTE, VALID_WHERE
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.sinks import (
    DERBY_DRIVER,
    derby_url,
    drop_if_exists,
    read_jdbc,
    write_jdbc_bulk,
)
from marketstream_etl_spark.sources.tables import sink_name
from marketstream_etl_spark.streaming.replay import run_bounded


def file_stream_jdbc_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry: replay the valid trades through the JDBC dual sink,
    then aggregate the RELATIONAL READBACK per symbol.  `n_trades` comes from
    the row-level trades table and `n_from_counts` from the per-epoch counts
    table — the oracle (a plain GROUP BY over valid trades) confirms both
    sinks landed every row exactly once, end-to-end across the JDBC boundary.
    """
    from marketstream_etl_spark.streaming.replay import valid_trades_stream

    url = derby_url(sink_name("stream_sink", sf_dir))
    trades_table, counts_table = "stream_trades", "stream_symbol_counts"
    props = {"driver": DERBY_DRIVER}
    drop_if_exists(spark, url, [trades_table, counts_table])

    def dual_sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            write_jdbc_bulk(batch_df, url, trades_table, props, truncate=False)
            counts = (
                batch_df.groupBy("symbol")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("volume").alias("vol"),
                )
                .withColumn("epoch", F.lit(epoch_id))
            )
            # the per-epoch log holds one row per symbol: one connection
            write_jdbc_bulk(
                counts, url, counts_table, props, num_streams=1, truncate=False
            )
        finally:
            batch_df.unpersist()

    valid = valid_trades_stream(spark, sf_dir)
    run_bounded(
        valid.select("trade_id", "symbol", "price", "volume")
        .writeStream.foreachBatch(dual_sink)
    )

    # Retry-proof readback: a JDBC append has no global transaction, so a
    # transiently-failed partition task can re-append committed rows.  The
    # stored keys make replays idempotent to read: trade_id dedups the row
    # table, (symbol, epoch) dedups the per-epoch counts (a retried epoch
    # writes identical rows).
    landed = read_jdbc(spark, url, trades_table).dropDuplicates(["trade_id"])
    counts = read_jdbc(spark, url, counts_table).dropDuplicates(
        ["symbol", "epoch"]
    )
    per_symbol = landed.groupBy("symbol").agg(
        F.count("*").alias("n_trades"),
        F.sum("volume").alias("total_volume"),
    )
    from_counts = counts.groupBy("symbol").agg(
        F.sum("n").alias("n_from_counts")
    )
    return (
        per_symbol.join(from_counts, "symbol")
        .select(
            "symbol",
            "n_trades",
            F.col("n_from_counts").cast("long").alias("n_from_counts"),
            F.col("total_volume").cast("long").alias("total_volume"),
        )
        .orderBy("symbol")
    )


# dual-sink landing: both JDBC tables must reproduce the plain
# per-symbol GROUP BY over valid trades (exactly-once, end-to-end).
STREAMING_JDBC_SINK_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            valid AS (SELECT * FROM trades WHERE {VALID_WHERE})
            SELECT symbol, count(*) AS n_trades,
                   count(*) AS n_from_counts,
                   CAST(sum(volume) AS BIGINT) AS total_volume
            FROM valid GROUP BY symbol ORDER BY symbol
        """
register("streaming_jdbc_sink", file_stream_jdbc_dual_sink, STREAMING_JDBC_SINK_SQL)
