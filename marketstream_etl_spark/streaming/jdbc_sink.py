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

Embedded Derby (in-JVM) serves as the relational target, as in the batch
sink tests — the real JDBC writer path with no external service.  On a
cluster the url/properties swap for PostgreSQL and each batch partition
holds one connection, exactly the reference's N-parallel-COPY shape.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.plans.trades_view import TRADES_CTE, VALID_WHERE
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.tables import sink_name
from marketstream_etl_spark.streaming.replay import run_bounded

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_log_path() -> str:
    """Per-user, per-process log path — never a fixed world-shared file.

    A fixed /tmp name on a multi-user host could be owned by another user
    (or pre-planted as a symlink), making Derby's engine boot fail or write
    through the link; uid+pid in the name sidesteps both."""
    import os

    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_derby_{uid}_{os.getpid()}.log"
    )


def redirect_derby_log(spark: SparkSession) -> None:
    """Point Derby's engine log at a per-process temp path instead of CWD.

    Embedded Derby writes ``derby.log`` to the working directory the first
    time the engine boots in a JVM (so a sweep run from the repo root
    litters ``git status``).  The path is controlled by the JVM system
    property ``derby.stream.error.file``, read at engine boot — set it via
    py4j before the first connection.  Idempotence is keyed on the JVM
    (System.getProperty probe), not a Python global, so a new JVM created
    later in the same Python process gets the property re-applied.
    """
    jsys = spark._sc._jvm.java.lang.System
    if jsys.getProperty("derby.stream.error.file") is None:
        jsys.setProperty("derby.stream.error.file", _derby_log_path())


def _derby_url(name: str) -> str:
    return f"jdbc:derby:memory:{name};create=true"


def _drop_if_exists(spark: SparkSession, url: str, tables: list[str]) -> None:
    """Derby has no DROP TABLE IF EXISTS; probe the catalog first."""
    redirect_derby_log(spark)
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for t in tables:
            rs = st.executeQuery(
                "SELECT 1 FROM SYS.SYSTABLES WHERE TABLENAME = "
                f"'{t.upper()}'"
            )
            found = rs.next()
            rs.close()
            if found:
                st.execute(f"DROP TABLE {t}")
        st.close()
    finally:
        conn.close()


def _read_jdbc(spark: SparkSession, url: str, table: str) -> DataFrame:
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DERBY_DRIVER)
        .load()
    )


def run_stream_to_jdbc_dual_sink(
    trades_stream: DataFrame,
    url: str,
    trades_table: str = "stream_trades",
    counts_table: str = "stream_symbol_counts",
    num_streams: int = 4,
) -> None:
    """Drain a bounded trades stream into both JDBC tables via foreachBatch."""
    props = {"driver": DERBY_DRIVER}

    def dual_sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            (
                batch_df.repartition(num_streams)
                .write.mode("append")
                .option("batchsize", 10_000)
                .jdbc(url, trades_table, properties=props)
            )
            (
                batch_df.groupBy("symbol")
                .agg(
                    F.count("*").alias("n"),
                    F.sum("volume").alias("vol"),
                )
                .withColumn("epoch", F.lit(epoch_id))
                .write.mode("append")
                .jdbc(url, counts_table, properties=props)
            )
        finally:
            batch_df.unpersist()

    run_bounded(trades_stream.writeStream.foreachBatch(dual_sink))


def file_stream_jdbc_dual_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate entry: replay the valid trades through the JDBC dual sink,
    then aggregate the RELATIONAL READBACK per symbol.  `n_trades` comes from
    the row-level trades table and `n_from_counts` from the per-epoch counts
    table — the oracle (a plain GROUP BY over valid trades) confirms both
    sinks landed every row exactly once, end-to-end across the JDBC boundary.
    """
    from marketstream_etl_spark.streaming.replay import valid_trades_stream

    url = _derby_url(sink_name("stream_sink", sf_dir))
    trades_table, counts_table = "stream_trades", "stream_symbol_counts"
    _drop_if_exists(spark, url, [trades_table, counts_table])

    valid = valid_trades_stream(spark, sf_dir)
    run_stream_to_jdbc_dual_sink(
        valid.select("trade_id", "symbol", "price", "volume"),
        url,
        trades_table,
        counts_table,
    )

    # Retry-proof readback: a JDBC append has no global transaction, so a
    # transiently-failed partition task can re-append committed rows.  The
    # stored keys make replays idempotent to read: trade_id dedups the row
    # table, (symbol, epoch) dedups the per-epoch counts (a retried epoch
    # writes identical rows).
    landed = _read_jdbc(spark, url, trades_table).dropDuplicates(["trade_id"])
    counts = _read_jdbc(spark, url, counts_table).dropDuplicates(
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
