"""Streaming SCD1 snapshot sink: foreachBatch MERGE-upsert into a
parquet "latest state per key" table — the lakehouse write pattern a
live position/quote service runs (the streaming twin of
operators/merge.merge_upsert, which emulates the reference's
PostgreSQL `ON CONFLICT` staging design,
/root/reference/README.md:78-82).

Per micro-batch: reduce the batch to its latest row per symbol (max_by
on the canonical (ts_ns, trade_id) order — an algebraic aggregate, so
it folds map-side), then merge into the snapshot with source-wins
semantics and atomically replace it.  State lives in the snapshot
TABLE, not in streaming state — the pattern scales to any key
cardinality because each batch shuffles only its own latest-per-key
rows (|symbols| rows here), and the snapshot rewrite is a key-bounded
parquet write.

The final snapshot equals the batch "latest row per symbol" over the
whole input REGARDLESS of how the input was split into batches (latest
is associative), which is what makes the streaming run oracle-checkable
against a plain argmax SQL.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.plans.trades_view import TRADES_CTE
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.streaming.replay import run_bounded


def _batch_latest(df: DataFrame) -> DataFrame:
    """Latest (price, ts_ns, trade_id) per symbol within one frame, by
    the canonical (ts_ns, trade_id) order."""
    pick = F.max(
        F.struct("ts_ns", "trade_id", "price")
    ).alias("m")
    return df.groupBy("symbol").agg(pick).select(
        "symbol",
        F.col("m.price").alias("price"),
        F.col("m.ts_ns").alias("ts_ns"),
        F.col("m.trade_id").alias("trade_id"),
    )


def file_stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the trades stream through a foreachBatch upsert into a
    parquet snapshot (4-file replay → 4 real micro-batches with genuine
    cross-batch updates), then return the final snapshot.

    Output: (symbol, last_price, last_ts_ns, last_trade_id) per symbol.
    """
    from marketstream_etl_spark.plans.trades_view import trades_from_events
    from marketstream_etl_spark.sources.tables import warehouse_path

    # create-once 4-file replay fixture: any split yields the same final
    # snapshot (latest-per-key is associative), so non-deterministic
    # round-robin file assignment is fine — it only changes WHICH batch
    # performs each intermediate update, never the drained state.
    replay_dir = warehouse_path(spark, "upsert_replay", sf_dir)
    marker = os.path.join(replay_dir, "_done")
    if not os.path.exists(marker):
        from marketstream_etl_spark.sources.tables import load_table

        ev = load_table(spark, sf_dir, "events")
        ev.repartition(4).write.mode("overwrite").parquet(replay_dir)
        open(marker, "w").close()
    schema = spark.read.parquet(replay_dir).schema
    events = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(replay_dir)
    )
    trades = trades_from_events(events).select(
        "symbol", "price", F.col("timestamp").alias("ts_ns"), "trade_id"
    )

    snap_dir = warehouse_path(spark, "upsert_snapshot", sf_dir) + "_run"

    def upsert_batch(batch: DataFrame, _bid: int) -> None:
        latest = _batch_latest(batch)
        if os.path.exists(os.path.join(snap_dir, "_SUCCESS")):
            current = batch.sparkSession.read.parquet(snap_dir)
            both = current.unionByName(latest)
            merged = _batch_latest(both)
        else:
            merged = latest
        # |symbols| rows — eager materialization cuts the lineage so the
        # overwrite below never reads the path it is replacing
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(snap_dir)

    # fresh snapshot per invocation: the op is the RUN, not a cache
    shutil.rmtree(snap_dir, ignore_errors=True)
    run_bounded(trades.writeStream.foreachBatch(upsert_batch))
    return (
        spark.read.parquet(snap_dir)
        .select(
            "symbol",
            F.col("price").alias("last_price"),
            F.col("ts_ns").alias("last_ts_ns"),
            F.col("trade_id").alias("last_trade_id"),
        )
        .orderBy("symbol")
    )


# final SCD1 snapshot == latest trade per symbol by the canonical
# (ts, trade_id) order, regardless of micro-batch split
STREAMING_UPSERT_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            ranked AS (
                SELECT symbol, price, "timestamp" AS ts_ns, trade_id,
                       row_number() OVER (
                           PARTITION BY symbol
                           ORDER BY "timestamp" DESC, trade_id DESC
                       ) AS rn
                FROM trades
            )
            SELECT symbol, price AS last_price, ts_ns AS last_ts_ns,
                   trade_id AS last_trade_id
            FROM ranked WHERE rn = 1 ORDER BY symbol
        """
register("streaming_upsert", file_stream_upsert_snapshot, STREAMING_UPSERT_SQL)
