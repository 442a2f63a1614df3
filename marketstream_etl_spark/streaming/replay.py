"""Shared bounded-replay scaffold for the oracle-checked streaming queries.

Every streaming driver query follows the same contract: replay the
events-derived VALID trades through a real Structured Streaming query
(file source + availableNow), drain into a memory sink, and reduce the
emissions to a final snapshot the DuckDB oracle can reproduce with batch
SQL.  The scaffold lives here once so the replay contract (sink naming,
final-emission tie-break) has a single definition; the source itself is
sources/tables.stream_table.

`run_bounded` is the one place a bounded (availableNow) query is started:
every drain in the package, the bench and the tools goes through it, so
the deadline, the stop and the checkpoint cleanup are defined once.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from marketstream_etl_spark.sources.tables import sink_name, stream_table

# Wall-clock bound on one bounded drain.  The slowest recorded streaming
# query takes ~63 s (streaming_join_full_outer, sf0.01, 4-vCPU VM); the
# README decision note "Stream deadline" gives the evidence and what the
# margin does not cover.
STREAM_DEADLINE_S = 600


def run_bounded(writer: DataStreamWriter) -> list[dict]:
    """Run one bounded streaming query to completion: a fresh temp
    checkpoint, the availableNow trigger, and a STREAM_DEADLINE_S wait.
    awaitTermination re-raises the query's own failure; a drain still
    running at the deadline raises TimeoutError.  On every exit path the
    query is stopped and its checkpoint removed.  Returns the stopped
    query's `recentProgress`, one dict per trigger."""
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    q = None
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(STREAM_DEADLINE_S):
            raise TimeoutError(
                f"stream {q.name or q.id} did not drain within "
                f"{STREAM_DEADLINE_S} s"
            )
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    return [json.loads(p.json) for p in q.recentProgress]


def valid_trades_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream, mapped to valid trades."""
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    valid, _ = split_valid(
        trades_from_events(stream_table(spark, sf_dir, "events"))
    )
    return valid


def drain_to_memory(
    df: DataFrame, name_prefix: str, sf_dir: str, output_mode: str = "update"
) -> DataFrame:
    """Run the streaming frame to completion into a memory sink; return the
    sink table.  The sink name is unique per (prefix, sf_dir) within the
    process, matching the pre-existing per-query naming convention."""
    name = sink_name(name_prefix, sf_dir)
    run_bounded(
        df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    return df.sparkSession.table(name)


def final_indicator_snapshot(emitted: DataFrame) -> DataFrame:
    """Latest per-symbol emission of a stateful indicator stream:
    n_trades grows monotonically per symbol, so max_by picks the final
    state; doubles are rounded to the oracle's 6 decimals."""
    return (
        emitted.groupBy("symbol")
        .agg(
            F.max("n_trades").alias("n_trades"),
            F.round(F.max_by("sma", "n_trades"), 6).alias("sma"),
            F.round(F.max_by("rsi", "n_trades"), 6).alias("rsi"),
            F.round(F.max_by("vwap", "n_trades"), 6).alias("vwap"),
            F.max_by("period", "n_trades").alias("period"),
            # recursion vs closed-form float drift is ~1e-12 relative;
            # round(4) matches the rsi_wilder oracle's output precision
            F.round(F.max_by("rsi_wilder", "n_trades"), 4).alias("rsi_wilder"),
        )
        .orderBy("symbol")
    )


def accumulate_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_df: DataFrame,
    label: str,
    partial_fn,
    key_cols: list[str],
    merge_exprs,
) -> DataFrame:
    """foreachBatch partial-sketch accumulator: reduce each micro-batch
    to a bounded keyed partial (partial_fn), write it to a per-batch_id
    subdirectory (idempotent — a replayed batch overwrites its OWN
    subdirectory, never double-merges), and merge all partials at drain
    time with `merge_exprs` (a list of agg Columns: cell-wise SUM for
    additive accumulators, cell-wise MAX for HLL registers, ...).

    This is the production shape for mergeable-sketch streams: no state
    store, no complete-mode re-emission — per-batch work is one ordinary
    batch aggregation (partial-agg map-side combine applies), and the
    stored state is |keys| rows per batch."""
    from marketstream_etl_spark.sources.tables import warehouse_path

    acc_dir = warehouse_path(spark, label, sf_dir) + "_run"
    shutil.rmtree(acc_dir, ignore_errors=True)

    def agg_batch(batch: DataFrame, bid: int) -> None:
        partial_fn(batch).write.mode("overwrite").parquet(
            f"{acc_dir}/batch_id={bid}"
        )

    run_bounded(stream_df.writeStream.foreachBatch(agg_batch))
    if not os.path.isdir(acc_dir):
        # zero micro-batches (empty/missing source): foreachBatch never
        # ran, so no partials exist.  Return the empty merged frame the
        # old memory-sink path yielded instead of an AnalysisException
        # from reading a nonexistent directory (r8 ADVICE).
        empty = partial_fn(
            spark.createDataFrame([], stream_df.schema)
        ).limit(0)
        return empty.groupBy(*key_cols).agg(*merge_exprs)
    # partition discovery picks up every batch_id=N subdirectory
    return spark.read.parquet(acc_dir).groupBy(*key_cols).agg(*merge_exprs)
