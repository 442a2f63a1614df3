"""foreachBatch dual-sink streaming (the streaming-side PipelineExecutor
parity): each micro-batch lands in both the trades sink and the per-symbol
counts sink, exactly once per epoch."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from marketstream_etl_spark.sources.generator import generate_trades


def test_foreachbatch_dual_sink(spark):
    trades = generate_trades(spark, 400).cache()
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        trades.coalesce(2).write.mode("overwrite").parquet(src)

        sink_trades = f"{d}/sink_trades"
        sink_counts = f"{d}/sink_counts"

        def dual_sink(batch_df, epoch_id: int) -> None:
            batch_df.persist()
            batch_df.write.mode("append").parquet(sink_trades)
            (
                batch_df.groupBy("symbol")
                .agg(F.count("*").alias("n"), F.sum("volume").alias("vol"))
                .withColumn("epoch", F.lit(epoch_id))
                .write.mode("append")
                .parquet(sink_counts)
            )
            batch_df.unpersist()

        stream = spark.readStream.schema(trades.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(dual_sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{d}/ckpt")
            .start()
        )
        q.awaitTermination(120)

        landed = spark.read.parquet(sink_trades)
        counts = spark.read.parquet(sink_counts)
        assert landed.count() == 400
        total = counts.agg(F.sum("n")).collect()[0][0]
        assert total == 400
        # per-symbol totals agree with the batch aggregation
        batch = {
            r["symbol"]: r["vol"]
            for r in trades.groupBy("symbol")
            .agg(F.sum("volume").alias("vol"))
            .collect()
        }
        streamed = {
            r["symbol"]: r["vol"]
            for r in counts.groupBy("symbol")
            .agg(F.sum("vol").alias("vol"))
            .collect()
        }
        assert batch == streamed
    trades.unpersist()


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """ST7, beyond the reference (its in-proc queue loses everything on
    restart): a checkpointed streaming aggregation restarted over a grown
    source directory counts every row exactly once — the second run reads
    only the files the checkpoint has not seen."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def run_total() -> int:
        counts = (
            spark.readStream.schema("id long")
            .parquet(src)
            .agg(F.count("*").alias("n"))
        )
        q = (
            counts.writeStream.format("memory")
            .queryName("ckpt_counts")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table("ckpt_counts").collect()[0]["n"]

    spark.range(100).select(F.col("id")).write.mode("append").parquet(src)
    assert run_total() == 100
    spark.range(100, 250).select(F.col("id")).write.mode("append").parquet(src)
    # restart from the checkpoint: 150 new rows, zero reprocessing
    assert run_total() == 250


def test_foreachbatch_jdbc_dual_sink(spark, sf_dir):
    """Bounded replay through the JDBC dual sink: the relational readback
    must agree between the row-level table, the per-epoch counts table, and
    the batch GROUP BY over the same valid trades."""
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.jdbc_sink import (
        file_stream_jdbc_dual_sink,
    )

    got = {
        r["symbol"]: (r["n_trades"], r["n_from_counts"], r["total_volume"])
        for r in file_stream_jdbc_dual_sink(spark, sf_dir).collect()
    }
    valid, _ = split_valid(load_trades(spark, sf_dir))
    want = {
        r["symbol"]: (r["n"], r["n"], r["vol"])
        for r in valid.groupBy("symbol")
        .agg(F.count("*").alias("n"), F.sum("volume").alias("vol"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_jdbc_dual_sink_leaves_no_checkpoint(spark, sf_dir):
    """The JDBC dual sink leaves no jdbc_dual_sink_ckpt_* directory in the
    temp dir: the stream runner owns the checkpoint and removes it."""
    import glob
    import os

    from marketstream_etl_spark.streaming.jdbc_sink import (
        file_stream_jdbc_dual_sink,
    )

    pattern = os.path.join(tempfile.gettempdir(), "jdbc_dual_sink_ckpt_*")
    before = set(glob.glob(pattern))
    assert file_stream_jdbc_dual_sink(spark, sf_dir).count() > 0
    assert set(glob.glob(pattern)) - before == set()
