"""Stateful streaming indicators: state carries across micro-batches and the
final per-symbol values equal the batch implementation over the full input."""

from __future__ import annotations

import tempfile

import pytest

from marketstream_etl_spark.operators.indicators import compute_indicators
from marketstream_etl_spark.sources.generator import generate_trades
from marketstream_etl_spark.streaming.stateful import streaming_indicators


def test_streaming_indicators_match_batch(spark):
    trades = generate_trades(spark, 600).orderBy("timestamp").cache()
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        # two files → availableNow processes multiple micro-batches with
        # maxFilesPerTrigger=1, so state must survive batch boundaries
        trades.filter("trade_id < 1000300").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/p1")
        trades.filter("trade_id >= 1000300").coalesce(1).write.mode(
            "append"
        ).parquet(f"{src}/p2")

        stream = (
            spark.readStream.schema(trades.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/p*")
        )
        q = (
            streaming_indicators(stream, period=5)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("stream_ind")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        # last emitted row per symbol = final state
        got = {
            r["symbol"]: r
            for r in spark.sql(
                """
                SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY symbol
                      ORDER BY n_trades DESC) rn FROM stream_ind
                ) WHERE rn = 1
                """
            ).collect()
        }

    expected = {
        r["symbol"]: r for r in compute_indicators(trades, period=5).collect()
    }
    assert set(got) == set(expected)
    total_seen = sum(r["n_trades"] for r in got.values())
    assert total_seen == 600
    for sym, exp in expected.items():
        assert got[sym]["sma"] == pytest.approx(exp["sma"], rel=1e-9), sym
        assert got[sym]["rsi"] == pytest.approx(exp["rsi"], rel=1e-9), sym
        assert got[sym]["vwap"] == pytest.approx(exp["vwap"], rel=1e-9), sym
        assert got[sym]["period"] == exp["period"]
    trades.unpersist()


def test_file_stream_stateful_equals_batch(spark, sf_dir):
    """Bounded replay through the stateful operator must end in the same
    per-symbol state as the batch last-N snapshot."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.operators.indicators import compute_indicators
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.stateful import (
        file_stream_stateful_indicators,
    )

    streamed = {
        r["symbol"]: (r["n_trades"], r["sma"], r["rsi"], r["vwap"], r["period"])
        for r in file_stream_stateful_indicators(spark, sf_dir).collect()
    }
    valid, _ = split_valid(load_trades(spark, sf_dir))
    batch = {
        r["symbol"]: (
            r["n"],
            round(r["sma"], 6),
            round(r["rsi"], 6),
            round(r["vwap"], 6),
            r["period"],
        )
        for r in compute_indicators(valid, period=5)
        .join(valid.groupBy("symbol").agg(F.count("*").alias("n")), "symbol")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stateful_query_prints_no_pandas_concat_warning(sf_dir, tmp_path):
    """The applyInPandasWithState output path stays quiet: PySpark pads
    each output batch with all-NA rows before pd.concat, and pandas warns
    about that once per batch in the Python worker.  A fresh process, so
    its workers import stateful.py themselves."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {root!r})
from marketstream_etl_spark.session import get_spark
from marketstream_etl_spark.streaming.stateful import (
    file_stream_stateful_indicators,
)

spark = get_spark("stateful-quiet", master="local[2]")
print(file_stream_stateful_indicators(spark, {sf_dir!r}).count())
"""
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    assert int(done.stdout.strip().splitlines()[-1]) > 0
    assert "concatenation with empty or all-NA" not in done.stderr
