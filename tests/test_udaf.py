"""Pandas UDAF surface (operators/udaf_ops.py) + RANGE-frame semantics."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_udaf_vwap_zero_volume_group(spark):
    from marketstream_etl_spark.operators.udaf_ops import count_udaf, vwap

    df = spark.createDataFrame(
        [("A", 10.0, 0), ("A", 20.0, 0), ("B", 10.0, 2), ("B", 40.0, 6)],
        "symbol string, price double, volume int",
    )
    rows = {
        r["symbol"]: r
        for r in df.groupBy("symbol")
        .agg(
            vwap(F.col("price"), F.col("volume")).alias("vwap"),
            count_udaf(F.col("volume")).alias("n"),
        )
        .collect()
    }
    # zero total volume -> 0.0 (TechnicalIndicators.hpp:310-330 semantics)
    assert rows["A"]["vwap"] == 0.0 and rows["A"]["n"] == 2
    assert rows["B"]["vwap"] == (10.0 * 2 + 40.0 * 6) / 8 and rows["B"]["n"] == 2


def test_range_frame_ties_share_a_frame(spark):
    """RANGE (value-bounded) frames include ALL peers of the boundary
    value, so tied timestamps get identical aggregates regardless of
    shuffle order — the determinism q_rolling_time_window relies on."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(1, 1000, 1.0), (2, 1000, 2.0), (3, 5000, 4.0)],
        "event_id int, ts_ns long, value double",
    )
    w = Window.orderBy("ts_ns").rangeBetween(-3000, 0)
    got = {
        r["event_id"]: (r["n"], r["s"])
        for r in df.select(
            "event_id",
            F.count("*").over(w).alias("n"),
            F.sum("value").over(w).alias("s"),
        ).collect()
    }
    assert got[1] == got[2] == (2, 3.0)  # peers share the frame
    assert got[3] == (1, 4.0)  # 5000-3000 > 1000: ties fell out together
