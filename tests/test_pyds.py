"""Custom Python DataSource (sources/pyds.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from marketstream_etl_spark.sources import pyds


def test_row_of_is_pure_and_valid():
    a, b = pyds.row_of(7), pyds.row_of(7)
    assert a == b
    trade_id, symbol, price, volume, side, typ, ts = a
    assert trade_id == 1_000_007
    assert symbol in set(pyds.SYMBOLS)
    assert 50.0 <= price < 95_050.0
    assert 10 <= volume <= 5000
    assert side in ("B", "S") and typ in ("M", "L", "I")
    assert ts == pyds.EPOCH_NS + 7 * pyds.GAP_NS


def test_zero_rows_is_an_empty_scan(spark):
    pyds.register(spark)
    df = spark.read.format("tradegen").option("n", 0).load()
    assert df.count() == 0


def test_source_scans_partition_parallel(spark):
    pyds.register(spark)
    df = (
        spark.read.format("tradegen")
        .option("n", 1000)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    # ids unique across partitions (no overlap at split points)
    assert df.select("trade_id").distinct().count() == 1000
    got = df.filter(F.col("trade_id") == 1_000_000).collect()[0]
    assert tuple(got) == pyds.row_of(0)


def test_stream_reader_replays_offset_ranges_identically(spark):
    """Exactly-once contract: any (start, end) offset range regenerates
    identical rows — partitions() + read() are pure functions of the
    offsets, so checkpoint replay after a crash reproduces the batch."""
    from marketstream_etl_spark.sources.pyds import (
        TradeGenStreamReader,
        row_of,
    )

    r = TradeGenStreamReader({"n": "100", "partitions": "4"})
    assert r.initialOffset() == {"i": 0}
    assert r.latestOffset() == {"i": 100}
    parts = r.partitions({"i": 20}, {"i": 60})
    got = sorted(row for p in parts for row in r.read(p))
    assert got == sorted(row_of(i) for i in range(20, 60))
    # replay of the same range is bit-identical
    parts2 = r.partitions({"i": 20}, {"i": 60})
    assert sorted(row for p in parts2 for row in r.read(p)) == got
    # empty range degrades to a no-op partition
    assert [tuple(r.read(p)) for p in r.partitions({"i": 5}, {"i": 5})] == [()]
