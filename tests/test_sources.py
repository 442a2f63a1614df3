"""Source semantics: CSV defaults-then-reject (S1/S2), generator invariants
(S3), parquet sink round-trip (S11), dual-sink (PipelineExecutor analog)."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq

from marketstream_etl_spark.operators.validation import split_valid
from marketstream_etl_spark.sources.csv_trades import read_trades_csv
from marketstream_etl_spark.sources.generator import EPOCH_NS, generate_trades
from marketstream_etl_spark.sources.sinks import (
    DERBY_DRIVER,
    TRADES_PLAIN_COLUMNS,
    read_jdbc,
    write_dual_sinks,
    write_parquet,
)

CSV = """trade_id,order_id,timestamp,symbol,price,volume,side,type,is_pro
1,11,1698208500000000000,RELIANCE,2456.75,100,B,M,0
2,12,1698208500000010000,TCS,3890.50,50,S,L,1
3,13,,INFY,1567.25,10,B,M,0
4,14,1698208500000030000,HDFC,,25,Sell,Market,0
5,15,1698208500000040000,WIPRO,456.80,abc,B,M,0
6,16,1698208500000050000,reliance,100.0,10,B,M,0
"""


def test_csv_defaults_then_reject(spark):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "trades.csv")
        with open(p, "w") as f:
            f.write(CSV)
        df = read_trades_csv(spark, p)
        rows = {r["trade_id"]: r for r in df.collect()}
        # no nulls anywhere (parser never yields nulls, SURVEY §1.3)
        for r in rows.values():
            assert None not in r.asDict().values()
        # missing timestamp → 0; missing price → 0.0; bad volume → 0
        assert rows[3]["timestamp"] == 0
        assert rows[4]["price"] == 0.0
        assert rows[5]["volume"] == 0
        # multi-char side/type take first byte (CsvParser.cpp:231,237)
        assert rows[4]["side"] == "S" and rows[4]["type"] == "M"
        # validation then rejects exactly the defaulted rows + bad symbol
        valid, rejects = split_valid(df)
        got = {r["trade_id"]: r["reject_reason"] for r in rejects.collect()}
        assert got == {
            3: "invalid timestamp",
            4: "invalid price",
            5: "invalid volume",
            6: "invalid symbol",
        }
        assert valid.count() == 2


def test_generator_invariants(spark):
    n = 2000
    df = generate_trades(spark, n).cache()
    rows = df.orderBy("trade_id").collect()
    assert len(rows) == n
    # distribution/invariant checks (SURVEY §7 trap 7 — not byte parity)
    symbols = {r["symbol"] for r in rows}
    assert symbols <= {
        "RELIANCE", "TCS", "INFY", "HDFC", "WIPRO", "ICICIBANK",
        "BAJFINANCE", "HCLTECH", "AXISBANK", "SBIN",
    }
    assert len(symbols) >= 8
    ts = [r["timestamp"] for r in rows]
    assert all(b > a for a, b in zip(ts, ts[1:]))  # strictly increasing
    assert all(5_000 <= b - a <= 50_000 for a, b in zip(ts, ts[1:]))
    assert ts[0] >= EPOCH_NS
    for r in rows:
        assert 50.0 <= r["price"] <= 99999.0
        assert 10 <= r["volume"] <= 5000
        assert r["side"] in ("B", "S") and r["type"] in ("M", "L", "I")
    # validator accepts everything the generator emits
    valid, rejects = split_valid(df)
    assert rejects.count() == 0
    df.unpersist()


def test_parquet_sink_roundtrip_and_dual_sink(spark):
    df = generate_trades(spark, 500)
    from marketstream_etl_spark.operators.indicators import compute_indicators

    ind = compute_indicators(df)
    with tempfile.TemporaryDirectory() as d:
        write_parquet(df, f"{d}/trades")
        back = spark.read.parquet(f"{d}/trades")
        assert back.count() == 500
        # nullability flags legitimately relax through parquet; compare shape
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in df.schema.fields
        ]
        write_dual_sinks(df, ind, f"{d}/dual_trades", f"{d}/dual_ind")
        assert spark.read.parquet(f"{d}/dual_trades").count() == 500
        assert spark.read.parquet(f"{d}/dual_ind").count() == ind.count()
        # the trades table's unique keys skip the dictionary pass; the
        # low-cardinality columns keep it (ParquetWriter.cpp:116-119)
        for f in glob.glob(f"{d}/dual_trades/*.parquet"):
            rg = pq.ParquetFile(f).metadata.row_group(0)
            dict_cols = {
                rg.column(i).path_in_schema
                for i in range(rg.num_columns)
                if rg.column(i).has_dictionary_page
            }
            assert not dict_cols & set(TRADES_PLAIN_COLUMNS)
            assert {"symbol", "side", "type"} <= dict_cols


DERBY_URL = "jdbc:derby:memory:marketstream_test;create=true"
DERBY_PROPS = {"driver": DERBY_DRIVER}


def test_jdbc_parallel_bulk_load_roundtrip(spark, sf_dir):
    """S8/S9 against an embedded Derby database (in-JVM, so the 4 parallel
    partition writers exercise the real JDBC sink path with no external
    service): every valid trade lands exactly once."""
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.sources.sinks import write_jdbc_bulk

    valid, _ = split_valid(load_trades(spark, sf_dir))
    valid = valid.limit(2000).cache()
    n = valid.count()
    write_jdbc_bulk(valid, DERBY_URL, "trades_bulk", DERBY_PROPS, num_streams=4)
    back = read_jdbc(spark, DERBY_URL, "trades_bulk")
    assert back.count() == n
    assert back.select("trade_id").distinct().count() == n
    valid.unpersist()


def test_jdbc_indicator_append_sink(spark, sf_dir):
    """S10: append-only indicator log — two saves stack rows, never update."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.operators.indicators import compute_indicators
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import load_trades

    valid, _ = split_valid(load_trades(spark, sf_dir))
    ind = compute_indicators(valid, period=5, computed_at_ns=1_700_000_000_000_000_000)
    n = ind.count()
    for _ in range(2):
        ind.write.mode("append").option(
            "driver", DERBY_PROPS["driver"]
        ).jdbc(DERBY_URL, "indicator_log", properties=DERBY_PROPS)
    back = read_jdbc(spark, DERBY_URL, "indicator_log")
    assert back.count() == 2 * n


def test_bulk_load_drop_rebuild_index(spark, sf_dir):
    """S8 orchestration vs embedded Derby: index is dropped for the load,
    rebuilt after, and the data survives intact."""
    from marketstream_etl_spark.operators.validation import split_valid
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.sources.sinks import (
        _jdbc_exec,
        bulk_load_with_index_ddl,
    )

    valid, _ = split_valid(load_trades(spark, sf_dir))
    batch = valid.select("trade_id", "symbol", "price").limit(500).cache()
    n = batch.count()
    # seed the table + index (init_schema role)
    batch.limit(0).write.mode("overwrite").option(
        "driver", DERBY_PROPS["driver"]
    ).option(
        "createTableColumnTypes", "symbol VARCHAR(10)"  # CLOB is unindexable
    ).jdbc(DERBY_URL, "trades_ddl", properties=DERBY_PROPS)
    _jdbc_exec(
        spark, DERBY_URL, ['CREATE INDEX idx_sym ON trades_ddl ("symbol")']
    )

    bulk_load_with_index_ddl(
        spark, batch, DERBY_URL, "trades_ddl", "idx_sym",
        ["symbol"], DERBY_PROPS, num_streams=4,
    )
    assert read_jdbc(spark, DERBY_URL, "trades_ddl").count() == n
    # the index exists again (Derby catalogs it in SYSCONGLOMERATES)
    assert _jdbc_exec(
        spark,
        DERBY_URL,
        [
            "SELECT CONGLOMERATENAME FROM SYS.SYSCONGLOMERATES "
            "WHERE CONGLOMERATENAME = 'IDX_SYM'"
        ],
    ) == ["IDX_SYM"]
    batch.unpersist()


def test_json_corrupt_records_quarantine_semantics(spark, sf_dir):
    """PERMISSIVE quarantine contract: garbage and truncated lines are
    all-null + flagged; a wrong-typed field keeps its siblings and is
    flagged; a missing field is null but NOT flagged."""
    from marketstream_etl_spark.sources.formats import json_corrupt_records

    rows = json_corrupt_records(spark, sf_dir).collect()
    by_payload = {r["bad_payload"]: r for r in rows if r["quarantined"]}
    assert "not json at all" in by_payload
    partial = by_payload['{"id": 2, "sym": "BBB", "px": "oops"}']
    assert partial["id"] == 2 and partial["sym"] == "BBB"
    assert partial["px"] is None
    ok = {r["id"]: r for r in rows if not r["quarantined"]}
    assert ok[4]["sym"] is None and ok[4]["px"] == 7.25
    assert len(rows) == 6
