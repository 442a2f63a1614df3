"""End-to-end flagship pipeline test (SURVEY §3.1 parity)."""

from __future__ import annotations

import math
import os
import tempfile
import threading
import uuid

from pyspark.sql import functions as F

from marketstream_etl_spark.operators.indicators import compute_indicators
from marketstream_etl_spark.operators.validation import split_valid
from marketstream_etl_spark.plans.pipeline import (
    init_schema,
    pipeline_results,
    run_pipeline,
)
from marketstream_etl_spark.sources.csv_trades import read_trades_csv
from marketstream_etl_spark.sources.generator import generate_trades

CSV_HEADER = "trade_id,order_id,timestamp,symbol,price,volume,side,type,is_pro"
SYMBOLS = ["AAPL", "MSFT", "TSLA", "NVDA"]
# One row breaking each rule V1..V6, in the parser's text form; the last
# three exercise the parser's zero defaults for unparseable numerics.
INVALID_ROWS = [
    "{id},{id},{ts},aapl,101.5,10,B,M,0",  # V1 lower-case symbol
    "{id},{id},{ts},TOOLONGSYMBOL,101.5,10,B,M,0",  # V1 > 10 chars
    "{id},{id},{ts},AAPL,-3.0,10,B,M,0",  # V2 negative price
    "{id},{id},{ts},MSFT,2000000.0,10,S,L,1",  # V2 above PRICE_MAX
    "{id},{id},{ts},TSLA,99.0,0,B,M,0",  # V3 zero volume
    "{id},{id},{ts},NVDA,99.0,5,X,M,0",  # V4 side
    "{id},{id},{ts},NVDA,99.0,5,B,Q,0",  # V5 type
    "{id},{id},-1,MSFT,99.0,5,B,M,0",  # V6 timestamp
    "{id},{id},{ts},AAPL,abc,5,B,M,0",  # V2 via parse default 0.0
    "{id},{id},{ts},AAPL,10.0,,B,M,0",  # V3 via parse default 0
    "{id},{id},,AAPL,10.0,5,B,M,0",  # V6 via parse default 0
]


def _write_mixed_csv(path: str, n_files: int = 2) -> tuple[int, int]:
    """Hand-written CSV files mixing valid rows with every INVALID_ROWS
    case; returns (n_valid, n_rejected).  Several files give the scan
    several partitions, so the indicator merge crosses partitions."""
    os.makedirs(path)
    n_valid = n_rejected = 0
    trade_id = 0
    for f in range(n_files):
        lines = [CSV_HEADER]
        for i in range(200):
            trade_id += 1
            ts = 1_700_000_000_000 + trade_id * 7
            if i % 17 == 5:
                tmpl = INVALID_ROWS[(trade_id // 17) % len(INVALID_ROWS)]
                lines.append(tmpl.format(id=trade_id, ts=ts))
                n_rejected += 1
                continue
            sym = SYMBOLS[trade_id % len(SYMBOLS)]
            price = 100.0 + ((trade_id * 37) % 101) / 7.0
            # a missing side defaults to 'N', which is valid
            side = "" if i % 23 == 0 else "BS"[trade_id % 2]
            lines.append(
                f"{trade_id},{trade_id},{ts},{sym},{price!r},"
                f"{1 + trade_id % 13},{side},{'MLI'[trade_id % 3]},{trade_id % 2}"
            )
            n_valid += 1
        with open(f"{path}/part-{f}.csv", "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return n_valid, n_rejected


def _rows_and_hash(df):
    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return r[0], r[1]


def test_pipeline_end_to_end(spark):
    with tempfile.TemporaryDirectory() as d:
        # generate a CSV the way the reference's generate_data tool would
        trades = generate_trades(spark, 3000)
        trades.selectExpr(
            "trade_id", "order_id", "timestamp", "symbol", "price",
            "volume", "side", "type", "cast(is_pro as int) as is_pro",
        ).coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{d}/csv"
        )

        report = run_pipeline(spark, f"{d}/csv", f"{d}/out", period=5)
        assert report.n_input == 3000
        assert report.n_rejected == 0  # generator output is all-valid
        assert report.n_valid == 3000
        assert 8 <= report.n_symbols <= 10

        out = pipeline_results(spark, f"{d}/out")
        assert out["trades"].count() == 3000
        ind = {r["symbol"]: r for r in out["indicators"].collect()}
        assert len(ind) == report.n_symbols
        for r in ind.values():
            assert 0.0 <= r["rsi"] <= 100.0
            assert r["vwap"] > 0 and r["period"] == 5
        lb = out["leaderboard"].collect()
        assert sum(r["trades"] for r in lb) == 3000


def test_pipeline_reject_path(spark):
    """Every rule V1..V6 rejects rows: the counts, the written trades and
    the indicators all match the split and compute_indicators oracles."""
    with tempfile.TemporaryDirectory() as d:
        csv = f"{d}/csv"
        n_valid, n_rejected = _write_mixed_csv(csv)
        expected_valid, rejects = split_valid(read_trades_csv(spark, csv))
        reasons = rejects.select("reject_reason").distinct().collect()
        assert len(reasons) == 6  # each rule fires at least once

        report = run_pipeline(spark, csv, f"{d}/out", period=5, computed_at_ns=0)
        assert report.n_valid == n_valid
        assert report.n_rejected == n_rejected
        assert report.n_input == n_valid + n_rejected

        out = pipeline_results(spark, f"{d}/out")
        assert _rows_and_hash(out["trades"]) == _rows_and_hash(expected_valid)

        got = {r["symbol"]: r for r in out["indicators"].collect()}
        want = {
            r["symbol"]: r
            for r in compute_indicators(expected_valid, period=5).collect()
        }
        assert report.n_symbols == len(got) == len(want) == len(SYMBOLS)
        for sym, w in want.items():
            g = got[sym]
            assert (g["sma"], g["rsi"], g["period"]) == (
                w["sma"], w["rsi"], w["period"]
            )
            # VWAP's float sum is grouped by input partition
            assert math.isclose(g["vwap"], w["vwap"], rel_tol=1e-12)
            assert g["computed_at"] == 0  # 0 is a timestamp, not "unset"


def test_pipeline_plan_shape(spark):
    """run_pipeline is two writes and their shuffle stages, with no cache:
    a returning persist() or eager count() changes these numbers."""
    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as d:
        csv = f"{d}/csv"
        _write_mixed_csv(csv)

        def persisted() -> set[int]:
            return set(sc._jsc.getPersistentRDDs().keys())

        before = persisted()
        seen: set[int] = set()
        stop = threading.Event()

        def poll() -> None:
            while not stop.is_set():
                seen.update(persisted() - before)
                stop.wait(0.01)

        poller = threading.Thread(target=poll, daemon=True)
        group = f"pipeline-shape-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "run_pipeline plan shape")
        poller.start()
        try:
            run_pipeline(spark, csv, f"{d}/out")
        finally:
            sc._jsc.clearJobGroup()
            stop.set()
            poller.join(timeout=10)
        assert not poller.is_alive()
        seen.update(persisted() - before)
        assert seen == set(), "run_pipeline cached an RDD"
        # trades write; indicators: two shuffle-map stages + the write
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_init_schema_idempotent(spark):
    init_schema(spark)
    init_schema(spark)
    tables = {t.name for t in spark.catalog.listTables()}
    assert {"trades", "technical_indicators"} <= tables
    spark.sql("DROP TABLE IF EXISTS trades")
    spark.sql("DROP TABLE IF EXISTS technical_indicators")
