"""The flagship ETL pipeline — Spark re-expression of the reference's
`etl_pipeline` (reference src/main.cpp:13-145, SURVEY §3.1):

  CSV → validate (V1-V6 split) → trades parquet
      → indicators (SMA/RSI/VWAP, period=5) → indicators parquet

The reference's eager stage-by-stage materialization becomes two writes
and no cache:

1. one scan parses, validates and writes the valid trades; an Observation
   on that same job counts valid and rejected rows, so there is no separate
   count job and the CSV is parsed exactly once;
2. the indicators are computed from the trades parquet just written (the
   group-limit form: a codegen sum aggregate joined to a map-side
   top-(period+1) tail per symbol, so its two exchanges carry KBs at any
   input size) and written with a second Observation that counts the
   indicator rows.

Each plan is built from SQL expression strings (`selectExpr`, `F.expr`):
the driver-side cost of building it is a few hundred py4j calls, not
thousands of Column-tree calls.

`run_pipeline` returns per-stage timings in the shape of the reference's
benchmark report (Benchmarker.hpp:36-71).  Spark stages are lazy, so the
"stage" timings are action-bounded: `parse_validate_sink` is the fused
scan + trades write, `indicators_sink` the indicator job + its write.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.operators.indicators import compute_indicators
from marketstream_etl_spark.operators.validation import with_validation
from marketstream_etl_spark.sources.csv_trades import read_trades_csv
from marketstream_etl_spark.sources.sinks import write_parquet, write_trades_parquet


@dataclass
class PipelineReport:
    n_input: int = 0
    n_valid: int = 0
    n_rejected: int = 0
    n_symbols: int = 0
    stage_seconds: dict[str, float] = field(default_factory=dict)


def init_schema(spark: SparkSession) -> None:
    """S7 DDL parity (DatabaseLoader.cpp:88-160): managed-table DDL on the
    session catalog. CHECK constraints live in the validator (V1-V6)."""
    spark.sql(
        """
        CREATE TABLE IF NOT EXISTS trades (
            trade_id BIGINT, order_id BIGINT, timestamp BIGINT,
            symbol STRING, price DOUBLE, volume INT,
            side STRING, type STRING, is_pro BOOLEAN
        ) USING parquet
        """
    )
    spark.sql(
        """
        CREATE TABLE IF NOT EXISTS technical_indicators (
            symbol STRING, computed_at BIGINT, sma DOUBLE, rsi DOUBLE,
            vwap DOUBLE, period INT
        ) USING parquet
        """
    )


def run_pipeline(
    spark: SparkSession,
    csv_path: str,
    out_dir: str,
    period: int = 5,
    computed_at_ns: int | None = None,
) -> PipelineReport:
    report = PipelineReport()
    trades_path = f"{out_dir}/trades"
    if computed_at_ns is None:
        computed_at_ns = time.time_ns()

    t0 = time.perf_counter()
    # observe() sits before the filter, so it sees every parsed row; the
    # reject channel is the complement of the written rows.
    validation = Observation("pipeline_validation")
    valid = (
        with_validation(read_trades_csv(spark, csv_path))
        .observe(
            validation,
            F.expr("sum(CAST(is_valid AS BIGINT)) AS n_valid"),
            F.expr("sum(CAST(NOT is_valid AS BIGINT)) AS n_rejected"),
        )
        .where("is_valid")
        .drop("reject_reason", "is_valid")
    )
    write_trades_parquet(valid, trades_path)
    counts = validation.get
    report.n_valid = counts["n_valid"] or 0  # NULL sums on an empty CSV
    report.n_rejected = counts["n_rejected"] or 0
    report.n_input = report.n_valid + report.n_rejected
    report.stage_seconds["parse_validate_sink"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    # The known schema skips the footer-inference job on read-back.
    indicators = compute_indicators(
        spark.read.schema(valid.schema).parquet(trades_path),
        period=period,
        computed_at_ns=computed_at_ns,
    )
    written = Observation("pipeline_indicators")
    write_parquet(
        indicators.observe(written, F.expr("count(1) AS n_symbols")),
        f"{out_dir}/technical_indicators",
    )
    report.n_symbols = written.get["n_symbols"]
    report.stage_seconds["indicators_sink"] = time.perf_counter() - t0
    return report
