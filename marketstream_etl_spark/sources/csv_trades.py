"""Trade CSV source (S1/S2) with the reference parser's defaults-then-reject
semantics (/root/reference/src/parser/CsvParser.cpp:57-249, SURVEY §1.3):

- fixed column order, header skipped, CRLF tolerated (Spark CSV handles both)
- unparseable/missing numerics stay 0 (zero-init + from_chars-failure)
- missing side → 'N', missing type → 'M'
- is_pro parsed as int 0/1 → boolean
- the parser NEVER yields nulls; validation later rejects the zero defaults

Spark: permissive schema read, then one `selectExpr` of coalesces to
reproduce the defaults — a map-only projection fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from marketstream_etl_spark.schemas import TRADE_CSV_RAW_SCHEMA

# The parser's defaults, one SQL expression per output column.
DEFAULTS = (
    "coalesce(trade_id, 0) AS trade_id",
    "coalesce(order_id, 0) AS order_id",
    "coalesce(`timestamp`, 0) AS `timestamp`",
    "coalesce(symbol, '') AS symbol",
    "coalesce(price, 0.0D) AS price",
    "coalesce(volume, 0) AS volume",
    # char fields take the FIRST byte of the cell (CsvParser.cpp:231,237)
    "coalesce(substring(side, 1, 1), 'N') AS side",
    "coalesce(substring(`type`, 1, 1), 'M') AS `type`",
    "coalesce(is_pro != 0, false) AS is_pro",
)


def read_trades_csv(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.csv(
        path, header=True, schema=TRADE_CSV_RAW_SCHEMA, mode="PERMISSIVE"
    )
    return raw.selectExpr(*DEFAULTS)
