"""Canonical `trades` view derived from the driver's `events` table.

The driver testdata has no trades table, so the engine's trade-domain
operators (validation V1-V6, indicators A1-A4, analytics A7-A8/O2-O4) run
over a deterministic mapping of `events` onto the reference Trade schema
(/root/reference/src/model/Trade.hpp:16-38):

    trade_id  = event_id
    order_id  = user_id
    timestamp = epoch nanoseconds of ts          (reference keeps int64 ns)
    symbol    = upper(event_type)                 (low-cardinality key)
    price     = value
    volume    = props->'k'                        (JSON scalar access, X12)
    side      = 'B'/'S' by event_id parity
    type      = 'M'/'L'/'I' by event_id mod 10 (30/60/10 mix mirrors the
                generator weights, src/tools/DataGenerator.hpp:111-113)
    is_pro    = event_id % 5 == 0 (~20%, DataGenerator.hpp:116)

The identical mapping is exposed as a DuckDB CTE (``TRADES_CTE``) so every
trade-domain query has an exact SQL oracle.  `volume` can be 0 in the data,
so validation rule V3 rejects real rows — the valid/reject split is
exercised end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.sources.tables import load_table

# DuckDB-dialect CTE body; keep in lockstep with trades_from_events().
TRADES_CTE = """
    SELECT
        event_id                                   AS trade_id,
        user_id                                    AS order_id,
        epoch_us(ts) * 1000                        AS timestamp,
        upper(event_type)                          AS symbol,
        value                                      AS price,
        CAST(json_extract_string(props, '$.k') AS INTEGER) AS volume,
        CASE WHEN event_id % 2 = 0 THEN 'B' ELSE 'S' END   AS side,
        CASE WHEN event_id % 10 < 3 THEN 'M'
             WHEN event_id % 10 < 9 THEN 'L'
             ELSE 'I' END                          AS type,
        (event_id % 5 = 0)                         AS is_pro
    FROM events
"""

# Shared DuckDB fragments over the trades view; keep in lockstep with
# operators/validation.py and operators/indicators.py.
REASON_CASE = """
    CASE
        WHEN NOT coalesce(regexp_full_match(symbol, '[A-Z]{1,10}'), false)
            THEN 'invalid symbol'
        WHEN NOT coalesce(price > 0 AND price < 1000000.0, false)
            THEN 'invalid price'
        WHEN NOT coalesce(volume > 0, false) THEN 'invalid volume'
        WHEN NOT coalesce(side IN ('B','S','N'), false) THEN 'invalid side'
        WHEN NOT coalesce("type" IN ('M','L','I'), false) THEN 'invalid type'
        WHEN NOT coalesce("timestamp" > 0, false) THEN 'invalid timestamp'
        ELSE NULL
    END
"""

VALID_WHERE = """
    regexp_full_match(symbol, '[A-Z]{1,10}') AND price > 0
    AND price < 1000000.0 AND volume > 0 AND side IN ('B','S','N')
    AND "type" IN ('M','L','I') AND "timestamp" > 0
"""

# Rolling per-row indicators over valid trades (window SQL); shared by the
# rolling_indicators and asof_enrich oracles.
ROLLING_SQL_BODY = """
chg AS (
    SELECT trade_id, symbol, "timestamp", price, volume,
           price - lag(price) OVER (PARTITION BY symbol
               ORDER BY "timestamp", trade_id) AS change
    FROM valid
),
roll AS (
    SELECT trade_id, symbol, "timestamp",
        avg(price) OVER w5 AS sma,
        CASE WHEN count(change) OVER w5 < 1 THEN 50.0
             WHEN sum(CASE WHEN change < 0 THEN -change ELSE 0 END) OVER w5 = 0.0
                 THEN 100.0
             ELSE 100.0 - 100.0 / (1.0 +
                 (sum(CASE WHEN change > 0 THEN change ELSE 0 END) OVER w5
                     / count(change) OVER w5)
               / (sum(CASE WHEN change < 0 THEN -change ELSE 0 END) OVER w5
                     / count(change) OVER w5))
        END AS rsi,
        sum(price * volume) OVER wrun
            / sum(CAST(volume AS DOUBLE)) OVER wrun AS vwap
    FROM chg
    WINDOW
        w5 AS (PARTITION BY symbol ORDER BY "timestamp", trade_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        wrun AS (PARTITION BY symbol ORDER BY "timestamp", trade_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""

# Per-symbol indicator snapshot with exact reference semantics
# (TechnicalIndicators.hpp:79-330); see operators/indicators.py.
INDICATORS_SQL = f"""
WITH trades AS ({TRADES_CTE}),
valid AS (SELECT * FROM trades WHERE {VALID_WHERE}),
ann AS (
    SELECT symbol, price, volume,
        row_number() OVER (PARTITION BY symbol
                           ORDER BY "timestamp" DESC, trade_id DESC) AS rn_desc,
        count(*) OVER (PARTITION BY symbol) AS n,
        price - lag(price) OVER (PARTITION BY symbol
                                 ORDER BY "timestamp", trade_id) AS change
    FROM valid
),
agg AS (
    SELECT symbol, max(n) AS n,
        avg(CASE WHEN rn_desc <= least(5, n) THEN price END) AS sma_raw,
        sum(CASE WHEN rn_desc <= least(5, n - 1) AND change > 0
                 THEN change ELSE 0 END) AS gain_sum,
        sum(CASE WHEN rn_desc <= least(5, n - 1) AND change < 0
                 THEN -change ELSE 0 END) AS loss_sum,
        sum(price * volume) AS pv,
        sum(CAST(volume AS DOUBLE)) AS v
    FROM ann GROUP BY symbol
)
SELECT symbol,
    round(sma_raw, 6) AS sma,
    round(CASE WHEN n < 2 OR least(5, n) <= 1 THEN 50.0
               WHEN loss_sum = 0.0 THEN 100.0
               ELSE 100.0 - 100.0 / (1.0 +
                    (gain_sum / CAST(least(5, n - 1) AS DOUBLE))
                  / (loss_sum / CAST(least(5, n - 1) AS DOUBLE)))
          END, 6) AS rsi,
    round(CASE WHEN v = 0 THEN 0.0 ELSE pv / v END, 6) AS vwap,
    CAST(least(5, n) AS INTEGER) AS period
FROM agg
"""


def trades_from_events(events: DataFrame) -> DataFrame:
    """Map the events table onto the canonical Trade schema (see module doc)."""
    return events.select(
        F.col("event_id").alias("trade_id"),
        F.col("user_id").alias("order_id"),
        # ts arrives as int64 ns (nanosAsLong). Truncate to µs resolution so
        # the value equals DuckDB's epoch_us(ts)*1000 oracle exactly (DuckDB
        # reads the NANOS column at µs precision). Integer ops only — ns
        # magnitudes exceed double's 2^53 mantissa.
        (F.col("ts") - F.col("ts") % 1000).alias("timestamp"),
        F.upper("event_type").alias("symbol"),
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("int").alias("volume"),
        F.when(F.col("event_id") % 2 == 0, F.lit("B")).otherwise(F.lit("S")).alias("side"),
        F.when(F.col("event_id") % 10 < 3, F.lit("M"))
        .when(F.col("event_id") % 10 < 9, F.lit("L"))
        .otherwise(F.lit("I"))
        .alias("type"),
        (F.col("event_id") % 5 == 0).alias("is_pro"),
    )


def load_trades(
    spark: SparkSession, sf_dir: str, fan_out: bool = False
) -> DataFrame:
    """`fan_out=True` repartitions the raw events scan to full parallelism
    BEFORE the JSON/regex-bearing projection — for validation/window-heavy
    consumers when the source is a single-row-group file (test-scale
    artifact; a no-op once the scan splits naturally)."""
    events = load_table(spark, sf_dir, "events")
    if fan_out:
        import os

        from marketstream_etl_spark.sources.layout import fan_out_small_scan

        nbytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
        events = fan_out_small_scan(events, input_bytes=nbytes)
    return trades_from_events(events)
