"""CUSUM change-point detection over per-symbol minute closes — the
batch applyInPandas operator (the designed escape hatch the rest of the
repo deliberately avoids: the CUSUM recursion
s_t = max(0, s_{t-1} + dev_t) with alarm-reset is NOT prefix-sum
decomposable, so no window/aggregate composition can express it; each
symbol's bounded bar series runs through an Arrow-batched pandas loop).

Cross-engine determinism: the whole recursion runs in EXACT INT64
fixed-point (closes are the round-4 bar values → e4 integers; the
reference mean is an integer division; slack k = mean/1000 and
threshold h = mean/100 are integer divisions), so a DuckDB RECURSIVE
CTE replays it bit-for-bit — the correctness gate hash-checks a
stateful iterative algorithm end-to-end.

Scale: one hash aggregate builds the bars (the shared OHLC shape); the
pandas stage shuffles once on symbol and each group is bounded by the
minute grid, not trade count.  Alarm semantics: one-sided CUSUMs in
both directions, alarm when s > h, reset to 0 after each alarm.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.fixedpoint import to_fx

CUSUM_K_DIV = 1000  # slack = mean_e4 // 1000  (0.1% of mean)
CUSUM_H_DIV = 100   # threshold = mean_e4 // 100 (1% of mean)

_OUT_SCHEMA = (
    "symbol string, n_bars long, alarms_up long, alarms_down long, "
    "first_alarm_bar long, max_s_up_e4 long, max_s_down_e4 long"
)


def _cusum_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("bar")
    xs = [int(v) for v in pdf["close_e4"]]
    n = len(xs)
    mean = sum(xs) // n
    k = mean // CUSUM_K_DIV
    h = mean // CUSUM_H_DIV
    s_up = s_dn = 0
    alarms_up = alarms_dn = 0
    first_alarm = None
    max_up = max_dn = 0
    bars = [int(v) for v in pdf["bar"]]
    for x, b in zip(xs, bars):
        s_up = max(0, s_up + (x - mean - k))
        s_dn = max(0, s_dn + (mean - x - k))
        if s_up > max_up:
            max_up = s_up
        if s_dn > max_dn:
            max_dn = s_dn
        if s_up > h:
            alarms_up += 1
            if first_alarm is None:
                first_alarm = b
            s_up = 0
        if s_dn > h:
            alarms_dn += 1
            if first_alarm is None:
                first_alarm = b
            s_dn = 0
    return pd.DataFrame(
        {
            "symbol": [pdf["symbol"].iloc[0]],
            "n_bars": [n],
            "alarms_up": [alarms_up],
            "alarms_down": [alarms_dn],
            "first_alarm_bar": [first_alarm],
            "max_s_up_e4": [max_up],
            "max_s_down_e4": [max_dn],
        }
    )


def cusum_changepoints(trades: DataFrame) -> DataFrame:
    """Per-symbol CUSUM alarms over 1-minute closes.

    Output: (symbol, n_bars, alarms_up, alarms_down, first_alarm_bar,
    max_s_up_e4, max_s_down_e4)."""
    key = F.struct("timestamp", "trade_id", "price")
    bars = (
        trades.withColumn("bar", F.expr("timestamp DIV 60000000000"))
        .groupBy("symbol", "bar")
        .agg(
            to_fx(F.round(F.max(key).getField("price"), 4), 10_000).alias(
                "close_e4"
            )
        )
    )
    return (
        bars.groupBy("symbol")
        .applyInPandas(_cusum_group, schema=_OUT_SCHEMA)
    )


def cusum_changepoints_sql() -> str:
    """DuckDB replay: a RECURSIVE CTE walks each symbol's bar sequence
    carrying the two CUSUM accumulators, alarm counters, and first-alarm
    marker — identical int64 arithmetic at every step.

    The pre-recursion CTEs are AS MATERIALIZED: without the hint DuckDB
    inlines them into the recursive leg, re-evaluating the full trades
    parse + bar aggregation on EVERY one of the ~2000 iterations
    (measured 64s at sf0.01; materialized: ~4s — the recursion then
    joins a tiny (symbol, rn, close_e4) frame per step)."""
    return f"""
        WITH RECURSIVE trades AS ({{TRADES_CTE}}),
        bars0 AS MATERIALIZED (
            SELECT symbol, "timestamp" // 60000000000 AS bar, price,
                   row_number() OVER (PARTITION BY symbol,
                                          "timestamp" // 60000000000
                                      ORDER BY "timestamp" DESC,
                                          trade_id DESC) AS rn_d
            FROM trades
        ),
        bars AS MATERIALIZED (
            SELECT symbol, bar,
                   CAST(floor(round(max(CASE WHEN rn_d = 1 THEN price END),
                                    4) * 1e4 + CAST(0.5 AS DOUBLE))
                        AS BIGINT) AS close_e4
            FROM bars0 GROUP BY symbol, bar
        ),
        seq AS MATERIALIZED (
            SELECT symbol, bar, close_e4,
                   row_number() OVER (PARTITION BY symbol
                                      ORDER BY bar) AS rn
            FROM bars
        ),
        params AS MATERIALIZED (
            SELECT symbol,
                   count(*) AS n_bars,
                   CAST(sum(close_e4) // count(*) AS BIGINT) AS mean_e4
            FROM seq GROUP BY symbol
        ),
        walk AS (
            SELECT p.symbol, 0 AS rn,
                   CAST(0 AS BIGINT) AS s_up, CAST(0 AS BIGINT) AS s_dn,
                   CAST(0 AS BIGINT) AS alarms_up,
                   CAST(0 AS BIGINT) AS alarms_dn,
                   CAST(NULL AS BIGINT) AS first_alarm,
                   CAST(0 AS BIGINT) AS max_up, CAST(0 AS BIGINT) AS max_dn,
                   p.mean_e4, p.mean_e4 // {CUSUM_K_DIV} AS k,
                   p.mean_e4 // {CUSUM_H_DIV} AS h, p.n_bars
            FROM params p
            UNION ALL
            SELECT w.symbol, w.rn + 1,
                   CASE WHEN greatest(0, w.s_up + (s.close_e4 - w.mean_e4
                                                   - w.k)) > w.h
                        THEN 0
                        ELSE greatest(0, w.s_up + (s.close_e4 - w.mean_e4
                                                   - w.k)) END,
                   CASE WHEN greatest(0, w.s_dn + (w.mean_e4 - s.close_e4
                                                   - w.k)) > w.h
                        THEN 0
                        ELSE greatest(0, w.s_dn + (w.mean_e4 - s.close_e4
                                                   - w.k)) END,
                   w.alarms_up
                     + CASE WHEN greatest(0, w.s_up + (s.close_e4
                              - w.mean_e4 - w.k)) > w.h THEN 1 ELSE 0 END,
                   w.alarms_dn
                     + CASE WHEN greatest(0, w.s_dn + (w.mean_e4
                              - s.close_e4 - w.k)) > w.h THEN 1 ELSE 0 END,
                   coalesce(w.first_alarm,
                            CASE WHEN greatest(0, w.s_up + (s.close_e4
                                   - w.mean_e4 - w.k)) > w.h
                                  OR greatest(0, w.s_dn + (w.mean_e4
                                   - s.close_e4 - w.k)) > w.h
                                 THEN s.bar END),
                   greatest(w.max_up, greatest(0, w.s_up + (s.close_e4
                            - w.mean_e4 - w.k))),
                   greatest(w.max_dn, greatest(0, w.s_dn + (w.mean_e4
                            - s.close_e4 - w.k))),
                   w.mean_e4, w.k, w.h, w.n_bars
            FROM walk w
            JOIN seq s ON s.symbol = w.symbol AND s.rn = w.rn + 1
        )
        SELECT symbol, n_bars,
               alarms_up, alarms_dn AS alarms_down,
               first_alarm AS first_alarm_bar,
               max_up AS max_s_up_e4, max_dn AS max_s_down_e4
        FROM walk w
        WHERE rn = n_bars
        ORDER BY symbol
    """
