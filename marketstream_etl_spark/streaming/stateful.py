"""Custom stateful streaming operator: exact last-N per-symbol indicators on
an unbounded stream via applyInPandasWithState.

The reference computes SMA/RSI over the last N *rows* per symbol — row
frames are inexpressible with built-in streaming windows (SURVEY §7 trap 1),
so this is the designed escape hatch: keyed state holding the trailing
`period+1` prices plus running VWAP accumulators, updated per micro-batch in
Arrow-batched pandas.  State is O(period) per symbol — bounded, so a
1000-executor run with millions of keys stays in the state store's budget.

Semantics match operators/indicators.compute_indicators evaluated over the
full stream prefix (verified in tests against the batch implementation).
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from marketstream_etl_spark.plans.trades_view import TRADES_CTE, VALID_WHERE
from marketstream_etl_spark.registry import register

# PySpark 4.1.2's applyInPandasWithState serializer pads each output batch
# with all-NA rows and passes them to pd.concat
# (pyspark/sql/pandas/serializers.py:1696), so pandas prints this
# FutureWarning once per batch.  The Python workers import this module to
# unpickle the state function, so the filter runs where it is raised.
warnings.filterwarnings(
    "ignore",
    message="The behavior of DataFrame concatenation with empty or all-NA",
    category=FutureWarning,
)

DEFAULT_PERIOD = 5

WILDER_PERIOD = 14

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("n_trades", T.LongType(), False),
        T.StructField("sma", T.DoubleType(), False),
        T.StructField("rsi", T.DoubleType(), False),
        T.StructField("vwap", T.DoubleType(), False),
        T.StructField("period", T.IntegerType(), False),
        T.StructField("rsi_wilder", T.DoubleType(), False),
    ]
)

# Wilder state is O(1) per key: seed sums (simple-average regime) plus the
# two running smoothed averages — the EWMA recursion needs no history, so
# the streaming variant of rsi_wilder (operators/indicators.py closed form)
# is just four accumulators.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("prices", T.ArrayType(T.DoubleType()), True),
        T.StructField("pv", T.DoubleType(), True),
        T.StructField("v", T.DoubleType(), True),
        T.StructField("n", T.LongType(), True),
        T.StructField("wsg", T.DoubleType(), True),
        T.StructField("wsl", T.DoubleType(), True),
        T.StructField("wag", T.DoubleType(), True),
        T.StructField("wal", T.DoubleType(), True),
    ]
)


def _indicators_from_state(
    prices: list[float], pv: float, v: float, n: int, period: int
) -> tuple[float, float, float, int]:
    """Reference math over the retained tail (TechnicalIndicators.hpp:204-330).

    `prices` holds the last period+1 prices — enough for both the SMA window
    (last eff rows) and the RSI change window (last min(eff, n-1) changes).
    """
    eff = min(period, n)
    sma = sum(prices[-eff:]) / eff if eff > 0 else 0.0
    if n < 2 or eff <= 1:
        rsi = 50.0
    else:
        n_changes = min(eff, n - 1)
        tail = prices[-(n_changes + 1):]
        changes = [b - a for a, b in zip(tail, tail[1:])]
        gain = sum(c for c in changes if c > 0) / len(changes)
        loss = sum(-c for c in changes if c < 0) / len(changes)
        if loss == 0.0:
            rsi = 100.0
        else:
            rsi = 100.0 - 100.0 / (1.0 + gain / loss)
    vwap = pv / v if v > 0 else 0.0
    return sma, rsi, vwap, eff


def _wilder_from_state(m: int, wag: float, wal: float) -> float:
    """Wilder RSI from the smoothed averages (same edge rules as the batch
    closed form, operators/indicators.compute_rsi_wilder)."""
    if m < 1:
        return 50.0
    if wal == 0.0:
        return 100.0
    return 100.0 - 100.0 / (1.0 + wag / wal)


def fold_batch(
    existing: tuple | None, batch: pd.DataFrame, period: int = DEFAULT_PERIOD
) -> tuple[tuple, dict]:
    """The keyed state transition of applyInPandasWithState: fold one
    micro-batch in canonical (timestamp, trade_id) order — shuffle delivery
    order is not deterministic, and the last-N tail depends on it
    (Trade.hpp:36-37 ordering); across batches the watermark-free contract
    is source order, as in the reference's SPSC queue.

    Returns (new_state_tuple, output_column_dict).  The Wilder recursion
    avg_t = (avg_{t-1}·(p−1) + x_t)/p with a simple-average seed is the
    incremental form of the batch closed-form weights — O(1) state.
    """
    if existing is not None:
        prices, pv, v, n, wsg, wsl, wag, wal = existing
        prices = list(prices)
    else:
        prices, pv, v, n = [], 0.0, 0.0, 0
        wsg, wsl, wag, wal = 0.0, 0.0, 0.0, 0.0
    order_cols = [c for c in ("timestamp", "trade_id") if c in batch.columns]
    if order_cols:
        batch = batch.sort_values(order_cols)
    keep = period + 1
    wp = float(WILDER_PERIOD)
    for price, volume in zip(batch["price"], batch["volume"]):
        price = float(price)
        if n >= 1:
            change = price - prices[-1]
            gain = change if change > 0 else 0.0
            loss = -change if change < 0 else 0.0
            m = n  # change index (1-based) == rows seen so far
            if m <= WILDER_PERIOD:
                wsg += gain
                wsl += loss
                wag = wsg / m
                wal = wsl / m
            else:
                wag = (wag * (wp - 1.0) + gain) / wp
                wal = (wal * (wp - 1.0) + loss) / wp
        prices.append(price)
        pv += price * float(volume)
        v += float(volume)
        n += 1
    if len(prices) > keep:
        prices = prices[-keep:]
    sma, rsi, vwap, eff = _indicators_from_state(prices, pv, v, n, period)
    out = {
        "n_trades": n,
        "sma": sma,
        "rsi": rsi,
        "vwap": vwap,
        "period": eff,
        "rsi_wilder": _wilder_from_state(n - 1, wag, wal),
    }
    return (prices, pv, v, n, wsg, wsl, wag, wal), out


def _concat_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame:
    chunks = list(pdfs)
    if chunks:
        return pd.concat(chunks, ignore_index=True)
    return pd.DataFrame({"price": [], "volume": []})


def _out_frame(symbol: str, out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "symbol": [symbol],
            "n_trades": [out["n_trades"]],
            "sma": [out["sma"]],
            "rsi": [out["rsi"]],
            "vwap": [out["vwap"]],
            "period": [out["period"]],
            "rsi_wilder": [out["rsi_wilder"]],
        }
    )


def make_update_fn(period: int = DEFAULT_PERIOD):
    def update(
        key: tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        existing = state.get if state.exists else None
        new_state, out = fold_batch(existing, _concat_batch(pdfs), period)
        state.update(new_state)
        yield _out_frame(key[0], out)

    return update


def streaming_indicators(
    ticks: DataFrame, period: int = DEFAULT_PERIOD
) -> DataFrame:
    """Per-symbol last-N indicator stream: one output row per symbol per
    micro-batch reflecting the whole stream prefix."""
    cols = ["symbol", "price", "volume"]
    for order_col in ("timestamp", "trade_id"):
        if order_col in ticks.columns:
            cols.append(order_col)
    return ticks.select(*cols).groupBy("symbol").applyInPandasWithState(
        make_update_fn(period),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def file_stream_stateful_indicators(spark, sf_dir: str) -> DataFrame:
    """The custom stateful operator under the driver's gate: bounded replay
    of the events-derived VALID trades through applyInPandasWithState, then
    the latest emission per symbol.  On replay the final state equals the
    batch `compute_indicators` snapshot, so even the Pandas-UDF state
    machinery is oracle-checked (the one genuinely non-SQL piece of the
    streaming surface gets a SQL oracle anyway)."""
    from marketstream_etl_spark.streaming.replay import (
        drain_to_memory,
        final_indicator_snapshot,
        valid_trades_stream,
    )

    valid = valid_trades_stream(spark, sf_dir)
    ind = streaming_indicators(valid, period=DEFAULT_PERIOD)
    emitted = drain_to_memory(ind, "stream_stateful", sf_dir)
    return final_indicator_snapshot(emitted)


# applyInPandasWithState final state on bounded replay == the batch
# last-N snapshot (the same window math as the `indicators` oracle,
# plus the running row count)
STREAMING_STATEFUL_SQL = f"""
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
            ,
            wchg AS (
                SELECT symbol,
                    price - lag(price) OVER (PARTITION BY symbol
                        ORDER BY "timestamp", trade_id) AS change,
                    row_number() OVER (PARTITION BY symbol
                        ORDER BY "timestamp", trade_id) - 1 AS j,
                    count(*) OVER (PARTITION BY symbol) - 1 AS m
                FROM valid
            ),
            wilder AS (
                SELECT symbol, max(m) AS m,
                    sum((CASE WHEN m <= 14 THEN 1.0 / m
                              WHEN j <= 14
                                  THEN power(1.0 - 1.0/14.0, m - 14.0) / 14.0
                              ELSE (1.0/14.0) * power(1.0 - 1.0/14.0, m - j)
                         END) * greatest(change, 0.0)) AS ag,
                    sum((CASE WHEN m <= 14 THEN 1.0 / m
                              WHEN j <= 14
                                  THEN power(1.0 - 1.0/14.0, m - 14.0) / 14.0
                              ELSE (1.0/14.0) * power(1.0 - 1.0/14.0, m - j)
                         END) * greatest(-change, 0.0)) AS al
                FROM wchg WHERE change IS NOT NULL GROUP BY symbol
            )
            SELECT agg.symbol,
                n AS n_trades,
                round(sma_raw, 6) AS sma,
                round(CASE WHEN n < 2 OR least(5, n) <= 1 THEN 50.0
                           WHEN loss_sum = 0.0 THEN 100.0
                           ELSE 100.0 - 100.0 / (1.0 +
                                (gain_sum / CAST(least(5, n - 1) AS DOUBLE))
                              / (loss_sum / CAST(least(5, n - 1) AS DOUBLE)))
                      END, 6) AS rsi,
                round(CASE WHEN v = 0 THEN 0.0 ELSE pv / v END, 6) AS vwap,
                CAST(least(5, n) AS INTEGER) AS period,
                round(CASE WHEN w.m < 1 THEN 50.0
                           WHEN w.al = 0.0 THEN 100.0
                           ELSE 100.0 - 100.0 / (1.0 + w.ag / w.al)
                      END, 4) AS rsi_wilder
            FROM agg JOIN wilder w ON w.symbol = agg.symbol
            ORDER BY agg.symbol
        """
register("streaming_stateful", file_stream_stateful_indicators, STREAMING_STATEFUL_SQL)
