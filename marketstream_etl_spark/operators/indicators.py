"""Technical indicators — SMA / RSI / VWAP (A1-A4) with exact reference
semantics, plus rolling per-row variants.

Reference: ``/root/reference/src/indicators/TechnicalIndicators.hpp``.
`compute_all` (:79-138) groups by symbol and emits ONE row per symbol:

- effective_period = min(period, n_rows_of_symbol)            (:125)
- SMA  = mean of the LAST effective_period prices             (:204-224)
- RSI  over the last min(effective_period, n-1) price changes (:249-290):
    avg_gain = Σ max(change,0)/count ; avg_loss = Σ max(-change,0)/count
    n < 2 or effective_period <= 1 → 50.0 ; avg_loss == 0 → 100.0
    else 100 − 100/(1 + avg_gain/avg_loss)
- VWAP = Σ(price·volume)/Σ(volume) over ALL the symbol's rows (:310-330);
  zero total volume → 0.0

"Last" is by (timestamp, trade_id) — the intended canonical ordering
(Trade.hpp:36-37; generator timestamps are monotone).

Spark-first plan (`compute_indicators`): two small aggregates joined on
`symbol`.  The per-symbol sums are a codegen hash aggregate, and the
last-(period + 1) price tail is a `row_number()` filter that Spark limits
in each map task before its exchange.  Neither exchange grows with the
input.  No UDFs anywhere.  `rolling_indicators` (per-row values) and
`compute_rsi_wilder` (Wilder smoothing) compute other outputs over windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PERIOD = 5


def rsi_signal(rsi: Column) -> Column:
    """F4: RSI → OVERBOUGHT / OVERSOLD / NEUTRAL label
    (TechnicalIndicators.hpp:157-163, README.md:239-241)."""
    return (
        F.when(rsi >= 70, F.lit("OVERBOUGHT"))
        .when(rsi <= 30, F.lit("OVERSOLD"))
        .otherwise(F.lit("NEUTRAL"))
    )


def rolling_indicators(trades: DataFrame, period: int = DEFAULT_PERIOD) -> DataFrame:
    """Per-ROW rolling variants (the natural engine generalization of the
    reference's end-of-batch snapshot): trailing `period`-row SMA, trailing
    RSI, and running VWAP, per symbol ordered by (timestamp, trade_id).

    All three share one window partitioning → a single shuffle on symbol.
    """
    w = Window.partitionBy("symbol").orderBy("timestamp", "trade_id")
    w_sma = w.rowsBetween(-(period - 1), 0)
    w_rsi = w.rowsBetween(-(period - 1), 0)  # trailing `period` changes
    w_run = w.rowsBetween(Window.unboundedPreceding, 0)

    change = F.col("price") - F.lag("price").over(w)
    df = trades.withColumn("_change", change)
    n_ch = F.count("_change").over(w_rsi)  # NULL first-change excluded
    avg_gain = F.sum(F.when(df["_change"] > 0, df["_change"]).otherwise(F.lit(0.0))).over(
        w_rsi
    ) / n_ch
    avg_loss = F.sum(
        F.when(df["_change"] < 0, -df["_change"]).otherwise(F.lit(0.0))
    ).over(w_rsi) / n_ch
    rsi = (
        F.when(n_ch < 1, F.lit(50.0))
        .when(avg_loss == 0.0, F.lit(100.0))
        .otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss))
    )

    return (
        df.withColumn("sma", F.avg("price").over(w_sma))
        .withColumn("rsi", rsi)
        .withColumn(
            "vwap",
            F.sum(F.col("price") * F.col("volume")).over(w_run)
            / F.sum(F.col("volume").cast("double")).over(w_run),
        )
        .drop("_change")
    )


def _tail_indicators(
    joined: DataFrame, period: int, computed_at_ns: int | None
) -> DataFrame:
    """Final step: given one row per symbol with `_n/_pv/_v` totals
    and `_tail` = last ≤(period+1) prices most-recent-first, emit the
    reference indicator row (the clamps and edge cases of the module
    docstring, TechnicalIndicators.hpp:125,252-290).  SQL strings: the whole row is one
    parsed projection, not a tree of Column calls."""
    eff = f"least({period}, _n)"
    n_ch = f"CAST(least({eff}, _n - 1) AS DOUBLE)"
    # changes[i] = prices[i] - prices[i+1], most-recent change first
    used = (
        "slice(transform(slice(_tail, 1, size(_tail) - 1),"
        f" (p, i) -> p - element_at(_tail, i + 2)), 1, least({eff}, _n - 1))"
    )
    avg_gain = f"(aggregate({used}, 0.0D, (acc, x) -> acc + greatest(x, 0.0D)) / {n_ch})"
    avg_loss = f"(aggregate({used}, 0.0D, (acc, x) -> acc + greatest(-x, 0.0D)) / {n_ch})"
    cols = [
        "symbol",
        f"aggregate(slice(_tail, 1, {eff}), 0.0D, (acc, x) -> acc + x)"
        f" / CAST({eff} AS DOUBLE) AS sma",
        f"CASE WHEN _n < 2 OR {eff} <= 1 THEN 50.0D"
        f" WHEN {avg_loss} = 0.0D THEN 100.0D"
        f" ELSE 100.0D - 100.0D / (1.0D + {avg_gain} / {avg_loss}) END AS rsi",
        "CASE WHEN _v = 0.0D THEN 0.0D ELSE _pv / _v END AS vwap",
        f"CAST({eff} AS INT) AS period",
    ]
    if computed_at_ns is not None:
        cols.append(f"CAST({int(computed_at_ns)} AS BIGINT) AS computed_at")
    return joined.selectExpr(*cols)


def compute_indicators(
    trades: DataFrame,
    period: int = DEFAULT_PERIOD,
    computed_at_ns: int | None = None,
) -> DataFrame:
    """One indicator row per symbol — exact `compute_all` parity.

    Returns columns: symbol, sma, rsi, vwap, period (+ computed_at when
    `computed_at_ns` is given, mirroring the save-time stamp at
    DatabaseLoader.cpp:314-316).  The plan is two tiny aggregates joined on
    symbol:

    - **Sums:** count, Σ(price·volume) and Σvolume per symbol in a codegen
      hash aggregate; its exchange carries one partial row per (map task,
      symbol).
    - **Tail:** ``row_number() OVER (PARTITION BY symbol ORDER BY timestamp
      DESC, trade_id DESC, price DESC) <= period + 1``.  Spark plans the
      filter as a ``WindowGroupLimit``: a Partial limit in each map task
      before the exchange, a Final one after it, so the exchange carries at
      most period + 1 rows per (map task, symbol).  Ordering by price as
      well makes exact (timestamp, trade_id) ties deterministic: the lower
      price counts as the earlier trade.

    Both exchanges are independent of the input size (measured on 1M
    trades, 4 map tasks, 10 symbols: 2,364 + 6,126 shuffle bytes), at the
    price of a second scan of the input.  Memory is bounded by the per-task
    group limit; no group's rows are ever collected.  VWAP's float sums
    follow the partial-sum order, so another plan's may differ in the last
    ulp.
    """
    window = (
        "row_number() OVER (PARTITION BY symbol"
        " ORDER BY `timestamp` DESC, trade_id DESC, price DESC)"
    )
    sums = trades.groupBy("symbol").agg(
        F.expr("count(1) AS _n"),
        F.expr("sum(price * volume) AS _pv"),
        F.expr("sum(CAST(volume AS DOUBLE)) AS _v"),
    )
    tail = (
        trades.selectExpr("symbol", "price", f"{window} AS _rn")
        .where(f"_rn <= {period + 1}")
        .groupBy("symbol")
        .agg(
            # most-recent-first price tail
            F.expr(
                "transform(array_sort(collect_list(struct(_rn, price))),"
                " s -> s.price) AS _tail"
            )
        )
    )
    return _tail_indicators(sums.join(tail, "symbol"), period, computed_at_ns)


def compute_rsi_wilder(
    trades: DataFrame, period: int = 14
) -> DataFrame:
    """Engine extension: Wilder-smoothed RSI (the industry-standard variant;
    the reference's RSI at TechnicalIndicators.hpp:249-290 uses a plain
    average over the trailing window instead).

    Wilder's recursion  avg_t = (avg_{t-1}·(period−1) + x_t) / period  with a
    simple-average seed over the first `period` changes is rewritten in
    CLOSED FORM so it stays a single shuffle with no iterative driver loop:
    with α = 1/period and m changes per symbol, change j (1-based, ordered by
    (timestamp, trade_id)) contributes weight

        m ≤ period : 1/m                      (seed regime — simple average)
        j ≤ period : (1−α)^(m−period) / period   (decayed seed share)
        else       : α · (1−α)^(m−j)             (recursion unrolled)

    avg_gain = Σ wⱼ·gainⱼ, avg_loss = Σ wⱼ·lossⱼ — exact, per-row weights,
    fully parallel partial aggregation.  At 100 TB this is one hash shuffle
    on symbol, with no per-symbol sort of the full history in the aggregate
    itself (the lag/row_number window is the only sort).

    Output: symbol, n_changes, rsi_wilder, signal — one row per symbol.
    """
    alpha = 1.0 / float(period)
    w_asc = Window.partitionBy("symbol").orderBy("timestamp", "trade_id")
    w_all = Window.partitionBy("symbol")

    ann = trades.select(
        "symbol",
        (F.col("price") - F.lag("price").over(w_asc)).alias("_change"),
        (F.row_number().over(w_asc) - F.lit(1)).alias("_j"),
        (F.count("*").over(w_all) - F.lit(1)).alias("_m"),
    ).filter(F.col("_change").isNotNull())

    m = F.col("_m").cast("double")
    j = F.col("_j").cast("double")
    decay = F.lit(1.0 - alpha)
    weight = (
        F.when(F.col("_m") <= period, F.lit(1.0) / m)
        .when(
            F.col("_j") <= period,
            F.pow(decay, m - F.lit(float(period))) / F.lit(float(period)),
        )
        .otherwise(F.lit(alpha) * F.pow(decay, m - j))
    )
    gain = F.greatest(F.col("_change"), F.lit(0.0))
    loss = F.greatest(-F.col("_change"), F.lit(0.0))

    agg = ann.groupBy("symbol").agg(
        F.max("_m").alias("n_changes"),
        F.sum(weight * gain).alias("_ag"),
        F.sum(weight * loss).alias("_al"),
    )
    rsi = (
        F.when(F.col("n_changes") < 1, F.lit(50.0))
        .when(F.col("_al") == 0.0, F.lit(100.0))
        .otherwise(
            F.lit(100.0)
            - F.lit(100.0) / (F.lit(1.0) + F.col("_ag") / F.col("_al"))
        )
    )
    return agg.select(
        "symbol",
        "n_changes",
        rsi.alias("rsi_wilder"),
    ).withColumn("signal", rsi_signal(F.col("rsi_wilder")))


# The traced etl_1m mirror (perfbench/workloads.py::Etl._traced) is this
# name's only importer; ROADMAP item 8's benchmark change moves that mirror
# to compute_indicators and deletes this alias.
compute_indicators_auto = compute_indicators
