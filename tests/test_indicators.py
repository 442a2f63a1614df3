"""Indicator goldens hand-computed from the reference algorithms
(TechnicalIndicators.hpp:204-330), including the worked RSI example in its
own docstring (:244-249) and the edge cases at :252-253, :283-284."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from marketstream_etl_spark.operators.indicators import (
    compute_indicators,
    rolling_indicators,
)


def trades_df(spark, series):
    """series: {symbol: [(price, volume), ...]} in time order."""
    rows = []
    i = 0
    for sym, pvs in series.items():
        for price, volume in pvs:
            rows.append(
                Row(
                    trade_id=i,
                    symbol=sym,
                    timestamp=1_000_000 + i,
                    price=float(price),
                    volume=int(volume),
                )
            )
            i += 1
    return spark.createDataFrame(rows)


def by_symbol(df):
    return {r["symbol"]: r.asDict() for r in df.collect()}


def test_reference_docstring_rsi_example(spark):
    # prices 100,102,101,103,105 → changes +2,-1,+2,+2 → avg_gain 1.5,
    # avg_loss 0.25 → RS 6 → RSI 100-100/7 = 85.714285...
    df = trades_df(spark, {"A": [(p, 10) for p in [100, 102, 101, 103, 105]]})
    got = by_symbol(compute_indicators(df, period=4))["A"]
    assert got["rsi"] == pytest.approx(100 - 100 / 7.0)
    # SMA(4) = mean of last 4 = (102+101+103+105)/4
    assert got["sma"] == pytest.approx((102 + 101 + 103 + 105) / 4)
    assert got["period"] == 4


def test_sma_docstring_example(spark):
    # compute_sma([2456.75, 2457.00, 2458.00], 2) = 2457.50
    df = trades_df(spark, {"A": [(2456.75, 1), (2457.00, 1), (2458.00, 1)]})
    got = by_symbol(compute_indicators(df, period=2))["A"]
    assert got["sma"] == pytest.approx(2457.50)


def test_vwap(spark):
    # VWAP = (100*10 + 200*30) / 40 = 175
    df = trades_df(spark, {"A": [(100, 10), (200, 30)]})
    got = by_symbol(compute_indicators(df, period=5))["A"]
    assert got["vwap"] == pytest.approx(175.0)


def test_rsi_edge_single_price_is_50(spark):
    df = trades_df(spark, {"A": [(100, 1)]})
    got = by_symbol(compute_indicators(df, period=5))["A"]
    assert got["rsi"] == 50.0
    assert got["period"] == 1  # effective_period = min(5, 1)
    assert got["sma"] == pytest.approx(100.0)


def test_rsi_edge_all_gains_is_100(spark):
    df = trades_df(spark, {"A": [(100, 1), (101, 1), (102, 1)]})
    got = by_symbol(compute_indicators(df, period=5))["A"]
    assert got["rsi"] == 100.0


def test_period_clamped_to_group_size(spark):
    # 3 rows, period 5 → effective_period 3; SMA over all 3;
    # RSI over min(3, 2) = 2 changes.
    df = trades_df(spark, {"A": [(100, 1), (90, 1), (95, 1)]})
    got = by_symbol(compute_indicators(df, period=5))["A"]
    assert got["period"] == 3
    assert got["sma"] == pytest.approx(95.0)
    # changes: -10, +5 → avg_gain 2.5, avg_loss 5 → RS .5 → RSI 33.333
    assert got["rsi"] == pytest.approx(100 - 100 / 1.5)


def test_rsi_window_uses_last_period_plus_one_prices(spark):
    # 6 prices, period 3 → changes over last 4 prices only (start_idx = 2)
    prices = [100, 50, 60, 55, 65, 70]
    df = trades_df(spark, {"A": [(p, 1) for p in prices]})
    got = by_symbol(compute_indicators(df, period=3))["A"]
    # last 3 changes: -5, +10, +5 → avg_gain 5, avg_loss 5/3 → RS 3 → 75
    assert got["rsi"] == pytest.approx(75.0)


def test_multi_symbol_independence(spark):
    df = trades_df(
        spark,
        {"A": [(100, 1), (110, 1)], "B": [(100, 1), (90, 1)]},
    )
    got = by_symbol(compute_indicators(df, period=5))
    assert got["A"]["rsi"] == 100.0  # all gains
    # all losses → avg_gain 0 → RS 0 → RSI 0
    assert got["B"]["rsi"] == pytest.approx(0.0)


def test_rolling_indicators_shape(spark):
    df = trades_df(spark, {"A": [(p, 1) for p in [100, 102, 101, 103, 105]]})
    out = rolling_indicators(df, period=3).orderBy("timestamp").collect()
    assert len(out) == 5
    # row 0: no change yet → neutral RSI, SMA = price, VWAP = price
    assert out[0]["rsi"] == 50.0
    assert out[0]["sma"] == pytest.approx(100.0)
    # row 2: trailing-3 SMA = (100+102+101)/3
    assert out[2]["sma"] == pytest.approx(101.0)
    # running VWAP at last row = mean (all volumes equal)
    assert out[4]["vwap"] == pytest.approx(sum([100, 102, 101, 103, 105]) / 5)


def _wilder_rsi_recursive(prices, period=14):
    """Literal Wilder recursion (textbook form) for the closed-form check."""
    changes = [b - a for a, b in zip(prices, prices[1:])]
    gains = [max(c, 0.0) for c in changes]
    losses = [max(-c, 0.0) for c in changes]
    m = len(changes)
    if m < 1:
        return None
    if m <= period:
        ag, al = sum(gains) / m, sum(losses) / m
    else:
        ag = sum(gains[:period]) / period
        al = sum(losses[:period]) / period
        for g, l in zip(gains[period:], losses[period:]):
            ag = (ag * (period - 1) + g) / period
            al = (al * (period - 1) + l) / period
    if al == 0.0:
        return 100.0
    return 100.0 - 100.0 / (1.0 + ag / al)


def test_wilder_closed_form_matches_recursion(spark):
    from marketstream_etl_spark.operators.indicators import compute_rsi_wilder

    # deterministic pseudo-walk long enough to exercise the post-seed regime
    prices = [100.0]
    for i in range(60):
        prices.append(prices[-1] + ((i * 7919) % 13 - 6) * 0.25)
    df = trades_df(spark, {"A": [(p, 10) for p in prices], "B": [(5.0, 1)] * 3})
    got = by_symbol(compute_rsi_wilder(df, period=14))
    assert got["A"]["rsi_wilder"] == pytest.approx(
        _wilder_rsi_recursive(prices, 14), abs=1e-9
    )
    assert got["A"]["n_changes"] == 60
    # flat series: all changes zero → avg_loss 0 → 100.0 by convention
    assert got["B"]["rsi_wilder"] == 100.0
    # single-row symbols produce no change rows and are absent
    df1 = trades_df(spark, {"C": [(9.0, 1)]})
    assert by_symbol(compute_rsi_wilder(df1, period=14)) == {}


# --- volume bars / purged k-fold ----------------------------------------------

def test_volume_bars_equal_information_sampling(spark, monkeypatch):
    """Volumes 6k,6k,6k with bar size 10k: cumulative-before values
    0,6k,12k -> bars 0,0,1; the bar break follows VOLUME, not time."""
    from marketstream_etl_spark.plans import analytics as an

    rows = [
        (1, 1, 1_000, "AAA", 10.0, 6000, "B", "M", False),
        (2, 2, 2_000, "AAA", 20.0, 6000, "S", "M", False),
        (3, 3, 3_000, "AAA", 30.0, 6000, "B", "M", False),
    ]
    t = spark.createDataFrame(rows, [
        "trade_id", "order_id", "timestamp", "symbol", "price", "volume",
        "side", "type", "is_pro",
    ])
    monkeypatch.setattr(an, "load_trades", lambda sp, sf, fan_out=False: t)
    got = {(r["symbol"], r["bar"]): (r["open"], r["close"], r["bar_volume"],
                                     r["n_trades"])
           for r in an.q_volume_bars(spark, "x").collect()}
    assert got[("AAA", 0)] == (10.0, 20.0, 12000, 2)
    assert got[("AAA", 1)] == (30.0, 30.0, 6000, 1)


def test_purged_kfold_embargo_accounting(spark, monkeypatch):
    """Blocks 0..4 with 10 rows each, K=5: every fold tests 10 rows,
    embargoes 20 (both neighbors), trains 20 -> train_frac 0.4; and
    test+embargo+train == total for every fold."""
    from marketstream_etl_spark.plans import analytics as an

    day = an.PURGE_BLOCK_NS
    rows = []
    tid = 0
    for b in range(5):
        for i in range(10):
            rows.append((tid, tid, b * day + i, "AAA", 1.0, 1, "B", "M",
                         False))
            tid += 1
    t = spark.createDataFrame(rows, [
        "trade_id", "order_id", "timestamp", "symbol", "price", "volume",
        "side", "type", "is_pro",
    ])
    monkeypatch.setattr(an, "load_trades", lambda sp, sf, fan_out=False: t)
    out = an.q_purged_kfold(spark, "x").collect()
    assert len(out) == 5
    for r in out:
        assert (r["n_test"], r["n_embargoed"], r["n_train"]) == (10, 20, 20)
        assert r["train_frac"] == 0.4


def test_microstructure_roll_spread_closed_form(spark, monkeypatch):
    """Alternating +1/-1 price bounce (bid-ask bounce): dp alternates
    +1,-1 -> cov(dp, dp_prev) = -sample var -> Roll spread ~ 2*sqrt(cov).
    A monotone ramp has positive serial covariance -> NULL spread."""
    from marketstream_etl_spark.plans import analytics as an

    rows = []
    tid = 0
    # BOUNCE: 10, 11, 10, 11, ... (dp alternates +1/-1)
    for i in range(10):
        rows.append((tid, tid, 1000 + tid, "BOUNCE",
                     10.0 + (i % 2), 100, "B" if i % 2 else "S", "M",
                     False))
        tid += 1
    # RAMP: strictly rising by 1 (dp constant +1 -> cov 0, no estimate)
    for i in range(10):
        rows.append((tid, tid, 1000 + tid, "RAMP", 10.0 + i, 100, "B",
                     "M", False))
        tid += 1
    t = spark.createDataFrame(rows, [
        "trade_id", "order_id", "timestamp", "symbol", "price", "volume",
        "side", "type", "is_pro",
    ])
    monkeypatch.setattr(an, "load_trades", lambda sp, sf, fan_out=False: t)
    got = {r["symbol"]: r for r in an.q_microstructure(spark, "x").collect()}
    assert got["RAMP"]["roll_spread"] is None  # cov >= 0 -> no estimate
    b = got["BOUNCE"]
    assert b["roll_spread"] is not None and 1.9 < b["roll_spread"] <= 2.3
    # amihud: avg(|1| / p_prev / 100) * 1e6 — positive and bounded
    assert 0 < b["amihud_x1e6"] < 1e4
