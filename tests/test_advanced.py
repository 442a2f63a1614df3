"""Advanced-surface checks not covered by the DuckDB oracle."""

from __future__ import annotations

from marketstream_etl_spark.plans import advanced


def test_approx_aggs_error_bounds(spark, sf_dir):
    # the query now asserts the sketch bounds itself (oracle-visible
    # booleans); the test checks they hold and the exact values are sane
    r = advanced.q_approx_aggs(spark, sf_dir).collect()[0]
    assert r["parts_within_3pct"]
    assert r["p50_within_1pct"]
    assert r["exact_parts"] > 0 and r["exact_p50"] > 0


def test_sessionization_sane(spark, sf_dir):
    rows = advanced.q_sessionization(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_sessions"] >= 1
        assert r["n_events"] >= r["n_sessions"]
        assert r["max_session_s"] >= 0.0


def test_asof_enrich_covers_all_valid_trades(spark, sf_dir):
    out = advanced.q_asof_enrich(spark, sf_dir)
    n = out.count()
    assert n > 0
    # early trades (before the first sampled indicator) carry NULLs; later
    # ones must be enriched
    enriched = out.filter(out.asof_sma.isNotNull()).count()
    assert 0 < enriched <= n


def test_vwap_deviation_math_on_constructed_fills(spark, tmp_path):
    """Three fills, one symbol: running VWAP is hand-computable.
    fills: (p=10, v=1) -> vwap 10.0, dev 0
           (p=20, v=1) -> vwap 15.0, dev 5
           (p=20, v=2) -> vwap (10+20+40)/4 = 17.5, dev 2.5
    avg_abs_dev = 7.5/3 = 2.5, max_abs_dev = 5."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from marketstream_etl_spark.plans.analytics import q_vwap_deviation

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    fills = [  # (event_id, price, volume)
        (1, 10.0, 1),
        (2, 20.0, 1),
        (3, 20.0, 2),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e for e, _, _ in fills], pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=e) for e, _, _ in fills],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([100 + e for e, _, _ in fills], pa.int64()),
                "event_type": pa.array(["click"] * 3, pa.string()),
                "value": pa.array([p for _, p, _ in fills], pa.float64()),
                "props": pa.array(
                    [f'{{"k": {v}}}' for _, _, v in fills], pa.string()
                ),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    rows = q_vwap_deviation(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["symbol"] == "CLICK" and r["n_trades"] == 3
    assert r["avg_abs_dev"] == 2.5
    assert r["max_abs_dev"] == 5.0


def test_symbol_affinity_lift_math(spark, tmp_path):
    """3 accounts: u1 {A,B}, u2 {A,B}, u3 {A} ->
    n_accounts=3, n_A=3, n_B=2, n_both=2, lift = 2*3/(3*2) = 1.0."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from marketstream_etl_spark.plans.analytics import q_symbol_affinity

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [  # (event_id, user_id, event_type)
        (1, 11, "aa"), (2, 11, "bb"),
        (3, 22, "aa"), (4, 22, "bb"),
        (5, 33, "aa"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e for e, _, _ in rows], pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=e) for e, _, _ in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for _, u, _ in rows], pa.int64()),
                "event_type": pa.array([t for _, _, t in rows], pa.string()),
                "value": pa.array([10.0] * len(rows), pa.float64()),
                "props": pa.array(['{"k": 1}'] * len(rows), pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    out = q_symbol_affinity(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["symbol_a"], r["symbol_b"]) == ("AA", "BB")
    assert r["n_both"] == 2 and r["lift"] == 1.0


# --- Benford audit -----------------------------------------------------------

def test_benford_audit_semantics(spark, sf_dir):
    from marketstream_etl_spark.plans.advanced import (
        BENFORD_CHI2_CRIT_FP,
        q_benford_audit,
    )
    from marketstream_etl_spark.sources.tables import load_table

    rows = q_benford_audit(spark, sf_dir).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    n_priced = (
        load_table(spark, sf_dir, "orders")
        .filter("o_totalprice >= 1.0")
        .count()
    )
    assert sum(r["n_obs"] for r in rows) == n_priced
    # every row carries the same total; total == sum of fixed-point parts
    totals = {r["chi2_total"] for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    assert abs(total - sum(r["chi2_part"] for r in rows)) < 1e-9
    ok = {r["benford_ok"] for r in rows}.pop()
    assert ok == (round(total * 1e6) <= BENFORD_CHI2_CRIT_FP)


def test_benford_digit_extraction_is_string_of_floor(spark):
    """floor→bigint→string digit extraction: 0.xx values are filtered,
    9999.99 → '9', 1000000.5 → '1'."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0.5,), (9999.99,), (1000000.5,), (1.0,)], ["v"]
    )
    digit = F.substring(
        F.floor(F.col("v")).cast("long").cast("string"), 1, 1
    ).cast("int")
    got = (
        df.filter(F.col("v") >= 1.0)
        .select(digit.alias("d"))
        .orderBy("d")
        .collect()
    )
    assert [r["d"] for r in got] == [1, 1, 9]


# --- key skew profile ----------------------------------------------------------

def test_skew_profile_hand_computed(spark):
    """keys a,a,a,a,b,c: counts [4,1,1] -> skew 2.0, gini 1/3 (floored
    fixed-point), top1 4/6."""
    from marketstream_etl_spark.plans.advanced import _skew_profile_one

    df = spark.createDataFrame([(k,) for k in "aaaabc"], ["k"])
    r = _skew_profile_one(df, "t", "k").collect()[0]
    assert (r["n_rows"], r["n_keys"], r["max_cnt"]) == (6, 3, 4)
    assert r["avg_cnt"] == 2.0
    assert r["skew_ratio"] == 2.0
    assert r["top1_share"] == round(4 / 6, 6)
    assert r["gini"] == 0.333333


def test_skew_profile_uniform_keys_gini_zero(spark):
    from marketstream_etl_spark.plans.advanced import _skew_profile_one

    df = spark.createDataFrame([(k,) for k in "aabbcc"], ["k"])
    r = _skew_profile_one(df, "t", "k").collect()[0]
    assert r["gini"] == 0.0
    assert r["skew_ratio"] == 1.0


# --- attribution ---------------------------------------------------------------

def test_attribution_first_vs_last_touch(spark, sf_dir):
    """Constructed journey: click@1, view@2, purchase@3(v=10),
    signup@4, purchase@5(v=5).  First-touch credits both purchases to
    click; last-touch credits view and signup one each."""
    from marketstream_etl_spark.plans import advanced
    from marketstream_etl_spark.sources import tables as tbl

    rows = [
        (1, 1, 1_000, "click", 0.0, "{}"),
        (2, 1, 2_000, "view", 0.0, "{}"),
        (3, 1, 3_000, "purchase", 10.0, "{}"),
        (4, 1, 4_000, "signup", 0.0, "{}"),
        (5, 1, 5_000, "purchase", 5.0, "{}"),
        (6, 2, 1_000, "purchase", 7.0, "{}"),  # untouched purchase
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    orig = tbl.load_table
    try:
        tbl.load_table = lambda sp, sf, name: ev  # noqa: ARG005
        advanced.load_table = tbl.load_table
        out = {
            (r["model"], r["touch_type"]): (r["conversions"], r["value_sum"])
            for r in advanced.q_attribution_touch(spark, "ignored").collect()
        }
    finally:
        tbl.load_table = orig
        advanced.load_table = orig
    assert out[("first", "click")] == (2, 15.0)
    assert out[("first", "none")] == (1, 7.0)
    assert out[("last", "view")] == (1, 10.0)
    assert out[("last", "signup")] == (1, 5.0)
    assert out[("last", "none")] == (1, 7.0)


# --- PSI drift -------------------------------------------------------------------

def test_psi_identical_distributions_is_zero(spark, monkeypatch):
    """Same bucket shape in both segments -> every contribution 0,
    band 'stable'."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = []
    eid = 0
    for seg in ("click", "purchase"):
        for v, n in ((10.0, 4), (60.0, 2), (120.0, 2)):
            for _ in range(n):
                rows.append((eid, 1, 1000 + eid, seg, v, "{}"))
                eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_psi_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    assert all(r["psi_total"] == 0.0 and r["band"] == "stable" for r in out)
    assert all(r["psi_part"] == 0.0 for r in out)


def test_psi_disjoint_distributions_drifted(spark, monkeypatch):
    """Mass fully moved to a different bucket -> clamped log-ratio blows
    past 0.25 and the band reads 'drifted'."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(i, 1, 1000 + i, "click", 10.0, "{}") for i in range(10)]
    rows += [(100 + i, 1, 2000 + i, "purchase", 210.0, "{}") for i in range(10)]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_psi_drift(spark, "x").collect()
    assert out[0]["band"] == "drifted"
    assert out[0]["psi_total"] > 0.25


def test_psi_empty_segment_keeps_full_spine(spark, monkeypatch):
    """Zero 'purchase' rows: the report must still emit the full 10-row
    spine with the empty side clamped (n_seg=0 used to produce an empty
    totals frame whose no-condition join collapsed the report to 0 rows,
    silently diverging from the oracle's CROSS JOIN)."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(i, 1, 1000 + i, "click", 10.0, "{}") for i in range(5)]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_psi_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    # every purchase-side share sits at the clamp; totals are finite
    assert all(r["share_purchase"] == adv.PSI_CLAMP for r in out)
    assert all(r["psi_total"] == out[0]["psi_total"] for r in out)
    assert out[0]["band"] == "drifted"  # all mass vs clamp → huge PSI


def test_benford_zero_qualifying_orders(spark, monkeypatch):
    """All orders filtered out (o_totalprice < 1): chi-square is pinned
    to a defined 0 verdict instead of 0/0 NaN (which diverges across
    engines and throws under ANSI cast)."""
    from marketstream_etl_spark.plans import advanced as adv

    orders = spark.createDataFrame(
        [(1, 0.25), (2, 0.5)], ["o_orderkey", "o_totalprice"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: orders)
    # q_benford_audit promises no row order; compare by digit
    out = sorted(adv.q_benford_audit(spark, "x").collect(), key=lambda r: r["digit"])
    assert [r["digit"] for r in out] == list(range(1, 10))
    assert all(r["n_obs"] == 0 for r in out)
    assert all(r["obs_share"] == 0.0 for r in out)
    assert all(r["chi2_part"] == 0.0 and r["chi2_total"] == 0.0 for r in out)
    assert all(r["benford_ok"] for r in out)


def test_psi_empty_segment_matches_oracle(spark, tmp_path):
    """Cross-engine: the degenerate one-empty-segment corpus produces the
    SAME 10 rows from the Spark plan and the DuckDB oracle."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from marketstream_etl_spark.plans import advanced as adv

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    n = 6
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(list(range(n)), pa.int64()),
                "ts": pa.array(
                    [base + dt.timedelta(seconds=i) for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array([25.0 * i for i in range(n)], pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = [
        (r["bucket"], r["share_click"], r["share_purchase"],
         round(r["psi_part"], 6), round(r["psi_total"], 6), r["band"])
        for r in adv.q_psi_drift(spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet'"
    )
    want = [
        (r[0], r[1], r[2], round(r[3], 6), round(r[4], 6), r[5])
        for r in con.execute(adv.psi_drift_sql()).fetchall()
    ]
    assert got == want


# --- session transitions ---------------------------------------------------------

def test_session_transitions_hand_computed(spark, monkeypatch):
    """One user, two sessions (gap > 30 min): click->view->purchase then
    click-><end>; probabilities row-normalize per from-state."""
    from marketstream_etl_spark.plans import advanced as adv

    m = 60_000_000_000  # one minute in ns
    rows = [
        (1, 1, 0 * m, "click", 0.0, "{}"),
        (2, 1, 1 * m, "view", 0.0, "{}"),
        (3, 1, 2 * m, "purchase", 0.0, "{}"),
        (4, 1, 90 * m, "click", 0.0, "{}"),  # new session (88-min gap)
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob"])
        for r in adv.q_session_transitions(spark, "x").collect()
    }
    assert got[("click", "view")] == (1, 0.5)
    assert got[("click", "<end>")] == (1, 0.5)
    assert got[("view", "purchase")] == (1, 1.0)
    assert got[("purchase", "<end>")] == (1, 1.0)
    assert len(got) == 4


# --- rolling distinct -----------------------------------------------------------

def test_rolling_distinct_users_range_frame(spark, monkeypatch):
    """Events at 0, 30m, 61m for users 1,2,1: the third row's trailing
    hour holds only the 30m event (user 2) and itself (user 1) -> 2;
    a boundary event exactly 1h later than the first INCLUDES it
    (closed frame)."""
    from marketstream_etl_spark.plans import advanced as adv

    m = 60_000_000_000
    rows = [
        (1, 1, 0 * m, "click", 0.0, "{}"),
        (2, 2, 30 * m, "click", 0.0, "{}"),
        (3, 1, 61 * m, "click", 0.0, "{}"),
        (4, 3, 60 * m, "view", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    got = {r["event_id"]: r["hourly_users"]
           for r in adv.q_rolling_distinct_users(spark, "x").collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


# --- lateness audit ----------------------------------------------------------------

def test_lateness_audit_running_max_semantics(spark, monkeypatch):
    """Arrival order 1,2,3 with event-times 10m,5m,20m: event 2 is 5min
    late vs the running max, events 1 and 3 are on time."""
    from marketstream_etl_spark.plans import advanced as adv

    m = 60_000_000_000
    rows = [
        (1, 1, 10 * m, "click", 0.0, "{}"),
        (2, 1, 5 * m, "click", 0.0, "{}"),
        (3, 1, 20 * m, "click", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    r = adv.q_lateness_audit(spark, "x").collect()[0]
    assert (r["n_events"], r["n_late"]) == (3, 1)
    assert r["max_late_ms"] == 5 * 60 * 1000.0
    assert r["avg_late_ms"] == round(5 * 60 * 1000.0 / 3, 6)


# --- funnel ------------------------------------------------------------------

def test_funnel_ordered_semantics(spark, monkeypatch):
    """Order matters: u1 completes view→click→purchase; u2 has the events
    out of order (purchase first) and must stall at its in-order prefix;
    u3 only views; u4 clicks without a prior view (reaches nothing)."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [  # (event_id, user_id, ts, event_type)
        (1, 1, 100, "view"), (2, 1, 200, "click"), (3, 1, 300, "purchase"),
        (4, 2, 100, "purchase"), (5, 2, 200, "view"), (6, 2, 300, "click"),
        (7, 3, 100, "view"),
        (8, 4, 100, "click"),
    ]
    ev = spark.createDataFrame(
        [(e, u, t, ty, 1.0, "{}") for e, u, t, ty in rows],
        ["event_id", "user_id", "ts", "event_type", "value", "props"],
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = {r["step"]: r for r in adv.q_funnel_steps(spark, "x").collect()}
    assert out[1]["n_users"] == 3        # u1, u2, u3 viewed
    assert out[2]["n_users"] == 2        # u1, u2 clicked after a view
    assert out[3]["n_users"] == 1        # only u1 purchased in order
    assert out[2]["conv_from_prev"] == 0.666667  # floor(2/3*1e6+0.5)/1e6
    assert out[3]["conv_from_prev"] == 0.5
    assert out[3]["conv_from_first"] == 0.333333
    assert out[1]["conv_from_prev"] == 1.0


def test_funnel_single_shuffle_plan(spark, sf_dir):
    """The chained running-max windows must share ONE user_id exchange —
    a second sort/exchange would double the dominant cost at scale."""
    from marketstream_etl_spark.plans import advanced as adv

    plan = (
        adv.q_funnel_steps(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n_user_exchanges = plan.count("hashpartitioning(user_id")
    assert n_user_exchanges <= 2, plan  # window chain + groupBy reuse


def test_candlestick_patterns_hand_computed(spark, monkeypatch):
    """Constructed bars: bar1 doji (tiny body, wide range), bar2 bearish,
    bar3 bullish engulfing bar2, bar4 hammer."""
    import datetime as dt

    from marketstream_etl_spark.plans import analytics as an

    minute = 60_000_000_000
    # (trade_id, bar_idx, price, role) — open/close by (ts, trade_id)
    rows = []

    def bar(idx, o, h, l, c):
        base = idx * minute
        rows.append((idx * 10 + 1, base + 1, o))
        rows.append((idx * 10 + 2, base + 2, h))
        rows.append((idx * 10 + 3, base + 3, l))
        rows.append((idx * 10 + 4, base + 4, c))

    bar(1, 10.0, 11.0, 9.0, 10.02)    # doji: body .02 <= .1*2.0
    bar(2, 10.8, 10.9, 10.1, 10.2)    # bearish
    bar(3, 10.1, 11.2, 10.0, 11.0)    # bullish engulfing of bar2
    bar(4, 10.5, 10.55, 9.0, 10.45)   # hammer-ish: body .05, lower 1.45, upper .1
    # upper (.1) > body (.05) -> NOT a hammer by the strict rule; make
    # bar5 a clean hammer: open=close+0 shadow shapes
    bar(5, 10.5, 10.52, 9.0, 10.48)   # body .02, upper .02<= body? .02<=.02 ok, lower 1.48>=.04

    trades = spark.createDataFrame(
        [(tid, ts, p) for tid, ts, p in rows],
        ["trade_id", "timestamp", "price"],
    ).selectExpr(
        "trade_id", "timestamp", "'AAPL' AS symbol",
        "price", "100 AS volume",
    )
    monkeypatch.setattr(
        an, "load_trades", lambda sp, sf, fan_out=False: trades
    )
    out = an.q_candlestick_patterns(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_bars"] == 5
    # bars 1, 4, 5 have body <= 10% of range; bars 4 and 5 additionally
    # satisfy the hammer shadows (lower >= 2*body, upper <= body)
    assert r["n_doji"] == 3
    assert r["n_hammer"] == 2
    assert r["n_bull_engulf"] == 1   # bar3 engulfs bar2
    assert r["n_bear_engulf"] == 0


def test_cusum_hand_computed(spark):
    """Constructed series: mean 100000 e4 (=10.0), k=100, h=1000.
    Bars at 10.0 then a +0.15 step: deviations per bar = 1500-100=1400
    -> alarm on the first stepped bar (1400 > 1000), reset, alarm again
    every bar after."""
    from marketstream_etl_spark.operators.changepoint import (
        cusum_changepoints,
    )

    minute = 60_000_000_000
    rows = []
    # 8 bars at 10.00, then 4 bars at 10.30 (step up) -> mean moves;
    # compute expectations in the test mirror loop instead of by hand
    prices = [10.0] * 8 + [10.3] * 4
    for i, p in enumerate(prices):
        rows.append((i + 1, i * minute + 1, p))
    trades = spark.createDataFrame(
        rows, ["trade_id", "timestamp", "price"]
    ).selectExpr("trade_id", "timestamp", "'AAPL' AS symbol", "price")
    out = cusum_changepoints(trades).collect()[0]

    # mirror loop (same int64 math as the operator)
    xs = [int(p * 1e4 + 0.5) for p in prices]
    mean = sum(xs) // len(xs)
    k, h = mean // 1000, mean // 100
    s_up = s_dn = up = dn = 0
    first = None
    for i, x in enumerate(xs):
        s_up = max(0, s_up + (x - mean - k))
        s_dn = max(0, s_dn + (mean - x - k))
        if s_up > h:
            up += 1
            first = first if first is not None else i
            s_up = 0
        if s_dn > h:
            dn += 1
            first = first if first is not None else i
            s_dn = 0
    assert out["n_bars"] == len(prices)
    assert out["alarms_up"] == up and up > 0
    assert out["alarms_down"] == dn
    assert (out["first_alarm_bar"] is None) == (first is None)


# --- KS drift --------------------------------------------------------------------

def test_ks_identical_distributions_is_zero(spark, monkeypatch):
    """Same bucket shape in both segments -> all CDF gaps 0, ks_stat 0,
    not drifted."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = []
    eid = 0
    for seg in ("click", "purchase"):
        for v, n in ((10.0, 4), (60.0, 2), (120.0, 2)):
            for _ in range(n):
                rows.append((eid, 1, 1000 + eid, seg, v, "{}"))
                eid += 1
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_ks_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    assert all(r["cdf_gap_e6"] == 0 for r in out)
    assert all(r["ks_stat"] == 0.0 and r["drifted"] is False for r in out)
    # the grid CDF ends at 1.0 on both sides
    assert out[-1]["cdf_click"] == 1.0 and out[-1]["cdf_purchase"] == 1.0


def test_ks_disjoint_distributions_drifted(spark, monkeypatch):
    """Mass fully moved buckets -> D = 1.0 (the max possible), which
    beats any critical value at these sample sizes."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(i, 1, 1000 + i, "click", 10.0, "{}") for i in range(10)]
    rows += [(100 + i, 1, 2000 + i, "purchase", 210.0, "{}") for i in range(10)]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = sorted(
        adv.q_ks_drift(spark, "x").collect(), key=lambda r: r["bucket"]
    )  # output order is unspecified (r13)
    assert out[0]["ks_stat"] == 1.0
    assert all(r["drifted"] is True for r in out)
    # bucket 0 holds all click mass and no purchase mass
    assert out[0]["cdf_click"] == 1.0 and out[0]["cdf_purchase"] == 0.0


def test_ks_empty_segment_full_spine_not_drifted(spark, monkeypatch):
    """Zero 'purchase' rows: full 10-row spine, gaps pinned to 0 (denom
    guard), verdict false rather than a null-driven crash."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(i, 1, 1000 + i, "click", 10.0, "{}") for i in range(5)]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_ks_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    assert all(r["cdf_gap_e6"] == 0 and r["drifted"] is False for r in out)
    assert all(r["ks_crit_5pct"] is None for r in out)


# --- Mann-Whitney U drift ---------------------------------------------------------

def _mwu_events(spark, click_vals, purchase_vals):
    rows, eid = [], 0
    for seg, vals in (("click", click_vals), ("purchase", purchase_vals)):
        for v in vals:
            rows.append((eid, 1, 1000 + eid, seg, float(v), "{}"))
            eid += 1
    return spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )


def test_mwu_identical_distributions_not_drifted(spark, monkeypatch):
    """Same bucket shape on both sides -> U = n1*n2/2, z = 0, effect 0."""
    from marketstream_etl_spark.plans import advanced as adv

    vals = [10.0] * 4 + [60.0] * 2 + [120.0] * 2
    ev = _mwu_events(spark, vals, vals)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_mannwhitney_drift(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n1"] == 8 and r["n2"] == 8
    assert r["u_stat"] == 8 * 8 / 2
    assert r["z"] == 0.0 and r["rank_biserial"] == 0.0
    assert r["drifted"] is False


def test_mwu_fully_separated_drifted(spark, monkeypatch):
    """All click mass below all purchase mass -> U1 = 0, rank-biserial
    1.0, |z| far past the 1.96 line."""
    from marketstream_etl_spark.plans import advanced as adv

    ev = _mwu_events(spark, [10.0] * 12, [210.0] * 12)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    r = adv.q_mannwhitney_drift(spark, "x").collect()[0]
    assert r["u_stat"] == 0.0
    assert r["rank_biserial"] == 1.0
    assert r["z"] < -1.96 and r["drifted"] is True


def test_mwu_matches_hand_computed_midranks(spark, monkeypatch):
    """Mixed overlap case cross-checked against a from-scratch midrank
    computation (plain Python, exact integers) of the same binned data."""
    from marketstream_etl_spark.plans import advanced as adv

    click = [10.0] * 5 + [60.0] * 3 + [120.0] * 1
    purchase = [10.0] * 2 + [60.0] * 4 + [120.0] * 6
    ev = _mwu_events(spark, click, purchase)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    r = adv.q_mannwhitney_drift(spark, "x").collect()[0]

    # reference computation: buckets 0 (value 10), 1 (60), 2 (120)
    a = [5, 3, 1]
    c = [2, 4, 6]
    n1, n2 = sum(a), sum(c)
    cum_prev, r1_2, tie = 0, 0, 0
    for ab, cb in zip(a, c):
        t = ab + cb
        r1_2 += ab * (2 * cum_prev + t + 1)
        tie += t**3 - t
        cum_prev += t
    u1 = (r1_2 - n1 * (n1 + 1)) / 2
    n = n1 + n2
    var_u = n1 * n2 / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2) / var_u**0.5
    assert r["n1"] == n1 and r["n2"] == n2
    assert r["u_stat"] == u1
    assert abs(r["z"] - z) < 1e-6
    assert abs(r["rank_biserial"] - (1 - 2 * u1 / (n1 * n2))) < 1e-6


def test_mwu_empty_segment_guarded(spark, monkeypatch):
    """Zero purchase rows: variance degenerates, z/effect NULL, verdict
    pinned False rather than a crash or a null verdict."""
    from marketstream_etl_spark.plans import advanced as adv

    ev = _mwu_events(spark, [10.0] * 5, [])
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    r = adv.q_mannwhitney_drift(spark, "x").collect()[0]
    assert r["n1"] == 5 and r["n2"] == 0
    assert r["z"] is None and r["rank_biserial"] is None
    assert r["drifted"] is False


# --- chi-square drift -------------------------------------------------------------

def test_chi2_identical_distributions_not_drifted(spark, monkeypatch):
    """Same bucket shape on both sides -> every O == E, chi2 = 0."""
    from marketstream_etl_spark.plans import advanced as adv

    vals = [10.0] * 4 + [60.0] * 2 + [120.0] * 2
    ev = _mwu_events(spark, vals, vals)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_chi2_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    r = out[0]
    assert r["chi2_stat"] == 0.0 and r["cramers_v"] == 0.0
    assert r["drifted"] is False
    assert r["e_click"] == float(r["o_click"])
    assert all(row["contrib_e6"] == 0 for row in out)


def test_chi2_fully_separated_drifted(spark, monkeypatch):
    """Complete separation in a 2x2 effective table: chi2 == N, dof 1,
    Cramer's V == 1, far past the 3.84 critical line."""
    from marketstream_etl_spark.plans import advanced as adv

    ev = _mwu_events(spark, [10.0] * 12, [210.0] * 12)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_chi2_drift(spark, "x").collect()
    r = out[0]
    assert r["chi2_stat"] == 24.0  # == N for total separation
    assert r["dof"] == 1  # 2 nonempty columns x 2 rows
    assert r["chi2_crit_5pct"] == 3.841459
    assert r["cramers_v"] == 1.0
    assert r["drifted"] is True


def test_chi2_matches_hand_computed_table(spark, monkeypatch):
    """Mixed overlap case cross-checked against a from-scratch Pearson
    computation (plain Python) of the same binned contingency table."""
    from marketstream_etl_spark.plans import advanced as adv

    click = [10.0] * 5 + [60.0] * 3 + [120.0] * 1
    purchase = [10.0] * 2 + [60.0] * 4 + [120.0] * 6
    ev = _mwu_events(spark, click, purchase)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_chi2_drift(spark, "x").collect()
    r = out[0]

    a = [5, 3, 1]
    c = [2, 4, 6]
    r1, r2 = sum(a), sum(c)
    n = r1 + r2
    chi2 = 0.0
    for ab, cb in zip(a, c):
        t = ab + cb
        for obs, row in ((ab, r1), (cb, r2)):
            e = row * t / n
            chi2 += (obs - e) ** 2 / e
    assert abs(r["chi2_stat"] - chi2) < 2e-6  # two e6-rounded cells/bucket
    assert r["dof"] == 2  # 3 nonempty columns
    assert r["chi2_crit_5pct"] == 5.991465
    assert abs(r["cramers_v"] - (chi2 / n) ** 0.5) < 1e-5
    assert r["drifted"] is (chi2 > 5.991465)
    # expected counts surface per bucket
    assert out[0]["e_click"] == round(r1 * (a[0] + c[0]) / n, 6)


def test_chi2_empty_segment_guarded(spark, monkeypatch):
    """Zero purchase rows: one nonempty row -> dof 0, chi2 0, NULL
    critical value, verdict pinned False rather than a crash."""
    from marketstream_etl_spark.plans import advanced as adv

    ev = _mwu_events(spark, [10.0] * 5, [])
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_chi2_drift(spark, "x").collect()
    assert len(out) == adv.PSI_N_BUCKETS
    r = out[0]
    assert r["chi2_stat"] == 0.0 and r["dof"] == 0
    assert r["chi2_crit_5pct"] is None
    assert r["drifted"] is False


# --- A/B test --------------------------------------------------------------------

def _ab_events(spark, rows):
    return spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )


def test_ab_identical_rates_not_significant(spark, monkeypatch):
    """Same purchase rate in both variants -> z = 0, not significant."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = []
    for uid in (0, 1):  # control (even) and treatment (odd)
        for i in range(10):
            et = "purchase" if i < 3 else "click"
            rows.append((uid * 100 + i, uid, 1000 + i, et, 1.0, "{}"))
    monkeypatch.setattr(
        adv, "load_table", lambda sp, sf, name: _ab_events(sp, rows)
    )
    out = {r["variant"]: r for r in adv.q_ab_test(spark, "x").collect()}
    assert out["control"]["purchase_rate"] == 0.3
    assert out["treatment"]["purchase_rate"] == 0.3
    assert out["control"]["z_stat"] == 0.0
    assert not out["control"]["significant"]


def test_ab_divergent_rates_significant(spark, monkeypatch):
    """0% vs 50% purchase rate over 200 events/variant -> |z| >> 1.96."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = []
    for i in range(200):
        rows.append((i, 0, 1000 + i, "click", 1.0, "{}"))          # control
        et = "purchase" if i % 2 == 0 else "click"
        rows.append((1000 + i, 1, 2000 + i, et, 1.0, "{}"))         # treat
    monkeypatch.setattr(
        adv, "load_table", lambda sp, sf, name: _ab_events(sp, rows)
    )
    out = {r["variant"]: r for r in adv.q_ab_test(spark, "x").collect()}
    assert out["treatment"]["purchase_rate"] == 0.5
    assert out["control"]["purchase_rate"] == 0.0
    assert out["control"]["significant"] is True
    assert out["control"]["z_stat"] > 1.96


def test_ab_single_variant_null_guard(spark, monkeypatch):
    """Only control users: the pivot still emits one row, z is NULL,
    significant pinned false — no divide-by-zero, no collapsed report."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(i, 0, 1000 + i, "purchase", 1.0, "{}") for i in range(5)]
    monkeypatch.setattr(
        adv, "load_table", lambda sp, sf, name: _ab_events(sp, rows)
    )
    out = adv.q_ab_test(spark, "x").collect()
    assert len(out) == 1 and out[0]["variant"] == "control"
    assert out[0]["z_stat"] is None and out[0]["significant"] is False


# --- t-closeness ------------------------------------------------------------------

def _tc_events(spark, rows):
    """rows: (value, k) with fixed ts=0/event_type so qi = value bucket."""
    data = [
        (i, 1, 0, "click", float(v), '{"k": %d}' % k)
        for i, (v, k) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, ["event_id", "user_id", "ts", "event_type", "value", "props"]
    )


def test_t_closeness_uniform_classes_pass(spark, monkeypatch):
    """Every class mirrors the global sensitive mix -> TVD 0 -> '<=t'."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(10, 5), (10, 95), (60, 5), (60, 95)] * 3
    ev = _tc_events(spark, rows)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_t_closeness(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["band"] == "<=t" and r["n_classes"] == 2
    assert r["n_rows"] == 12 and r["share_rows"] == 1.0
    assert r["max_tvd"] == 0.0


def test_t_closeness_disjoint_classes_flagged(spark, monkeypatch):
    """Two classes with disjoint sensitive deciles: TVD 0.5 each, both
    past the t=0.2 line (skewness attack both ways)."""
    from marketstream_etl_spark.plans import advanced as adv

    rows = [(10, 5)] * 4 + [(60, 95)] * 4
    ev = _tc_events(spark, rows)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_t_closeness(spark, "x").collect()
    assert len(out) == 1
    r = out[0]
    assert r["band"] == ">t" and r["n_classes"] == 2
    assert r["max_tvd"] == 0.5


def test_t_closeness_matches_hand_computed_tvd(spark, monkeypatch):
    """Mixed case cross-checked against a from-scratch TVD computation
    including the absent-category algebraic term."""
    from marketstream_etl_spark.plans import advanced as adv

    cls_a = [(10, 5)] * 6 + [(10, 25)] * 2  # deciles 0, 2
    cls_b = [(60, 5)] * 2 + [(60, 95)] * 4  # deciles 0, 9
    ev = _tc_events(spark, cls_a + cls_b)
    monkeypatch.setattr(adv, "load_table", lambda sp, sf, name: ev)
    out = adv.q_t_closeness(spark, "x").collect()

    # reference: global deciles over all 14 rows
    from collections import Counter

    def deciles(rows):
        return Counter(k // 10 for _, k in rows)

    g = deciles(cls_a + cls_b)
    n = sum(g.values())
    tvds = []
    for cls in (cls_a, cls_b):
        d = deciles(cls)
        nc = sum(d.values())
        tvd = 0.5 * sum(
            abs(d.get(s, 0) / nc - g[s] / n) for s in g
        )
        tvds.append(tvd)
    worst = max(tvds)
    flagged = [t for t in tvds if t > 0.2]
    by_band = {r["band"]: r for r in out}
    assert abs(by_band[">t" if flagged else "<=t"]["max_tvd"] - worst) < 1e-6
    assert sum(r["n_classes"] for r in out) == 2
    assert sum(r["n_rows"] for r in out) == 14


def test_incremental_agg_bit_deterministic_under_partitioning(spark, sf_dir):
    # The two-level partial merge must be bit-exact under ANY partitioning:
    # integer-cent partials make the merged sums association-free, and the
    # derived doubles come from one int->double cast + one division.  A
    # float-sum merge flips round(avg, 4) on exact half-boundary custkeys
    # (n_orders a multiple of 8 with odd cent total) depending on merge
    # arrival order — the r13 driver-gate failure.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(
            tuple(r) for r in advanced.q_incremental_agg(spark, sf_dir).collect()
        )
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(
            tuple(r) for r in advanced.q_incremental_agg(spark, sf_dir).collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b
    # and the merge equals the single-pass full recompute in exact cents
    from pyspark.sql import functions as F
    from marketstream_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    )
    full = {
        r["o_custkey"]: (r["n"], r["s"], r["m"])
        for r in orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s"),
            F.max("cents").alias("m"),
        )
        .collect()
    }
    for ck, n, spend, mx, avg in a:
        fn, fs, fm = full[ck]
        assert n == fn
        assert spend == fs / 100.0
        assert mx == fm / 100.0
        assert avg == ((200 * fs + fn) // (2 * fn)) / 10000.0
