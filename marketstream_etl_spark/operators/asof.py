"""As-of join: enrich each trade with the latest indicator row at or before
its timestamp (the reference's implied trades↔technical_indicators relation,
README.md:115 "what was RELIANCE RSI at 10:30 yesterday").

Spark has no native as-of join; the scalable composition is
union-and-window: tag both sides, union on (symbol, time), and carry the
last indicator forward with a window `last(..., ignorenulls=True)` — one
shuffle on symbol, no range explosion, no per-group Python.  (The
`pd.merge_asof`-in-applyInPandas alternative ships every group through
Arrow; keep it JVM-side instead.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_indicators(trades: DataFrame, indicators: DataFrame) -> DataFrame:
    """For each trade: the most recent indicator (computed_at <= timestamp).

    trades:     symbol, timestamp(ns), ... (passed through)
    indicators: symbol, computed_at(ns), sma, rsi, vwap
    """
    ind = indicators.select(
        "symbol",
        F.col("computed_at").alias("t"),
        F.lit(1).alias("_is_ind"),
        "sma",
        "rsi",
        "vwap",
        F.lit(None).cast("long").alias("trade_id"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("int").alias("volume"),
    )
    tr = trades.select(
        "symbol",
        F.col("timestamp").alias("t"),
        F.lit(0).alias("_is_ind"),
        F.lit(None).cast("double").alias("sma"),
        F.lit(None).cast("double").alias("rsi"),
        F.lit(None).cast("double").alias("vwap"),
        "trade_id",
        "price",
        "volume",
    )
    # indicators sort before trades at equal t (_is_ind desc) so an indicator
    # stamped exactly at the trade's timestamp is visible to it
    w = (
        Window.partitionBy("symbol")
        .orderBy(F.col("t"), F.col("_is_ind").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = ind.unionByName(tr).select(
        "*",
        F.last(F.when(F.col("_is_ind") == 1, F.col("sma")), ignorenulls=True)
        .over(w)
        .alias("asof_sma"),
        F.last(F.when(F.col("_is_ind") == 1, F.col("rsi")), ignorenulls=True)
        .over(w)
        .alias("asof_rsi"),
        F.last(F.when(F.col("_is_ind") == 1, F.col("vwap")), ignorenulls=True)
        .over(w)
        .alias("asof_vwap"),
    )
    return merged.filter(F.col("_is_ind") == 0).select(
        "trade_id",
        "symbol",
        F.col("t").alias("timestamp"),
        "price",
        "volume",
        "asof_sma",
        "asof_rsi",
        "asof_vwap",
    )


# ---------------------------------------------------------------------------
# Tolerance-bounded bidirectional as-of over the events stream
# ---------------------------------------------------------------------------

ASOF_TOL_NS = 900_000_000_000  # 15 minutes, in nanoseconds


def asof_events_tolerance(
    events: DataFrame, tol_ns: int = ASOF_TOL_NS
) -> DataFrame:
    """pandas.merge_asof-style tolerance join, both directions, one pass:
    for every PURCHASE event, the latest VIEW at-or-before it and the
    next CLICK at-or-after it by the same user — each match kept only
    when within `tol_ns` nanoseconds (the attribution window).

    Same union-window composition as asof_join_indicators — ONE shuffle
    on user_id, no range explosion — extended with (a) a BACKWARD and a
    FORWARD frame over the same sort, and (b) tolerance applied as a
    post-filter (equivalent to in-window filtering: if the nearest match
    is out of tolerance, any farther one is too).

    Determinism: sort key is (t_ns, sort_key, event_id) with
    view < purchase < click at equal timestamps, so boundary events are
    visible to both directions identically in any engine; all emitted
    values are BIGINT nanoseconds (the repo-wide ts-as-ns-long
    convention from sources/tables.py) or passthrough columns.
    """
    base = events.filter(
        F.col("event_type").isin("view", "purchase", "click")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").alias("t_ns"),
        "value",
        F.when(F.col("event_type") == "view", 0)
        .when(F.col("event_type") == "purchase", 1)
        .otherwise(2)
        .alias("sk"),
    )
    order = [F.col("t_ns"), F.col("sk"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    is_view = F.col("sk") == 0
    is_click = F.col("sk") == 2
    enriched = base.select(
        "*",
        F.last(F.when(is_view, F.col("event_id")), ignorenulls=True)
        .over(w_back)
        .alias("v_id"),
        F.last(F.when(is_view, F.col("t_ns")), ignorenulls=True)
        .over(w_back)
        .alias("v_t"),
        F.first(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w_fwd)
        .alias("c_id"),
        F.first(F.when(is_click, F.col("t_ns")), ignorenulls=True)
        .over(w_fwd)
        .alias("c_t"),
    ).filter(F.col("sk") == 1)
    back_ok = (F.col("t_ns") - F.col("v_t")) <= tol_ns
    fwd_ok = (F.col("c_t") - F.col("t_ns")) <= tol_ns
    return enriched.select(
        "event_id",
        "user_id",
        "t_ns",
        "value",
        F.when(back_ok, F.col("v_id")).alias("last_view_id"),
        F.when(back_ok, F.col("t_ns") - F.col("v_t")).alias("view_gap_ns"),
        F.when(fwd_ok, F.col("c_id")).alias("next_click_id"),
        F.when(fwd_ok, F.col("c_t") - F.col("t_ns")).alias("click_gap_ns"),
    )


def asof_events_tolerance_sql() -> str:
    """DuckDB replay via LATERAL nearest-neighbor probes with the
    tolerance in the probe predicate (equivalent per the post-filter
    argument above); tie-breaks mirror the window sort exactly."""
    return f"""
        WITH ev AS MATERIALIZED (
            SELECT event_id, user_id, event_type,
                   epoch_ns(ts) AS t_ns, value
            FROM events
            WHERE event_type IN ('view', 'purchase', 'click')
        )
        SELECT p.event_id, p.user_id, p.t_ns, p.value,
               v.event_id AS last_view_id,
               p.t_ns - v.t_ns AS view_gap_ns,
               c.event_id AS next_click_id,
               c.t_ns - p.t_ns AS click_gap_ns
        FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
            SELECT event_id, t_ns FROM ev v
            WHERE v.user_id = p.user_id AND v.event_type = 'view'
              AND v.t_ns <= p.t_ns AND p.t_ns - v.t_ns <= {ASOF_TOL_NS}
            ORDER BY v.t_ns DESC, v.event_id DESC LIMIT 1
        ) v ON true
        LEFT JOIN LATERAL (
            SELECT event_id, t_ns FROM ev c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.t_ns >= p.t_ns AND c.t_ns - p.t_ns <= {ASOF_TOL_NS}
            ORDER BY c.t_ns ASC, c.event_id ASC LIMIT 1
        ) c ON true
        ORDER BY p.event_id
    """
