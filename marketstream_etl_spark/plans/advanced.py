"""Advanced OLAP query surface — operators the engine adds beyond the
reference's fixed pipeline: as-of enrichment, rolling window indicators,
time-bucketed and sessionized event analytics, rollup, pivot, set ops,
percentiles, JSON scalar work, approximate aggregates.

Every query returns deterministic, oracle-comparable output (doubles
rounded; orders fixed). Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketstream_etl_spark.operators import asof, patterns, sketch
from marketstream_etl_spark.operators.indicators import rolling_indicators
from marketstream_etl_spark.operators.validation import split_valid
from marketstream_etl_spark.plans.trades_view import (
    ROLLING_SQL_BODY,
    TRADES_CTE,
    VALID_WHERE,
    load_trades,
)
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.pyds import N_ROWS_DEFAULT, tradegen_oracle_cte
from marketstream_etl_spark.sources.tables import load_table
from marketstream_etl_spark.streaming.replay import drain_to_memory

DAY_NS = 86_400_000_000_000
SESSION_GAP_NS = 1_800_000_000_000  # 30 minutes


def _ts_us_ns() -> F.Column:
    """events.ts truncated from ns to µs resolution (still ns units) so
    duration arithmetic matches the µs-precision oracle exactly."""
    return F.col("ts") - F.col("ts") % 1000


def q_rolling_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row trailing SMA/RSI + running VWAP (window functions, one
    shuffle on symbol)."""
    valid, _ = split_valid(load_trades(spark, sf_dir, fan_out=True))
    out = rolling_indicators(valid, period=5)
    return out.select(
        "trade_id",
        "symbol",
        "timestamp",
        F.round("sma", 6).alias("sma"),
        F.round("rsi", 6).alias("rsi"),
        F.round("vwap", 6).alias("vwap"),
    )


ROLLING_INDICATORS_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            valid AS (SELECT * FROM trades WHERE {VALID_WHERE}),
            {ROLLING_SQL_BODY}
            SELECT trade_id, symbol, "timestamp",
                   round(sma, 6) AS sma, round(rsi, 6) AS rsi,
                   round(vwap, 6) AS vwap
            FROM roll ORDER BY trade_id
        """
register("rolling_indicators", q_rolling_indicators, ROLLING_INDICATORS_SQL)


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each trade picks up the latest SAMPLED indicator
    (every-20th trade forms the indicator log) at or before its timestamp.

    Spark composition: union + window last(ignorenulls) — one shuffle on
    symbol, no range explosion (operators/asof.py).  Oracle: DuckDB's native
    ASOF JOIN over the identical log.
    """
    valid, _ = split_valid(load_trades(spark, sf_dir, fan_out=True))
    log = (
        rolling_indicators(valid, period=5)
        .filter(F.col("trade_id") % 20 == 0)
        .select(
            "symbol",
            F.col("timestamp").alias("computed_at"),
            "sma",
            "rsi",
            "vwap",
        )
    )
    out = asof.asof_join_indicators(valid, log)
    return out.select(
        "trade_id",
        "symbol",
        "timestamp",
        F.round("asof_sma", 6).alias("asof_sma"),
        F.round("asof_rsi", 6).alias("asof_rsi"),
        F.round("asof_vwap", 6).alias("asof_vwap"),
    )


ASOF_ENRICH_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            valid AS (SELECT * FROM trades WHERE {VALID_WHERE}),
            {ROLLING_SQL_BODY},
            log AS (
                SELECT symbol, "timestamp" AS computed_at, sma, rsi, vwap
                FROM roll WHERE trade_id % 20 = 0
            )
            SELECT t.trade_id, t.symbol, t."timestamp",
                   round(l.sma, 6) AS asof_sma,
                   round(l.rsi, 6) AS asof_rsi,
                   round(l.vwap, 6) AS asof_vwap
            FROM valid t
            ASOF LEFT JOIN log l
              ON t.symbol = l.symbol AND t."timestamp" >= l.computed_at
            ORDER BY t.trade_id
        """
register("asof_enrich", q_asof_enrich, ASOF_ENRICH_SQL)


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event_type: count / sum / avg.
    Bucketing via integer ns arithmetic so the oracle is exact."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    bucket = (F.col("ts") - F.col("ts") % DAY_NS).alias("day_start_ns")
    return (
        ev.groupBy(bucket, "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


EVENTS_TUMBLING_SQL = """
            SELECT epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day_start_ns,
                   event_type, count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY day_start_ns, event_type
        """
register("events_tumbling", q_events_tumbling, EVENTS_TUMBLING_SQL)


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 30-min inactivity gap: classic
    lag + gap-flag + cumulative-sum session ids, then per-user stats.
    One shuffle on user_id; both windows share it."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_sess = F.when(
        gap.isNull() | (gap > SESSION_GAP_NS), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        ((F.max("ts") - F.min("ts")) / F.lit(1_000_000_000)).alias("dur_s"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(F.avg("dur_s"), 6).alias("avg_session_s"),
            F.round(F.max("dur_s"), 6).alias("max_session_s"),
        )
    )


SESSIONIZATION_SQL = """
            WITH chg AS (
                SELECT user_id, event_id, epoch_ns(ts) AS tns,
                       epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                FROM events
            ),
            sess AS (
                SELECT user_id, tns,
                    sum(CASE WHEN gap IS NULL OR gap > 1800000000000
                             THEN 1 ELSE 0 END) OVER
                        (PARTITION BY user_id ORDER BY tns, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS session_id
                FROM chg
            ),
            per_session AS (
                SELECT user_id, session_id, count(*) AS n_events,
                       (max(tns) - min(tns)) / 1000000000 AS dur_s
                FROM sess GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS n_events,
                   round(avg(dur_s), 6) AS avg_session_s,
                   round(max(dur_s), 6) AS max_session_s
            FROM per_session GROUP BY user_id ORDER BY user_id
        """
register("sessionization", q_sessionization, SESSIONIZATION_SQL)


def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag, linestatus): subtotal + grand-total rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ROLLUP_LINEITEM_SQL = """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 4) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
register("rollup_lineitem", q_rollup_lineitem, ROLLUP_LINEITEM_SQL)


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns per returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnsRenamed({"O": "qty_open", "F": "qty_filled"})
    )


PIVOT_STATUS_SQL = """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4)
                       AS qty_open,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4)
                       AS qty_filled
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
register("pivot_status", q_pivot_status, PIVOT_STATUS_SQL)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over yearly customer cohorts: customers
    active in 1996 vs 1997."""
    orders = load_table(spark, sf_dir, "orders")

    def cohort(year: int) -> DataFrame:
        return orders.filter(
            (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
        ).select("o_custkey").distinct()

    ca, cb = cohort(1996), cohort(1997)
    return (
        ca.intersect(cb).withColumn("cohort", F.lit("both"))
        .unionByName(ca.exceptAll(cb).withColumn("cohort", F.lit("only_1996")))
        .unionByName(cb.exceptAll(ca).withColumn("cohort", F.lit("only_1997")))
    )


SET_OPS_SQL = """
            WITH c94 AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate < TIMESTAMP '1997-01-01'
            ),
            c95 AS (
                SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                  AND o_orderdate < TIMESTAMP '1998-01-01'
            )
            SELECT o_custkey, 'both' AS cohort
            FROM (SELECT o_custkey FROM c94 INTERSECT SELECT o_custkey FROM c95)
            UNION ALL
            SELECT o_custkey, 'only_1996'
            FROM (SELECT o_custkey FROM c94 EXCEPT SELECT o_custkey FROM c95)
            UNION ALL
            SELECT o_custkey, 'only_1997'
            FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c94)
            ORDER BY cohort, o_custkey
        """
register("set_ops", q_set_ops, SET_OPS_SQL)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles + dispersion per returnflag (linear interpolation —
    same definition as quantile_cont)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", 0.5), 4).alias("p50_price"),
            F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
            F.round(F.percentile("l_extendedprice", 0.99), 4).alias("p99_price"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        )
    )


PERCENTILES_SQL = """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
                   round(stddev_samp(l_extendedprice), 4) AS sd_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
register("percentiles", q_percentiles, PERCENTILES_SQL)


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar access (X12) over events.props: per-type stats of $.k."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.countDistinct("k").alias("distinct_k"),
        )
    )


JSON_PROPS_SQL = """
            SELECT event_type, count(*) AS n,
                   min(CAST(json_extract_string(props, '$.k') AS INTEGER))
                       AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                       AS max_k,
                   round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)),
                         6) AS avg_k,
                   count(DISTINCT CAST(json_extract_string(props, '$.k')
                       AS INTEGER)) AS distinct_k
            FROM events GROUP BY event_type ORDER BY event_type
        """
register("json_props", q_json_props, JSON_PROPS_SQL)


def q_generator_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 generator exposed through the driver gate: the random draws are
    seed/partitioning-dependent, so the CONTRACT is the invariants —
    asserted here as one boolean row the constant oracle must equal
    (SURVEY §7 trap 7: distributions and invariants, not byte parity)."""
    from marketstream_etl_spark.operators.validation import with_validation
    from marketstream_etl_spark.sources.generator import generate_trades

    n = 10_000
    t = generate_trades(spark, n)
    # Adjacent-pair timestamp gaps WITHOUT a global window: trade_ids are
    # consecutive by construction, so pair row i with row i+1 via an
    # equi-join on the shifted key — a fully parallel shuffle join at any
    # n, where `Window.orderBy` with no partitionBy funnels the whole
    # frame through ONE task (the r5 bench's single-partition warning —
    # harmless at n=10k, but exactly the pattern that dies at scale).
    # The pair-count conjunct keeps the check exact: n-1 pairs must exist.
    prev = t.select("trade_id", F.col("timestamp").alias("_ts_prev"))
    nxt = t.select(
        (F.col("trade_id") - 1).alias("trade_id"),
        F.col("timestamp").alias("_ts_next"),
    )
    gap = F.col("_ts_next") - F.col("_ts_prev")
    gaps_ok = prev.join(nxt, "trade_id").agg(
        (
            F.min((gap >= 5_000) & (gap <= 50_000))
            & (F.count("*") == n - 1)
        ).alias("ts_gaps_in_range")
    )
    checks = t.agg(
        F.count("*").alias("n"),
        F.min(
            (F.col("price") >= 50.0) & (F.col("price") <= 99999.0)
        ).alias("price_bounded"),
        F.min((F.col("volume") >= 10) & (F.col("volume") <= 5000)).alias(
            "volume_bounded"
        ),
        F.min(F.col("side").isin("B", "S")).alias("side_valid"),
        F.min(F.col("type").isin("M", "L", "I")).alias("type_valid"),
    )
    validated = with_validation(generate_trades(spark, n)).agg(
        F.min("is_valid").alias("all_pass_validation")
    )
    return checks.crossJoin(gaps_ok).crossJoin(validated).select(
        "n",
        "price_bounded",
        "volume_bounded",
        "ts_gaps_in_range",
        "side_valid",
        "type_valid",
        "all_pass_validation",
    )


# generator invariants: the random draws differ engine-to-engine by
# design; the invariant booleans are the deterministic contract.
GENERATOR_INVARIANTS_SQL = """
            SELECT CAST(10000 AS BIGINT) AS n,
                   true AS price_bounded, true AS volume_bounded,
                   true AS ts_gaps_in_range, true AS side_valid,
                   true AS type_valid, true AS all_pass_validation
        """
register("generator_invariants", q_generator_invariants, GENERATOR_INVARIANTS_SQL)


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (SURVEY §2.7 X1-X12 generalized): string,
    math, date, and conditional functions in one projection — all JVM-side
    codegen, zero shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.concat_ws("-", "l_returnflag", "l_linestatus").alias("flag_status"),
            F.upper("l_returnflag").alias("flag_upper"),
            F.substring(F.col("l_shipdate").cast("string"), 1, 10).alias(
                "ship_day"
            ),
            F.date_format("l_shipdate", "yyyyMMdd").alias("ship_compact"),
            F.year("l_shipdate").alias("ship_year"),
            F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
            F.greatest("l_quantity", F.lit(25.0)).alias("qty_floor25"),
            F.floor("l_extendedprice").cast("long").alias("price_floor"),
            F.lpad(F.col("l_orderkey").cast("string"), 10, "0").alias(
                "okey_padded"
            ),
            F.translate("l_returnflag", "RNA", "XYZ").alias("flag_translated"),
            F.when(F.col("l_tax") > 0.04, F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("tax_band"),
        )
    )


SCALAR_FUNCTIONS_SQL = """
            SELECT l_orderkey, l_linenumber,
                   concat_ws('-', l_returnflag, l_linestatus) AS flag_status,
                   upper(l_returnflag) AS flag_upper,
                   substr(CAST(l_shipdate AS VARCHAR), 1, 10) AS ship_day,
                   strftime(l_shipdate, '%Y%m%d') AS ship_compact,
                   CAST(year(l_shipdate) AS INTEGER) AS ship_year,
                   round(abs(l_discount - 0.05), 6) AS disc_dev,
                   greatest(l_quantity, 25.0) AS qty_floor25,
                   CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
                   lpad(CAST(l_orderkey AS VARCHAR), 10, '0') AS okey_padded,
                   translate(l_returnflag, 'RNA', 'XYZ') AS flag_translated,
                   CASE WHEN l_tax > 0.04 THEN 'high' ELSE 'low' END AS tax_band
            FROM lineitem ORDER BY l_orderkey, l_linenumber
        """
register("scalar_functions", q_scalar_functions, SCALAR_FUNCTIONS_SQL)


SCD2_VERSION_TS = 1_700_000_000_000_000_000


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert: a changed batch (every 7th trade, price ×1.1) replaces
    matching rows by trade_id."""
    from marketstream_etl_spark.operators.merge import merge_upsert

    trades = load_trades(spark, sf_dir)
    source = trades.filter(F.col("trade_id") % 7 == 0).withColumn(
        "price", F.round(F.col("price") * 1.1, 6)
    )
    merged = merge_upsert(trades, source, ["trade_id"])
    return merged.select(
        "trade_id", "symbol", F.round("price", 6).alias("price"), "volume"
    )


MERGE_UPSERT_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            source AS (
                SELECT trade_id, symbol, round(price * 1.1, 6) AS price, volume
                FROM trades WHERE trade_id % 7 = 0
            )
            SELECT trade_id, symbol, round(price, 6) AS price, volume
            FROM trades WHERE trade_id NOT IN (SELECT trade_id FROM source)
            UNION ALL
            SELECT trade_id, symbol, price, volume FROM source
            ORDER BY trade_id
        """
register("merge_upsert", q_merge_upsert, MERGE_UPSERT_SQL)


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2: apply an acctbal change batch (every 10th customer, +100) to a
    versioned customer dimension; changed rows close and re-version."""
    from marketstream_etl_spark.operators.merge import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.round("c_acctbal", 6).alias("acctbal"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    changes = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") + 100, 6).alias("acctbal"),
    )
    out = scd2_apply(dim, changes, "k", ["acctbal"], SCD2_VERSION_TS)
    return out


SCD2_CUSTOMERS_SQL = """
            WITH dim AS (
                SELECT c_custkey AS k, round(c_acctbal, 6) AS acctbal,
                       CAST(0 AS BIGINT) AS valid_from,
                       CAST(NULL AS BIGINT) AS valid_to
                FROM customer
            ),
            changes AS (
                SELECT c_custkey AS k, round(c_acctbal + 100, 6) AS acctbal
                FROM customer WHERE c_custkey % 10 = 0
            ),
            changed_keys AS (
                SELECT d.k FROM dim d JOIN changes c ON d.k = c.k
                WHERE d.valid_to IS NULL
                  AND d.acctbal IS DISTINCT FROM c.acctbal
            )
            SELECT d.k, d.acctbal, d.valid_from,
                   CAST(1700000000000000000 AS BIGINT) AS valid_to
            FROM dim d JOIN changed_keys ck ON d.k = ck.k
            WHERE d.valid_to IS NULL
            UNION ALL
            SELECT d.k, d.acctbal, d.valid_from, d.valid_to
            FROM dim d WHERE d.valid_to IS NULL
              AND d.k NOT IN (SELECT k FROM changed_keys)
            UNION ALL
            SELECT c.k, c.acctbal,
                   CAST(1700000000000000000 AS BIGINT) AS valid_from,
                   CAST(NULL AS BIGINT) AS valid_to
            FROM changes c JOIN changed_keys ck ON c.k = ck.k
            ORDER BY k, valid_from
        """
register("scd2_customers", q_scd2_customers, SCD2_CUSTOMERS_SQL)


def q_pattern_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search: top-5 minute-close
    windows (any symbol) most similar to a deterministic query pattern,
    mean-centered Euclidean (operators/patterns.py)."""
    return patterns.pattern_similarity(load_trades(spark, sf_dir))


register(
    "pattern_similarity",
    q_pattern_similarity,
    patterns.pattern_similarity_sql(TRADES_CTE),
)


def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct + approx quantiles) asserted
    AGAINST their exact counterparts inside the query: the sketch values are
    implementation-defined (no SQL oracle can reproduce them), so the
    oracle-visible columns are the exact values plus in-bound booleans that
    the DuckDB side states as TRUE — a full hash check that fails if either
    sketch drifts out of tolerance.  HLL rsd=0.01, tolerance 3%; KLL
    accuracy=10000, tolerance 1% of the exact median."""
    li = load_table(spark, sf_dir, "lineitem")
    # The distinct count gets its own single-row aggregate: in one agg
    # with the sketches, Spark's distinct rewrite groups by l_partkey
    # first and carries every sketch buffer per distinct key.
    agg = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.percentile("l_extendedprice", 0.5).alias("exact_p50"),
    ).crossJoin(li.agg(F.countDistinct("l_partkey").alias("exact_parts")))
    return agg.select(
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.col("exact_parts") * 0.03
        ).alias("parts_within_3pct"),
        F.round("exact_p50", 4).alias("exact_p50"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= F.col("exact_p50") * 0.01
        ).alias("p50_within_1pct"),
    )


# approx_aggs: the sketch values themselves are implementation-
# defined, so the query exposes exact values + in-bound booleans and
# the oracle states the booleans as TRUE — hash-checks the bound.
APPROX_AGGS_SQL = """
            SELECT count(DISTINCT l_partkey) AS exact_parts,
                   TRUE AS parts_within_3pct,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
                   TRUE AS p50_within_1pct
            FROM lineitem
        """
register("approx_aggs", q_approx_aggs, APPROX_AGGS_SQL)


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/analytic window-function surface the reference lacks
    entirely (SURVEY §2.4: only lag-equivalent diffs exist): rank,
    dense_rank, ntile, lead, lag, and cumulative share per event user.

    Scale: one shuffle on user_id; every function shares the same window
    spec so Spark evaluates them in a single Window exec pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    wsum = Window.partitionBy("user_id")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("dense_rnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
            F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
            F.round(F.col("value") / F.sum("value").over(wsum), 6).alias(
                "share_of_user"
            ),
        )
        .filter(F.col("rnk") <= 3)
    )


WINDOW_ANALYTICS_SQL = """
            WITH w AS (
                SELECT user_id, event_id, round(value, 4) AS value,
                       rank() OVER win AS rnk,
                       dense_rank() OVER win AS dense_rnk,
                       ntile(4) OVER win AS quartile,
                       round(lead(value, 1) OVER win, 4) AS next_value,
                       round(lag(value, 1) OVER win, 4) AS prev_value,
                       round(value / sum(value) OVER
                           (PARTITION BY user_id), 6) AS share_of_user
                FROM events WHERE event_type = 'purchase'
                WINDOW win AS (PARTITION BY user_id
                               ORDER BY value DESC, event_id)
            )
            SELECT user_id, event_id, value,
                   CAST(rnk AS INTEGER) AS rnk,
                   CAST(dense_rnk AS INTEGER) AS dense_rnk,
                   CAST(quartile AS INTEGER) AS quartile,
                   next_value, prev_value, share_of_user
            FROM w WHERE rnk <= 3 ORDER BY user_id, rnk, event_id
        """
register("window_analytics", q_window_analytics, WINDOW_ANALYTICS_SQL)


def q_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (event_type, day-of-week): all 4 grouping-set
    combinations in one pass — partial aggregation happens map-side per
    grouping set, so the shuffle carries pre-reduced rows.

    events.ts is LongType nanoseconds (SURVEY §1.1 ns-precision trap), so
    day-of-week comes from timezone-free epoch arithmetic: 1970-01-01 was a
    Thursday → (epoch_days + 4) % 7 with Sunday = 0."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "dow",
        ((F.expr(f"ts div {DAY_NS}") + F.lit(4)) % 7).cast("int"),
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("dow").asc_nulls_first()
        )
    )


# dow from timezone-free epoch arithmetic (1970-01-01 = Thursday,
# Sunday = 0) because Spark sees ts as raw ns while DuckDB sees µs.
CUBE_EVENTS_SQL = """
            WITH ev AS (
                SELECT event_type,
                       CAST((epoch_ns(ts) // 86400000000000 + 4) % 7
                            AS INTEGER) AS dow,
                       value
                FROM events
            )
            SELECT event_type, dow, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM ev
            GROUP BY CUBE (event_type, dow)
            ORDER BY event_type ASC NULLS FIRST, dow ASC NULLS FIRST
        """
register("cube_events", q_cube_events, CUBE_EVENTS_SQL)


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key join via explicit salting (functions/skew.py): events join a
    tiny per-type dimension on event_type (5 distinct values — maximal
    skew), salt spreads each hot key over 8 reducers. Result is identical
    to the plain join, which is exactly what the oracle asserts."""
    from marketstream_etl_spark.functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    j = salted_join(ev, dim, key="event_type", salt_src="event_id", n_salt=8)
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("value") > F.col("type_avg"), 1).otherwise(0)
            ).alias("above_avg"),
            F.round(F.max("type_avg"), 6).alias("type_avg"),
        )
    )


# salting must not change the answer: oracle is the PLAIN join
SKEW_SALTED_JOIN_SQL = """
            WITH dim AS (
                SELECT event_type, avg(value) AS type_avg
                FROM events GROUP BY event_type
            )
            SELECT e.event_type, count(*) AS n,
                   CAST(sum(CASE WHEN e.value > d.type_avg THEN 1 ELSE 0 END)
                        AS BIGINT) AS above_avg,
                   round(max(d.type_avg), 6) AS type_avg
            FROM events e JOIN dim d ON e.event_type = d.event_type
            GROUP BY e.event_type ORDER BY e.event_type
        """
register("skew_salted_join", q_skew_salted_join, SKEW_SALTED_JOIN_SQL)


WEEK_NS = 7 * DAY_NS


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) per user: a stage counts
    only if it happens strictly after the previous stage. One shuffle on
    user_id; stages are conditional min-aggregations, then the ordering
    constraint is plain column logic — no joins, no window."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())

    def first_ts(etype: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == etype, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    reached_view = F.col("t_view").isNotNull()
    reached_click = reached_view & (F.col("t_click") > F.col("t_view"))
    reached_purchase = reached_click & (
        F.col("t_purchase") > F.col("t_click")
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(reached_view.cast("long")).alias("stage_view"),
        F.sum(reached_click.cast("long")).alias("stage_click"),
        F.sum(reached_purchase.cast("long")).alias("stage_purchase"),
    )


FUNNEL_SQL = """
            WITH per_user AS (
                SELECT user_id,
                    min(CASE WHEN event_type = 'view'
                             THEN epoch_ns(ts) END) AS t_view,
                    min(CASE WHEN event_type = 'click'
                             THEN epoch_ns(ts) END) AS t_click,
                    min(CASE WHEN event_type = 'purchase'
                             THEN epoch_ns(ts) END) AS t_purchase
                FROM events GROUP BY user_id
            )
            SELECT count(*) AS n_users,
                CAST(sum(CASE WHEN t_view IS NOT NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
                CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                              THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
                CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                               AND t_purchase > t_click
                              THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase
            FROM per_user
        """
register("funnel", q_funnel, FUNNEL_SQL)


AB_Z_CRIT_E6 = 1_959_964  # two-sided 5% normal critical value, e6 fixed


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test A/B analysis — the experimentation readout
    behavioral pipelines alarm on: users are deterministically split
    into control/treatment (user_id parity — the hash-bucket assignment
    every A/B platform uses), conversion = the user produced >=1
    'purchase' event, and the z statistic tests whether the two
    conversion rates differ under the pooled-proportion null.

    Completes the statistical family: PSI/KS test DISTRIBUTIONS, Benford
    tests digits, this tests PROPORTIONS — the third classical monitor.

    The tested metric is the per-event purchase RATE (purchases /
    events) per variant — the standard rate-metric readout, and unlike
    a has-the-user-ever-purchased flag it does not saturate at 1 on
    active users (a saturated pooled rate makes the z standard error 0;
    the guard below still pins that degenerate case to z=NULL /
    significant=false instead of a divide-by-zero abort).

    Determinism: counts are exact integers; the rate, the pooled rate,
    and z are computed in the shared floor(x*1e6+0.5) fixed-point
    discipline, and the verdict compares |z|_e6 against the e6-fixed
    1.959964 critical value — engine-identical by construction.

    Scale: one 2-row hash aggregate over the fact scan (partial-agg
    map-side — no per-user shuffle at all), then 1-row broadcast math —
    no window, no collect."""
    ev = load_table(spark, sf_dir, "events")
    variants = (
        ev.groupBy(
            F.when(F.col("user_id") % 2 == 0, "control")
            .otherwise("treatment")
            .alias("variant")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("long").alias("n_purchases"),
        )
        .withColumn(
            "rate_e6",
            F.floor(
                F.col("n_purchases").cast("double")
                / F.col("n_events").cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        )
        .localCheckpoint(eager=False)  # 2 rows, feeds the stat + report
    )
    # pooled two-proportion z: the 2-row frame pivoted into ONE row by a
    # no-groupBy conditional aggregate — always exactly 1 row even if a
    # variant is absent (the missing side's terms go NULL → se NULL → z
    # NULL → significant false), the same empty-segment hardening the
    # PSI family needed (q_psi_drift's totals note)
    piv = variants.agg(
        F.max(
            F.when(F.col("variant") == "control", F.col("n_events"))
        ).alias("n1"),
        F.max(
            F.when(F.col("variant") == "control", F.col("n_purchases"))
        ).alias("x1"),
        F.max(
            F.when(F.col("variant") == "treatment", F.col("n_events"))
        ).alias("n2"),
        F.max(
            F.when(F.col("variant") == "treatment", F.col("n_purchases"))
        ).alias("x2"),
    )
    pooled = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    ).cast("double")
    se = F.sqrt(
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n1").cast("double")
            + F.lit(1.0) / F.col("n2").cast("double")
        )
    )
    stat = piv.select(
        F.when(
            se > 0,
            F.floor(
                (
                    F.col("x2").cast("double") / F.col("n2").cast("double")
                    - F.col("x1").cast("double") / F.col("n1").cast("double")
                )
                / se
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        ).alias("z_e6")
    )
    return (
        variants.join(F.broadcast(stat))
        .select(
            "variant",
            "n_events",
            "n_purchases",
            (F.col("rate_e6").cast("double") / F.lit(1e6)).alias(
                "purchase_rate"
            ),
            (F.col("z_e6").cast("double") / F.lit(1e6)).alias("z_stat"),
            F.coalesce(
                F.abs(F.col("z_e6")) > AB_Z_CRIT_E6, F.lit(False)
            ).alias("significant"),
        )
    )


def ab_test_sql() -> str:
    """DuckDB replay: identical split, exact counts, shared fixed-point
    rounding on rate/z, the SE=0 NULL guard, and the e6 critical-value
    verdict."""
    return f"""
        WITH v AS (
            SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                        ELSE 'treatment' END AS variant,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_purchases
            FROM events GROUP BY 1
        ),
        v2 AS (
            SELECT *,
                   CAST(floor(n_purchases::DOUBLE / n_events::DOUBLE * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS rate_e6
            FROM v
        ),
        s AS (
            SELECT CASE WHEN se > 0 THEN
                       CAST(floor(((x2::DOUBLE / n2::DOUBLE)
                                   - (x1::DOUBLE / n1::DOUBLE)) / se * 1e6
                                  + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END AS z_e6
            FROM (
                SELECT n1, x1, n2, x2,
                       sqrt(((x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE)
                            * (1 - (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE)
                            * (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE))
                           AS se
                FROM (
                    SELECT max(CASE WHEN variant = 'control'
                                    THEN n_events END) AS n1,
                           max(CASE WHEN variant = 'control'
                                    THEN n_purchases END) AS x1,
                           max(CASE WHEN variant = 'treatment'
                                    THEN n_events END) AS n2,
                           max(CASE WHEN variant = 'treatment'
                                    THEN n_purchases END) AS x2
                    FROM v2
                )
            )
        )
        SELECT variant, n_events, n_purchases,
               rate_e6::DOUBLE / 1e6 AS purchase_rate,
               z_e6::DOUBLE / 1e6 AS z_stat,
               coalesce(abs(z_e6) > {AB_Z_CRIT_E6}, FALSE) AS significant
        FROM v2 CROSS JOIN s
        ORDER BY variant
    """


register("ab_test", q_ab_test, ab_test_sql())


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention: users grouped by first-activity week, counted as
    active per week offset. Two aggregations sharing the user_id shuffle;
    the cohort join broadcasts (one row per user)."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    week = (F.col("ts") - F.col("ts") % WEEK_NS).alias("week_ns")
    cohort = ev.groupBy("user_id").agg(
        F.min(F.col("ts") - F.col("ts") % WEEK_NS).alias("cohort_ns")
    )
    active = ev.select("user_id", week).distinct()
    return (
        active.join(F.broadcast(cohort), "user_id")
        .withColumn(
            "week_offset",
            ((F.col("week_ns") - F.col("cohort_ns")) / WEEK_NS).cast("int"),
        )
        .groupBy("cohort_ns", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


RETENTION_COHORTS_SQL = """
            WITH wk AS (
                SELECT user_id,
                       epoch_ns(ts) - epoch_ns(ts) % 604800000000000
                           AS week_ns
                FROM events
            ),
            cohort AS (
                SELECT user_id, min(week_ns) AS cohort_ns FROM wk GROUP BY 1
            ),
            active AS (SELECT DISTINCT user_id, week_ns FROM wk)
            SELECT cohort_ns,
                   CAST((week_ns - cohort_ns) // 604800000000000 AS INTEGER)
                       AS week_offset,
                   count(DISTINCT a.user_id) AS active_users
            FROM active a JOIN cohort c USING (user_id)
            GROUP BY 1, 2 ORDER BY cohort_ns, week_offset
        """
register("retention_cohorts", q_retention_cohorts, RETENTION_COHORTS_SQL)


PRICE_BANDS = [
    ("P0_20K", 0.0, 20_000.0),
    ("P20_40K", 20_000.0, 40_000.0),
    ("P40_60K", 40_000.0, 60_000.0),
    ("P60_80K", 60_000.0, 80_000.0),
    ("P80K_UP", 80_000.0, 1e18),
]


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: classify every lineitem into a price band by
    joining against a tiny interval table on lo <= price < hi.

    Scale shape: the interval side is broadcast, so the plan is a
    BroadcastNestedLoopJoin — a map-side interval lookup with NO shuffle of
    the fact table regardless of its size (the canonical Spark treatment of
    small-dimension range/band joins; an equi-join is impossible because the
    key is an interval membership, not a value)."""
    from marketstream_etl_spark.sources.tables import load_table

    bands = spark.createDataFrame(
        PRICE_BANDS, "band string, lo double, hi double"
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        F.broadcast(bands),
        (li["l_extendedprice"] >= bands["lo"])
        & (li["l_extendedprice"] < bands["hi"]),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# interval-membership (band) join: broadcast nested-loop on Spark,
# plain theta join for the oracle
RANGE_JOIN_BANDS_SQL = """
            WITH bands(band, lo, hi) AS (VALUES
                ('P0_20K', 0.0, 20000.0),
                ('P20_40K', 20000.0, 40000.0),
                ('P40_60K', 40000.0, 60000.0),
                ('P60_80K', 60000.0, 80000.0),
                ('P80K_UP', 80000.0, 1e18))
            SELECT band, count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS total_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN bands
              ON l_extendedprice >= lo AND l_extendedprice < hi
            GROUP BY band ORDER BY band
        """
register("range_join_bands", q_range_join_bands, RANGE_JOIN_BANDS_SQL)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of rollup/cube: exactly
    the three aggregation levels the caller names (flag x status, flag,
    grand total), nothing else.

    Scale shape: like cube_events, one Expand feeds one partial+final
    hash aggregate, so the input is scanned ONCE and the shuffle carries
    pre-reduced rows — v. running three groupBys and unioning (3 scans,
    3 shuffles)."""
    from marketstream_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


GROUPING_SETS_SQL = """
            SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
            ORDER BY l_returnflag ASC NULLS FIRST,
                     l_linestatus ASC NULLS FIRST
        """
register("grouping_sets", q_grouping_sets, GROUPING_SETS_SQL)


def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over ONE partition of a directory-partitioned table
    (sources/partitioned.py).  The l_returnflag='R' predicate resolves at
    plan time to a PartitionFilter — the 'A' and 'N' directories are never
    opened, the lakehouse analog of the reference's composite-index lookup
    (DatabaseLoader.cpp:117-125).  test_layout asserts the file-level
    pruning; the oracle checks the values."""
    from marketstream_etl_spark.sources.partitioned import (
        ensure_partitioned_lineitem,
        pruned_scan,
    )

    tbl = ensure_partitioned_lineitem(spark, sf_dir)
    return (
        pruned_scan(spark, tbl, "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


# the partitioned layout must not change the answer: oracle is the
# plain filtered aggregate over the flat table
PARTITION_PRUNING_SQL = """
            SELECT l_linestatus, count(*) AS n_items,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(avg(l_extendedprice), 4) AS avg_price
            FROM lineitem WHERE l_returnflag = 'R'
            GROUP BY l_linestatus ORDER BY l_linestatus
        """
register("partition_pruning", q_partition_pruning, PARTITION_PRUNING_SQL)


def q_udaf_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via grouped-agg pandas UDF (operators/udaf_ops.py):
    per-symbol VWAP, checked exact against the native-expression oracle.
    The UDAF path ships Arrow batches to Python per group — correct but
    partial-agg-free; see the module docstring for when NOT to use it."""
    from marketstream_etl_spark.operators.udaf_ops import count_udaf, vwap

    valid, _ = split_valid(load_trades(spark, sf_dir, fan_out=True))
    return (
        valid.groupBy("symbol")
        .agg(
            F.round(vwap(F.col("price"), F.col("volume")), 6).alias("vwap"),
            count_udaf(F.col("volume")).alias("n_trades"),
        )
    )


# the pandas UDAF must equal the native expression exactly
UDAF_VWAP_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol,
                   round(sum(price * volume) / sum(CAST(volume AS DOUBLE)), 6)
                       AS vwap,
                   count(*) AS n_trades
            FROM trades WHERE {VALID_WHERE}
            GROUP BY symbol ORDER BY symbol
        """
register("udaf_vwap", q_udaf_vwap, UDAF_VWAP_SQL)


def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4 VARIANT: parse events.props once
    into a variant column, extract $.k typed, aggregate per k-decade.

    VARIANT stores a parsed binary form — at scale, repeated extraction
    beats re-parsing JSON text per access (json_props does the text path;
    this is the typed path).  Oracle: plain JSON arithmetic in DuckDB."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select((F.floor(k / 10) * 10).cast("int").alias("k_decade"),
                  F.col("value"))
        .groupBy("k_decade")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


VARIANT_PROPS_SQL = """
            WITH kv AS (
                SELECT CAST(floor(CAST(json_extract_string(props, '$.k')
                                       AS INTEGER) / 10.0) * 10 AS INTEGER)
                           AS k_decade,
                       value
                FROM events
            )
            SELECT k_decade, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM kv GROUP BY k_decade ORDER BY k_decade
        """
register("variant_props", q_variant_props, VARIANT_PROPS_SQL)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written to ORC (sources/formats.py) and aggregated back —
    format round-trip must not change a single value vs. the flat-parquet
    oracle."""
    from marketstream_etl_spark.sources.formats import orc_orders

    o = orc_orders(spark, sf_dir)
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
    )


# ORC write+read must preserve every value vs the flat parquet
ORC_ROUNDTRIP_SQL = """
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price,
                   min(o_orderdate) AS first_date,
                   max(o_orderdate) AS last_date
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
register("orc_roundtrip", q_orc_roundtrip, ORC_ROUNDTRIP_SQL)


HOUR_NS = 3_600_000_000_000


def q_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user trailing-1-hour event sum/count at
    every event — a *value*-bounded frame (RANGE BETWEEN 1h PRECEDING AND
    CURRENT ROW), vs. the row-count frames of rolling_indicators.  The
    frame is a function of the timestamp value, so ties share a frame and
    the result is deterministic under any shuffle order.  One shuffle on
    user_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", _ts_us_ns().alias("ts_ns")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns")
        .rangeBetween(-HOUR_NS, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


ROLLING_TIME_WINDOW_SQL = """
            WITH ev AS (
                SELECT event_id, user_id, value,
                       epoch_ns(ts) - epoch_ns(ts) % 1000 AS ts_ns
                FROM events
            )
            SELECT event_id, user_id,
                   count(*) OVER w AS n_1h,
                   round(sum(value) OVER w, 4) AS sum_1h
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns
                         RANGE BETWEEN 3600000000000 PRECEDING
                         AND CURRENT ROW)
            ORDER BY event_id
        """
register("rolling_time_window", q_rolling_time_window, ROLLING_TIME_WINDOW_SQL)


def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box predicate over the z-ordered lineitem copy (sources/zorder.py).

    The layout clusters files by Morton order of (l_partkey, l_suppkey), so
    this two-dimensional filter skips most row groups via parquet min/max
    stats — the one-copy answer to the reference's composite index
    (DatabaseLoader.cpp:117-125) when queries filter on either key.
    Values must equal a plain scan of the original table (the oracle)."""
    from marketstream_etl_spark.sources.zorder import zordered_lineitem

    df = zordered_lineitem(spark, sf_dir)
    return (
        df.filter(
            F.col("l_partkey").between(100, 299)
            & F.col("l_suppkey").between(10, 39)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# z-ordered layout must not change any value: plain-scan equivalent
ZORDER_SKIPPING_SQL = """
            SELECT l_returnflag, count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            WHERE l_partkey BETWEEN 100 AND 299
              AND l_suppkey BETWEEN 10 AND 39
            GROUP BY l_returnflag ORDER BY l_returnflag
        """
register("zorder_skipping", q_zorder_skipping, ZORDER_SKIPPING_SQL)


def q_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day totals over the backfilled day-partitioned events copy
    (sources/partitioned.py): dynamic partition overwrite must have
    doubled exactly the min(day)+7 partition and left every other day's
    values untouched — which is precisely what the oracle's CASE
    recomputation over the original table demands."""
    from marketstream_etl_spark.sources.partitioned import backfilled_events

    ev = backfilled_events(spark, sf_dir)
    return (
        ev.groupBy(F.col("day").cast("long").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# dynamic overwrite doubled exactly the min(day)+7 partition
PARTITION_BACKFILL_SQL = """
            WITH ev AS (
                SELECT (epoch_us(ts) * 1000) // 86400000000000 AS day, value
                FROM events
            ),
            m AS (SELECT min(day) + 7 AS bday FROM ev)
            SELECT day, count(*) AS n_events,
                   round(sum(CASE WHEN day = (SELECT bday FROM m)
                             THEN value * 2 ELSE value END), 2)
                       AS total_value
            FROM ev GROUP BY day ORDER BY day
        """
register("partition_backfill", q_partition_backfill, PARTITION_BACKFILL_SQL)


def q_federated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One plan over three storage formats: parquet lineitem joined to the
    ORC orders copy joined to the JSON-lines supplier copy — the
    source-agnostic planning a lakehouse migration relies on (formats
    differ per table, the logical plan does not notice).  Catalyst still
    pushes filters into each scan and broadcasts the small supplier side;
    the oracle runs on the plain tables, so every format must read back
    value-exact."""
    from marketstream_etl_spark.sources.formats import (
        jsonl_supplier,
        orc_orders,
    )
    from marketstream_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = orc_orders(spark, sf_dir).filter(
        F.col("o_orderstatus") == "F"
    )
    supp = jsonl_supplier(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# three formats in one plan == the plain three-table join
FEDERATED_JOIN_SQL = """
            SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
                   count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY 1
        """
register("federated_join", q_federated_join, FEDERATED_JOIN_SQL)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier through JSON-lines and back (sources/formats.py): every
    value including doubles must survive the text round trip."""
    from marketstream_etl_spark.sources.formats import jsonl_supplier

    s = jsonl_supplier(spark, sf_dir)
    return (
        s.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
            F.min("s_name").alias("first_name"),
        )
    )


# JSON-lines write+read must preserve every value
JSONL_ROUNDTRIP_SQL = """
            SELECT CAST(s_nationkey AS INTEGER) AS s_nationkey,
                   count(*) AS n_suppliers,
                   round(sum(s_acctbal), 2) AS total_acctbal,
                   min(s_name) AS first_name
            FROM supplier GROUP BY 1 ORDER BY 1
        """
register("jsonl_roundtrip", q_jsonl_roundtrip, JSONL_ROUNDTRIP_SQL)


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution: two parquet generations (v1 without
    o_orderstatus, v2 with it) unified by mergeSchema; rows from the old
    generation surface NULL status.  The aggregate proves both that no row
    was lost across generations and that the evolved column is null exactly
    for the v1 half (sources/formats.py:ensure_evolving_orders)."""
    from marketstream_etl_spark.sources.formats import evolving_orders

    df = evolving_orders(spark, sf_dir)
    return (
        df.groupBy(
            F.coalesce("o_orderstatus", F.lit("MISSING")).alias("status")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# v1 generation (even keys) has no status column -> MISSING
SCHEMA_EVOLUTION_SQL = """
            SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'MISSING'
                        ELSE o_orderstatus END AS status,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY 1 ORDER BY 1
        """
register("schema_evolution", q_schema_evolution, SCHEMA_EVOLUTION_SQL)


def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: lineitems orphaned by a simulated
    partial delete of their parent orders (o_orderkey % 1000 == 0 plays
    the deleted set).  LEFT ANTI join against the surviving parents — the
    dead-letter side of the reference's FK-less bulk load, and the check a
    warehouse runs after every incremental delete/compaction cycle.

    Scale: anti join shuffles on the join key and AQE picks broadcast when
    the parent side's surviving-key set is small; nothing is collected."""
    from marketstream_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders_kept = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 1000 != 0
    )
    orphans = li.join(orders_kept, li.l_orderkey == orders_kept.o_orderkey, "left_anti")
    return orphans.groupBy("l_returnflag").agg(
        F.count("*").alias("n_orphan_rows"),
        F.count_distinct("l_orderkey").alias("n_orphan_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("orphan_value"),
    )


# anti join == NOT IN the surviving parent keys
FK_ORPHANS_SQL = """
            SELECT l_returnflag, count(*) AS n_orphan_rows,
                   count(DISTINCT l_orderkey) AS n_orphan_orders,
                   round(sum(l_extendedprice), 2) AS orphan_value
            FROM lineitem
            WHERE l_orderkey NOT IN (
                SELECT o_orderkey FROM orders WHERE o_orderkey % 1000 <> 0
            )
            GROUP BY l_returnflag ORDER BY l_returnflag
        """
register("fk_orphans", q_fk_orphans, FK_ORPHANS_SQL)


def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the fragmented-then-compacted documents copy
    (sources/compaction.py) — every row, every byte of text, and every
    doc_id must survive the 64-file fragmentation and the rewrite.  The
    oracle reads the original table."""
    from marketstream_etl_spark.sources.compaction import compacted_documents

    docs = compacted_documents(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("doc_id").alias("n_ids"),
        F.sum(F.length("text")).alias("total_chars"),
    )


# compaction must preserve every row/byte: plain-scan equivalent
COMPACTION_ROUNDTRIP_SQL = """
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT doc_id) AS n_ids,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang ORDER BY lang
        """
register("compaction_roundtrip", q_compaction_roundtrip, COMPACTION_ROUNDTRIP_SQL)


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass over lineitem's numeric measures: unpivot the
    four metric columns into (metric, value) rows — `DataFrame.unpivot`,
    the relational melt the reference has no analog for — then one hash
    aggregate computes null count, exact distinct, min/max/mean per metric.

    This is the pre-ingest profile a pipeline runs to pick validation
    thresholds (compare V1-V6, whose constants the reference hardcodes).
    Scale: unpivot is a per-row flatMap (no shuffle); the single groupBy
    on 4 keys shuffles only the partial-agg rows."""
    from marketstream_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    metrics = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    melted = li.unpivot(
        ids=[], values=metrics, variableColumnName="metric",
        valueColumnName="value",
    )
    return (
        melted.groupBy("metric")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias(
                "n_nulls"
            ),
            F.count_distinct("value").alias("n_distinct"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.avg("value"), 4).alias("mean_value"),
        )
    )


# melt re-expressed as UNION ALL, one leg per metric column
COLUMN_PROFILE_SQL = """
            WITH melted AS (
                SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', l_extendedprice FROM lineitem
                UNION ALL
                SELECT 'l_discount', l_discount FROM lineitem
                UNION ALL
                SELECT 'l_tax', l_tax FROM lineitem
            )
            SELECT metric, count(*) AS n_rows,
                   CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   count(DISTINCT value) AS n_distinct,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value,
                   round(avg(value), 4) AS mean_value
            FROM melted GROUP BY metric ORDER BY metric
        """
register("column_profile", q_column_profile, COLUMN_PROFILE_SQL)


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of l_extendedprice (5000-wide buckets, top
    bucket open-ended): one hash aggregate over a derived bucket key — the
    equi-width profile a curation pipeline runs before choosing filter
    thresholds.  Bucket bounds are data-independent constants so the result
    is stable across scale factors."""
    from marketstream_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / 5000), F.lit(21)
    ).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("bucket_value"),
        )
    )


# same fixed 5000-wide buckets, top bucket clamped at 21
PRICE_HISTOGRAM_SQL = """
            SELECT CAST(least(floor(l_extendedprice / 5000), 21) AS INTEGER)
                       AS bucket,
                   count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS bucket_value
            FROM lineitem GROUP BY 1 ORDER BY 1
        """
register("price_histogram", q_price_histogram, PRICE_HISTOGRAM_SQL)


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merge a delta batch into a stored
    partial-aggregate summary WITHOUT rescanning the base table's rows.

    The per-custkey summary keeps re-aggregable partials (count, sum, max);
    folding in new orders is `union partials -> re-aggregate`, touching only
    summary-sized state plus the delta — at 100 TB that's the difference
    between a full recompute and a refresh proportional to the new data.
    Derived measures (avg) are computed from the merged partials at read
    time, never stored.  The oracle is the full recompute over base+delta:
    the merge must be exactly equivalent.

    The partials are exact integer cents (the repo's fixed-point
    convention, see vwap_deviation): a double `sum()` through a two-level
    partial merge is association-dependent, and ~6% of the custkeys sit
    EXACTLY on a round(avg, 4) half-boundary (n a multiple of 8 with an
    odd cent total makes 200*S/n an odd integer), so float partials flip
    the 4th decimal against the oracle's single-pass sum depending on
    merge arrival order.  Integer partials make the merge bit-exact under
    any partitioning, and the derived doubles (one integer->double cast +
    one division) are bit-identical across engines."""
    from marketstream_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    orders = orders.withColumn("cents", cents)
    base = orders.filter(F.col("o_orderkey") % 32 != 0)
    delta = orders.filter(F.col("o_orderkey") % 32 == 0)

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("total_cents"),
            F.max("cents").alias("max_cents"),
        )

    merged = (
        partials(base)
        .unionByName(partials(delta))
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
            F.max("max_cents").alias("max_cents"),
        )
    )
    # Derived measures from the exact partials: round-half-up in integer
    # arithmetic, then one exact int->double cast and one division — the
    # identical IEEE ops the oracle SQL performs, so every double is
    # bit-equal.  avg at 4 decimals: round_half_up(cents*100 / n) =
    # (200*cents + n) // (2*n).
    return merged.select(
        "o_custkey",
        "n_orders",
        (F.col("total_cents").cast("double") / 100.0).alias("total_spend"),
        (F.col("max_cents").cast("double") / 100.0).alias("max_order"),
        (
            F.expr(
                "CAST((200 * total_cents + n_orders) DIV (2 * n_orders)"
                " AS DOUBLE)"
            )
            / 10000.0
        ).alias("avg_order"),
    )


# partial-merge refresh must equal the full recompute; exact
# integer-cent partials (repo fixed-point convention — a double
# sum through a two-level merge is association-dependent and ~6%
# of custkeys sit exactly on a round(avg,4) half-boundary), with
# derived doubles from one int->double cast + one division so
# both engines produce bit-identical values
INCREMENTAL_AGG_SQL = """
            WITH c AS (
                SELECT o_custkey,
                       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                           AS cents
                FROM orders
            ), m AS (
                SELECT o_custkey,
                       CAST(count(*) AS BIGINT) AS n_orders,
                       CAST(sum(cents) AS BIGINT) AS total_cents,
                       max(cents) AS max_cents
                FROM c GROUP BY o_custkey
            )
            SELECT o_custkey, n_orders,
                   CAST(total_cents AS DOUBLE) / 100.0 AS total_spend,
                   CAST(max_cents AS DOUBLE) / 100.0 AS max_order,
                   CAST((200 * total_cents + n_orders) // (2 * n_orders)
                        AS DOUBLE) / 10000.0 AS avg_order
            FROM m ORDER BY o_custkey
        """
register("incremental_agg", q_incremental_agg, INCREMENTAL_AGG_SQL)


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan (sources/pyds.py): 50K md5-derived
    trades generated partition-parallel by a pluggable source, then a
    normal per-symbol aggregate.  The oracle regenerates the identical
    rows in DuckDB from the same md5 formulas — a bit-exact check on a
    *source* extension, not just a transform."""
    from marketstream_etl_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("tradegen")
        .option("n", pyds.N_ROWS_DEFAULT)
        .option("partitions", 8)
        .load()
    )
    return (
        df.groupBy("symbol")
        .agg(
            F.count("*").alias("n_trades"),
            F.sum("volume").alias("total_volume"),
            F.round(F.avg("price"), 4).alias("avg_price"),
            F.min("ts_ns").alias("first_ts"),
            F.max("ts_ns").alias("last_ts"),
        )
    )


# custom Python DataSource vs bit-identical DuckDB regeneration
PYTHON_DATASOURCE_SQL = f"""
            WITH gen AS ({tradegen_oracle_cte(N_ROWS_DEFAULT)})
            SELECT symbol, count(*) AS n_trades,
                   CAST(sum(volume) AS BIGINT) AS total_volume,
                   round(avg(price), 4) AS avg_price,
                   min(ts_ns) AS first_ts, max(ts_ns) AS last_ts
            FROM gen GROUP BY symbol ORDER BY symbol
        """
register("python_datasource", q_python_datasource, PYTHON_DATASOURCE_SQL)


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation through the Spark 4 built-in XML writer/reader and back into
    a per-region aggregate — values must survive the text round trip
    exactly (sources/formats.py)."""
    from marketstream_etl_spark.sources.formats import xml_nation

    n = xml_nation(spark, sf_dir)
    return (
        n.groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(
            F.count("*").alias("n_nations"),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
    )


# XML write+read must preserve every value
XML_ROUNDTRIP_SQL = """
            SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
                   count(*) AS n_nations,
                   min(n_name) AS first_name, max(n_name) AS last_name
            FROM nation GROUP BY 1 ORDER BY 1
        """
register("xml_roundtrip", q_xml_roundtrip, XML_ROUNDTRIP_SQL)


def q_recursive_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 recursive CTE (WITH RECURSIVE ... UNION ALL): walk each
    customer's key-decade ancestor chain (custkey -> custkey DIV 10 -> ...,
    strictly shrinking, so the recursion is acyclic and ~7 levels deep) and
    roll balances up to every ancestor.

    This is the iterative-algorithm surface expressed IN the engine rather
    than driver-side (contrast dedup_clusters, which loops in Python
    because its graph is cyclic and recursive UNION-distinct is not yet
    supported — UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE)."""
    from marketstream_etl_spark.sources.tables import load_table

    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_rcte_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE anc(custkey, ancestor, depth) AS (
            SELECT c_custkey, c_custkey DIV 10, 1
            FROM _rcte_customer WHERE c_custkey >= 10
            UNION ALL
            SELECT custkey, ancestor DIV 10, depth + 1
            FROM anc WHERE ancestor >= 10
        )
        SELECT a.ancestor, count(*) AS n_descendants,
               CAST(max(a.depth) AS INT) AS max_depth,
               round(sum(c.c_acctbal), 2) AS total_balance
        FROM anc a JOIN _rcte_customer c ON a.custkey = c.c_custkey
        GROUP BY a.ancestor ORDER BY a.ancestor
        """
    )


# same recursion, DuckDB dialect (// = integer division)
RECURSIVE_ROLLUP_SQL = """
            WITH RECURSIVE anc(custkey, ancestor, depth) AS (
                SELECT c_custkey, c_custkey // 10, 1
                FROM customer WHERE c_custkey >= 10
                UNION ALL
                SELECT custkey, ancestor // 10, depth + 1
                FROM anc WHERE ancestor >= 10
            )
            SELECT a.ancestor, count(*) AS n_descendants,
                   CAST(max(a.depth) AS INTEGER) AS max_depth,
                   round(sum(c.c_acctbal), 2) AS total_balance
            FROM anc a JOIN customer c ON a.custkey = c.c_custkey
            GROUP BY a.ancestor ORDER BY a.ancestor
        """
register("recursive_rollup", q_recursive_rollup, RECURSIVE_ROLLUP_SQL)


def q_streaming_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME custom Python source as a Structured Streaming source
    (sources/pyds.py::TradeGenStreamReader): offsets are row indexes,
    the engine schedules partitions(start, end) per micro-batch, and the
    md5-derived rows make any offset range exactly-once replayable with
    no state.  A real availableNow run into a memory sink; the final
    per-symbol counts must equal the batch scan's (and the oracle's)."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources import pyds

    pyds.register(spark)
    stream = (
        spark.readStream.format("tradegen")
        .option("n", 10_000)
        .option("partitions", 8)
        .load()
    )
    counts = stream.groupBy("symbol").agg(
        F.count("*").alias("n_trades"),
        F.sum("volume").alias("total_volume"),
    )
    return drain_to_memory(counts, "pyds_stream", sf_dir, "complete")


STREAMING_PYTHON_DATASOURCE_SQL = f"""
            WITH gen AS ({tradegen_oracle_cte(10000)})
            SELECT symbol, count(*) AS n_trades,
                   CAST(sum(volume) AS BIGINT) AS total_volume
            FROM gen GROUP BY symbol ORDER BY symbol
        """
register(
    "streaming_python_datasource",
    q_streaming_python_datasource,
    STREAMING_PYTHON_DATASOURCE_SQL,
)


def q_asof_events_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional tolerance as-of (operators/asof.py::
    asof_events_tolerance): purchase → latest view at-or-before and next
    click at-or-after, each within a 15-minute attribution window — the
    merge_asof(tolerance=...) surface, one union-window shuffle."""
    return asof.asof_events_tolerance(load_table(spark, sf_dir, "events"))


register(
    "asof_events_tolerance", q_asof_events_tolerance, asof.asof_events_tolerance_sql()
)


def q_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram quantile sketch (operators/sketch.py::hdr_quantiles):
    integer-only exponent/sub-bucket grid over price cents, bounded
    3.2%-relative-width buckets, quantile probe via bounded prefix sums,
    and a distributed exact-rank audit — the quantile member of the
    CMS/HLL/Bloom sketch family."""
    return sketch.hdr_quantiles(load_table(spark, sf_dir, "lineitem"))


register("hdr_quantiles", q_hdr_quantiles, sketch.HDR_QUANTILES_SQL)


def q_hdr_quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag HDR quantiles (operators/sketch.py::
    hdr_quantiles_grouped): the sketch as a per-key aggregate — one
    grouped grid build, key-partitioned bounded prefix-sum windows, and
    the same distributed exact-rank bracketing audit per group."""
    return sketch.hdr_quantiles_grouped(load_table(spark, sf_dir, "lineitem"))


register(
    "hdr_quantiles_grouped", q_hdr_quantiles_grouped, sketch.hdr_quantiles_grouped_sql()
)


# --- Benford first-digit audit ----------------------------------------------
# Fraud/quality screen over a value column: the first-significant-digit
# distribution of organically-grown amounts follows Benford's law,
# p(d) = log10(1 + 1/d).  Fabricated or truncated data does not.  The
# audit emits per-digit observed/expected shares and a chi-square statistic
# against the 0.05 critical value for 8 degrees of freedom.
#
# Cross-engine determinism: the digit is taken from the BIGINT decimal
# string of floor(value) (integer→string is exact in both engines — no
# float formatting, no log10 on data); the expected shares are the SAME
# hardcoded double literals on both sides; each chi-square contribution is
# fixed-pointed (floor(x*1e6+0.5)) BEFORE summation so the total is an
# order-independent BIGINT sum — the token_drift discipline.

BENFORD_P = {  # repr(log10(1 + 1/d)) — identical literals on both engines
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}
BENFORD_CHI2_CRIT_FP = 15_507_000  # chi2(0.05, dof=8) = 15.507 in 1e-6 units


def benford_digit_col() -> F.Column:
    """Leading decimal digit of o_totalprice via the BIGINT string (exact
    in both engines — no float formatting, no log10 on data)."""
    return F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of orders.o_totalprice.

    Output: one row per leading digit 1-9 — observed count, observed and
    expected shares, the digit's chi-square contribution, the corpus-wide
    chi-square total, and the pass/fail verdict at the 0.05 level.

    Scale: one map-side digit projection inside the scan, a 9-group hash
    aggregate, then two 1-row broadcast frames (total count, fixed-point
    chi-square sum) joined back onto the 9-row result — no window over
    the fact table, no driver collect."""
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        orders.filter(F.col("o_totalprice") >= 1.0)
        .groupBy(benford_digit_col().alias("digit"))
        .agg(F.count("*").alias("n_obs"))
    )
    return benford_from_counts(spark, counts)


def benford_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """Benford report from a (digit, n_obs) counts frame — the shared
    core of the batch query and the streaming twin (whose final
    complete-mode state is exactly such a counts frame)."""
    # digits spine: a missing digit still contributes (0-exp)^2/exp
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    counts = (
        spine.join(counts, "digit", "left")
        .select("digit", F.coalesce("n_obs", F.lit(0)).alias("n_obs"))
        # 9 rows feeding three consumers (total, chi parts, final join) —
        # checkpoint so the orders scan runs once, not per consumer
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("n_obs").alias("n_total"))
    p = F.element_at(
        F.create_map(
            *[x for d, lit in BENFORD_P.items()
              for x in (F.lit(d), F.lit(float(lit)))]
        ),
        F.col("digit"),
    )
    with_exp = counts.join(F.broadcast(total)).select(
        "digit",
        "n_obs",
        "n_total",
        p.alias("p_exp"),
        (F.col("n_total").cast("double") * p).alias("exp_cnt"),
    )
    # n_total = 0 (empty / fully-filtered input) makes every exp_cnt 0 and
    # chi_part 0/0 — NaN handling diverges across engines, so pin the
    # degenerate case to 0 explicitly (mirrored in benford_audit_sql)
    chi_part = F.when(
        F.col("n_total") > 0,
        (F.col("n_obs").cast("double") - F.col("exp_cnt"))
        * (F.col("n_obs").cast("double") - F.col("exp_cnt"))
        / F.col("exp_cnt"),
    ).otherwise(F.lit(0.0))
    fixed = with_exp.select(
        "digit",
        "n_obs",
        "n_total",
        "p_exp",
        F.floor(chi_part * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "chi2_fp"
        ),
    )
    chi_total = fixed.agg(F.sum("chi2_fp").alias("chi2_total_fp"))
    return (
        fixed.join(F.broadcast(chi_total))
        .select(
            "digit",
            "n_obs",
            F.when(
                F.col("n_total") > 0,
                F.round(
                    F.col("n_obs").cast("double")
                    / F.col("n_total").cast("double"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("obs_share"),
            F.col("p_exp").alias("exp_share"),
            (F.col("chi2_fp").cast("double") / F.lit(1e6)).alias("chi2_part"),
            (F.col("chi2_total_fp").cast("double") / F.lit(1e6)).alias(
                "chi2_total"
            ),
            (F.col("chi2_total_fp") <= F.lit(BENFORD_CHI2_CRIT_FP)).alias(
                "benford_ok"
            ),
        )
    )


def benford_audit_sql() -> str:
    """DuckDB replay: identical digit extraction, identical double
    literals, identical fixed-point chi-square summation."""
    p_case = " ".join(
        f"WHEN {d} THEN CAST({lit} AS DOUBLE)"
        for d, lit in BENFORD_P.items()
    )
    return f"""
        WITH counts0 AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                   count(*) AS n_obs
            FROM orders WHERE o_totalprice >= CAST(1.0 AS DOUBLE)
            GROUP BY 1
        ),
        counts AS (
            SELECT s.digit, coalesce(c.n_obs, 0) AS n_obs
            FROM (SELECT unnest(range(1, 10))::INTEGER AS digit) s
            LEFT JOIN counts0 c USING (digit)
        ),
        total AS (SELECT sum(n_obs) AS n_total FROM counts),
        fixed AS (
            SELECT digit, n_obs, t.n_total,
                   CASE digit {p_case} END AS p_exp,
                   CASE WHEN t.n_total > 0 THEN CAST(floor(
                       (n_obs::DOUBLE - t.n_total::DOUBLE
                            * (CASE digit {p_case} END))
                       * (n_obs::DOUBLE - t.n_total::DOUBLE
                            * (CASE digit {p_case} END))
                       / (t.n_total::DOUBLE * (CASE digit {p_case} END))
                       * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE 0 END AS chi2_fp
            FROM counts CROSS JOIN total t
        ),
        chi AS (SELECT CAST(sum(chi2_fp) AS BIGINT) AS chi2_total_fp
                FROM fixed)
        SELECT digit, n_obs,
               CASE WHEN n_total > 0
                    THEN round(n_obs::DOUBLE / n_total::DOUBLE, 6)
                    ELSE CAST(0.0 AS DOUBLE) END AS obs_share,
               p_exp AS exp_share,
               chi2_fp::DOUBLE / 1e6 AS chi2_part,
               c.chi2_total_fp::DOUBLE / 1e6 AS chi2_total,
               c.chi2_total_fp <= {BENFORD_CHI2_CRIT_FP} AS benford_ok
        FROM fixed CROSS JOIN chi c
        ORDER BY digit
    """


register("benford_audit", q_benford_audit, benford_audit_sql())


# --- join-key skew profile ---------------------------------------------------
# The pre-flight diagnostic for the salting / AQE-skew-join decision
# (functions/skew.py): per candidate join key, the key-frequency shape —
# row count, distinct keys, heaviest key, top-1 share, max/mean skew
# ratio, and the Gini coefficient of the key-frequency distribution.
#
# Scale design: per-key counts are ONE partial-aggregated groupBy; those
# counts are immediately re-grouped into a COUNT-OF-COUNTS histogram
# (multiplicity → number of keys), so everything downstream runs on a
# frame bounded by the number of DISTINCT multiplicities (hundreds, not
# keys — the global window below is over that bounded frame, never the
# fact table).  The Gini is computed from the grouped histogram in exact
# BIGINT arithmetic (closed-form run contribution c·(m·prior + m(m+1)/2)),
# fixed-pointed by integer division — no float accumulation anywhere.
# BIGINT headroom: the Gini numerator (2·s_rank − (n_keys+1)·n_rows)·1e6
# needs |s_rank| ≲ 4.6e12 after scaling — fine through ~billions of rows
# per key column; at extreme (n_keys·n_rows > ~1e13) scale, drop the 1e6
# fixed-point and divide as DOUBLE (the exact-integer path exists for the
# cross-engine oracle gate, not as a scale requirement).

SKEW_PROFILE_KEYS = (  # (table, key column)
    ("events", "user_id"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
)


def _skew_profile_one(df: DataFrame, table: str, col: str) -> DataFrame:
    counts = df.groupBy(F.col(col).alias("k")).agg(
        F.count("*").alias("cnt")
    )
    # bounded frame (distinct multiplicities), self-joined below —
    # checkpoint so the per-key count aggregation runs once per key column
    hist = (
        counts.groupBy("cnt")
        .agg(F.count("*").alias("m"))
        .localCheckpoint(eager=False)
    )
    # prior = keys with a strictly smaller multiplicity.  The histogram is
    # bounded (distinct multiplicity values), so a broadcast non-equi
    # self-join beats a no-partition global window — no single-reducer
    # WindowExec anywhere in the plan.
    lower = hist.select(
        F.col("cnt").alias("cnt_lo"), F.col("m").alias("m_lo")
    )
    runs = (
        hist.join(
            F.broadcast(lower), F.col("cnt_lo") < F.col("cnt"), "left"
        )
        .groupBy("cnt", "m")
        .agg(F.coalesce(F.sum("m_lo"), F.lit(0)).alias("prior"))
    )
    # m*(m+1) is always even — integer div keeps the whole rank sum BIGINT
    contrib = F.col("cnt") * (
        F.col("m") * F.col("prior") + F.expr("div(m * (m + 1), 2)")
    )
    agg = runs.agg(
        F.sum(F.col("cnt") * F.col("m")).alias("n_rows"),
        F.sum("m").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum(contrib).alias("s_rank"),
    )
    return agg.select(
        F.lit(f"{table}.{col}").alias("key_col"),
        "n_rows",
        "n_keys",
        "max_cnt",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_keys").cast("double"),
            6,
        ).alias("avg_cnt"),
        (
            F.expr("div(max_cnt * n_keys * 1000000, n_rows)").cast("double")
            / F.lit(1e6)
        ).alias("skew_ratio"),
        F.round(
            F.col("max_cnt").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("top1_share"),
        (
            F.expr(
                "div((2 * s_rank - (n_keys + 1) * n_rows) * 1000000,"
                " n_keys * n_rows)"
            ).cast("double")
            / F.lit(1e6)
        ).alias("gini"),
    )


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile over the three highest-traffic join keys.

    One row per key column: n_rows, n_keys, max_cnt, avg_cnt, skew_ratio
    (max/mean, fixed-point), top1_share, and the Gini coefficient of the
    key-frequency distribution — the inputs to the broadcast/salt/AQE
    triage a 100 TB join plan starts from."""
    parts = [
        _skew_profile_one(load_table(spark, sf_dir, t), t, c)
        for t, c in SKEW_PROFILE_KEYS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def key_skew_profile_sql() -> str:
    """DuckDB replay: identical count-of-counts histogram, exact BIGINT
    rank sum, identical integer-division fixed-points."""
    selects = []
    for t, c in SKEW_PROFILE_KEYS:
        selects.append(f"""
        SELECT '{t}.{c}' AS key_col,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_keys AS BIGINT) AS n_keys, max_cnt,
               round(n_rows::DOUBLE / n_keys::DOUBLE, 6) AS avg_cnt,
               ((max_cnt * n_keys * 1000000) // n_rows)::DOUBLE / 1e6
                   AS skew_ratio,
               round(max_cnt::DOUBLE / n_rows::DOUBLE, 6) AS top1_share,
               (((2 * s_rank - (n_keys + 1) * n_rows) * 1000000)
                   // (n_keys * n_rows))::DOUBLE / 1e6 AS gini
        FROM (
            SELECT sum(cnt * m) AS n_rows, sum(m) AS n_keys,
                   max(cnt) AS max_cnt,
                   sum(cnt * (m * prior + (m * (m + 1)) // 2)) AS s_rank
            FROM (
                SELECT h.cnt, h.m,
                       coalesce(sum(l.m), 0) AS prior
                FROM (
                    SELECT cnt, count(*) AS m
                    FROM (SELECT {c}, count(*) AS cnt
                          FROM {t} GROUP BY {c})
                    GROUP BY cnt
                ) h
                LEFT JOIN (
                    SELECT cnt, count(*) AS m
                    FROM (SELECT {c}, count(*) AS cnt
                          FROM {t} GROUP BY {c})
                    GROUP BY cnt
                ) l ON l.cnt < h.cnt
                GROUP BY h.cnt, h.m
            )
        )""")
    body = "\n        UNION ALL\n".join(selects)
    return f"{body}\n        ORDER BY key_col"


register("key_skew_profile", q_key_skew_profile, key_skew_profile_sql())


# --- conversion attribution ---------------------------------------------------
# First-touch / last-touch attribution: every purchase is credited to the
# first and to the most recent preceding non-purchase touch (click / view /
# signup / error) of the same user in the canonical (ts, event_id) order.
# The funnel/retention family's missing sibling — the revenue-credit query
# every event pipeline ships.

ATTRIBUTION_TOUCHES = ("click", "view", "signup", "error")


def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (model, touch_type): attributed conversions and value.

    Output: (model 'first'|'last', touch_type with 'none' for untouched
    purchases, conversions, value_sum).

    Scale: ONE shuffle on user_id feeds both running first/last touch
    windows (same window spec, shared exchange); the rollup is a
    bounded-key hash aggregate.  No self-join of the event stream against
    itself, no driver-side loop."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    touch = F.when(
        F.col("event_type").isin(*ATTRIBUTION_TOUCHES),
        F.struct("ts", "event_id", "event_type"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w)["event_type"].alias(
            "first_touch"
        ),
        F.last(touch, ignorenulls=True).over(w)["event_type"].alias(
            "last_touch"
        ),
    ).filter(F.col("event_type") == "purchase")
    # both models fan out of ONE pass over the conversions (a 2-way
    # explode), so the windowed event scan is never repeated
    fanned = marked.select(
        "value",
        F.explode(
            F.array(
                F.struct(
                    F.lit("first").alias("model"),
                    F.coalesce("first_touch", F.lit("none")).alias(
                        "touch_type"
                    ),
                ),
                F.struct(
                    F.lit("last").alias("model"),
                    F.coalesce("last_touch", F.lit("none")).alias(
                        "touch_type"
                    ),
                ),
            )
        ).alias("mt"),
    )
    return (
        fanned.groupBy(
            F.col("mt.model").alias("model"),
            F.col("mt.touch_type").alias("touch_type"),
        )
        .agg(
            F.count("*").alias("conversions"),
            # fixed-point each value BEFORE the sum (token_drift
            # discipline): round(sum(double),6) is an order-dependent
            # float accumulation that can flip the 6th decimal at scale
            (
                F.sum(
                    F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast(
                        "long"
                    )
                ).cast("double")
                / F.lit(1e6)
            ).alias("value_sum"),
        )
    )


def attribution_touch_sql() -> str:
    """DuckDB replay: IGNORE NULLS running first/last over the identical
    (ts, event_id) order, identical rollup."""
    touches = ", ".join(f"'{t}'" for t in ATTRIBUTION_TOUCHES)
    return f"""
        WITH marked AS (
            SELECT event_type, value,
                   first_value(CASE WHEN event_type IN ({touches})
                                    THEN event_type END IGNORE NULLS)
                       OVER w AS first_touch,
                   last_value(CASE WHEN event_type IN ({touches})
                                   THEN event_type END IGNORE NULLS)
                       OVER w AS last_touch
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        conv AS (SELECT * FROM marked WHERE event_type = 'purchase')
        SELECT 'first' AS model,
               coalesce(first_touch, 'none') AS touch_type,
               count(*) AS conversions,
               sum(CAST(floor(value * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   )::DOUBLE / 1e6 AS value_sum
        FROM conv GROUP BY 2
        UNION ALL
        SELECT 'last', coalesce(last_touch, 'none'), count(*),
               sum(CAST(floor(value * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   )::DOUBLE / 1e6
        FROM conv GROUP BY 2
        ORDER BY model, touch_type
    """


register("attribution_touch", q_attribution_touch, attribution_touch_sql())


# --- PSI drift -----------------------------------------------------------------
# Population Stability Index between two segments' value distributions:
# PSI = Σ_buckets (p_a − p_b)·ln(p_a / p_b).  The model-monitoring
# companion to token_drift's chi-square — PSI < 0.1 is conventionally
# "stable", 0.1-0.25 "shifting", > 0.25 "drifted".
#
# Determinism: equi-width buckets on data-independent constants (50-wide,
# top bucket open, mirroring price_histogram); shares are clamped at 1e-4
# (the standard zero-bucket guard) with IDENTICAL double literals; each
# bucket's contribution is fixed-pointed before the BIGINT sum.

PSI_BUCKET_WIDTH = 50.0
PSI_N_BUCKETS = 10  # buckets 0..9, top open-ended
PSI_CLAMP = 1e-4
PSI_BANDS_FP = ((100_000, "stable"), (250_000, "shifting"))  # 1e-6 units


def psi_bucket_col() -> F.Column:
    """The shared equi-width bucket projection (batch + streaming)."""
    return F.least(
        F.floor(F.col("value") / F.lit(PSI_BUCKET_WIDTH)),
        F.lit(PSI_N_BUCKETS - 1),
    ).cast("int")


def psi_from_counts(spark: SparkSession, seg: DataFrame) -> DataFrame:
    """PSI report from a (segment, bucket, n) counts frame — the shared
    core of the batch query and the streaming twin (whose final complete-
    mode state is exactly such a counts frame)."""
    # ≤ 2×10 rows feeding four consumers (two sides × counts/totals) —
    # checkpoint so the fact-table histogram aggregation runs exactly once
    seg = seg.localCheckpoint(eager=False)
    spine = spark.range(PSI_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )
    # n_seg = 0 (a segment with zero rows) would otherwise produce an
    # EMPTY totals frame whose no-condition join collapses the report to
    # 0 rows, while the oracle's CROSS JOIN still emits 10 rows — so the
    # totals side is a no-groupBy agg (always exactly 1 row, sum NULL→0)
    # and the share is pinned to 0 (→ clamp) when the segment is empty.
    share = F.when(
        F.col("n_seg") > 0,
        F.coalesce(F.col("n"), F.lit(0)).cast("double")
        / F.col("n_seg").cast("double"),
    ).otherwise(F.lit(0.0))
    clamped = F.greatest(share, F.lit(PSI_CLAMP))

    def _side(name: str, alias: str) -> DataFrame:
        part = seg.filter(F.col("segment") == name).drop("segment")
        tot = seg.filter(F.col("segment") == name).agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("n_seg")
        )
        return spine.join(part, "bucket", "left").join(
            F.broadcast(tot)
        ).select("bucket", clamped.alias(alias))

    both = _side("click", "p_a").join(_side("purchase", "p_b"), "bucket")
    contrib = (F.col("p_a") - F.col("p_b")) * F.log(
        F.col("p_a") / F.col("p_b")
    )
    fixed = both.select(
        "bucket",
        F.round("p_a", 6).alias("share_click"),
        F.round("p_b", 6).alias("share_purchase"),
        F.floor(contrib * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "psi_fp"
        ),
    )
    total = fixed.agg(F.sum("psi_fp").alias("psi_total_fp"))
    band = F.when(
        F.col("psi_total_fp") < PSI_BANDS_FP[0][0], PSI_BANDS_FP[0][1]
    ).when(
        F.col("psi_total_fp") < PSI_BANDS_FP[1][0], PSI_BANDS_FP[1][1]
    ).otherwise("drifted")
    return (
        fixed.join(F.broadcast(total))
        .select(
            "bucket",
            "share_click",
            "share_purchase",
            (F.col("psi_fp").cast("double") / F.lit(1e6)).alias("psi_part"),
            (F.col("psi_total_fp").cast("double") / F.lit(1e6)).alias(
                "psi_total"
            ),
            band.alias("band"),
        )
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the `value` distribution: click events (reference segment)
    vs purchase events (comparison segment), per equi-width bucket, plus
    the total PSI and its conventional band.

    Scale: one map-side bucket projection, one (segment, bucket) hash
    aggregate, a 2-row totals broadcast, and a 10-row spine join — the
    fact table is scanned ONCE and never windowed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    seg = ev.groupBy(
        F.col("event_type").alias("segment"),
        psi_bucket_col().alias("bucket"),
    ).agg(F.count("*").alias("n"))
    return psi_from_counts(spark, seg)


KS_CRIT_COEFF = 1.358  # two-sample KS critical coefficient, alpha = 0.05


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test over the SAME segments
    and equi-width bucket grid as psi_drift (click = reference,
    purchase = comparison): completes the drift-audit family — PSI is
    the banded magnitude measure, KS is the distribution-free
    reject/accept test a monitoring pipeline alarms on.

    D = max_b |CDF_click(b) - CDF_purchase(b)| on the grid CDF, computed
    EXACTLY in integers before the one final fixed-point division:
    gap_fp(b) = |cum_click(b)*N_purchase - cum_purchase(b)*N_click| is a
    BIGINT cross-multiplication (≤ ~1e10 at sf0.1 — no float until the
    last step), so the argmax and the drift verdict are engine-identical
    by construction.  The decision compares against the large-sample
    critical value c(0.05)*sqrt((N1+N2)/(N1*N2)), fixed-pointed the same
    way.

    Scale shape (mirrors psi_drift): one map-side bucket projection, one
    (segment, bucket) hash aggregate, then everything downstream is
    grid-bounded — the cumulative is a 10x10 triangular join, never an
    unpartitioned window; totals are 1-row broadcasts."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    seg = ev.groupBy(
        F.col("event_type").alias("segment"),
        psi_bucket_col().alias("bucket"),
    ).agg(F.count("*").alias("n"))
    return ks_from_counts(spark, seg)


def ks_from_counts(spark: SparkSession, seg: DataFrame) -> DataFrame:
    """KS report from a (segment, bucket, n) counts frame — the shared
    core shape of the PSI family, so a streaming twin's final counts
    state could reuse it verbatim."""
    seg = seg.localCheckpoint(eager=False)
    spine = spark.range(PSI_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )

    def _side(name: str, cum_alias: str, tot_alias: str) -> DataFrame:
        part = seg.filter(F.col("segment") == name).drop("segment")
        cnt = spine.join(part, "bucket", "left").select(
            "bucket", F.coalesce(F.col("n"), F.lit(0)).alias("nb")
        )
        # grid-bounded triangular join (10x10 rows) — the repo's standard
        # cumulative shape; an unpartitioned window is lint-banned
        lower = cnt.select(
            F.col("bucket").alias("b2"), F.col("nb").alias("n2")
        )
        cum = (
            cnt.join(lower, F.col("b2") <= F.col("bucket"))
            .groupBy("bucket")
            .agg(F.sum("n2").cast("long").alias(cum_alias))
        )
        tot = seg.filter(F.col("segment") == name).agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias(tot_alias)
        )
        return cum.join(F.broadcast(tot))

    both = _side("click", "cum_click", "n_click").join(
        _side("purchase", "cum_purchase", "n_purchase"), "bucket"
    )
    denom = F.col("n_click") * F.col("n_purchase")
    gap_fp = F.abs(
        F.col("cum_click") * F.col("n_purchase")
        - F.col("cum_purchase") * F.col("n_click")
    )
    cdf = lambda cum, n: F.round(  # noqa: E731 — two-arg local shorthand
        F.when(
            F.col(n) > 0,
            F.col(cum).cast("double") / F.col(n).cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    per = both.select(
        "bucket",
        cdf("cum_click", "n_click").alias("cdf_click"),
        cdf("cum_purchase", "n_purchase").alias("cdf_purchase"),
        gap_fp.alias("gap_fp"),
        F.col("n_click").alias("n1"),
        F.col("n_purchase").alias("n2"),
        denom.alias("denom"),
    ).localCheckpoint(eager=False)  # grid-bounded (10 rows), two consumers
    # the statistic: max gap + the critical value, one 1-row broadcast
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    ks = per.agg(
        F.max("gap_fp").alias("ks_fp"),
        F.max("n1").alias("n1"),  # constant per row — max is a pick
        F.max("n2").alias("n2"),
        F.max("denom").alias("denom"),
    ).select(
        fp(
            F.when(
                F.col("denom") > 0,
                F.col("ks_fp").cast("double") / F.col("denom").cast("double"),
            ).otherwise(F.lit(0.0))
        ).alias("ks_e6"),
        F.when(
            F.col("denom") > 0,
            fp(
                F.lit(KS_CRIT_COEFF)
                * F.sqrt(
                    (F.col("n1") + F.col("n2")).cast("double")
                    / F.col("denom").cast("double")
                )
            ),
        ).otherwise(F.lit(None).cast("long")).alias("crit_e6"),
    )
    return (
        per.join(F.broadcast(ks))
        .select(
            "bucket",
            "cdf_click",
            "cdf_purchase",
            fp(
                F.when(
                    F.col("denom") > 0,
                    F.col("gap_fp").cast("double")
                    / F.col("denom").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("cdf_gap_e6"),
            (F.col("ks_e6").cast("double") / F.lit(1e6)).alias("ks_stat"),
            (F.col("crit_e6").cast("double") / F.lit(1e6)).alias(
                "ks_crit_5pct"
            ),
            F.coalesce(
                F.col("ks_e6") > F.col("crit_e6"), F.lit(False)
            ).alias("drifted"),
        )
    )


def ks_drift_sql() -> str:
    """DuckDB replay: identical grid, integer cross-multiplied gaps,
    fixed-point division and verdict.  The oracle may use a window for
    its cumulative (DuckDB is the oracle, not the scale path); sums are
    BIGINT-cast before any arithmetic so no HUGEINT reaches the
    comparison fetch."""
    side = """
        SELECT s.bucket,
               CAST(sum(coalesce(n, 0)) OVER (ORDER BY s.bucket)
                    AS BIGINT) AS {cum},
               CAST(t.n_seg AS BIGINT) AS {tot}
        FROM (SELECT unnest(range(0, {nb}))::INTEGER AS bucket) s
        LEFT JOIN (
            SELECT CAST(least(floor(value / CAST({w} AS DOUBLE)), {top})
                        AS INTEGER) AS bucket, count(*) AS n
            FROM events WHERE event_type = '{seg}' GROUP BY 1
        ) c USING (bucket)
        CROSS JOIN (
            SELECT count(*) AS n_seg FROM events WHERE event_type = '{seg}'
        ) t
    """
    a = side.format(cum="cum_click", tot="n1", nb=PSI_N_BUCKETS,
                    w=PSI_BUCKET_WIDTH, top=PSI_N_BUCKETS - 1, seg="click")
    b = side.format(cum="cum_purchase", tot="n2", nb=PSI_N_BUCKETS,
                    w=PSI_BUCKET_WIDTH, top=PSI_N_BUCKETS - 1,
                    seg="purchase")
    return f"""
        WITH per AS (
            SELECT a.bucket,
                   round(CASE WHEN n1 > 0
                              THEN cum_click::DOUBLE / n1::DOUBLE
                              ELSE CAST(0.0 AS DOUBLE) END, 6)
                       AS cdf_click,
                   round(CASE WHEN n2 > 0
                              THEN cum_purchase::DOUBLE / n2::DOUBLE
                              ELSE CAST(0.0 AS DOUBLE) END, 6)
                       AS cdf_purchase,
                   abs(cum_click * n2 - cum_purchase * n1) AS gap_fp,
                   n1, n2, n1 * n2 AS denom
            FROM ({a}) a JOIN ({b}) b USING (bucket)
        ),
        ks AS (
            SELECT CAST(floor(CASE WHEN max(denom) > 0
                                   THEN max(gap_fp)::DOUBLE
                                        / max(denom)::DOUBLE
                                   ELSE CAST(0.0 AS DOUBLE) END * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ks_e6,
                   CASE WHEN max(denom) > 0 THEN
                       CAST(floor({KS_CRIT_COEFF}
                                  * sqrt((max(n1) + max(n2))::DOUBLE
                                         / max(denom)::DOUBLE) * 1e6
                                  + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END AS crit_e6
            FROM per
        )
        SELECT bucket, cdf_click, cdf_purchase,
               CAST(floor(CASE WHEN denom > 0
                               THEN gap_fp::DOUBLE / denom::DOUBLE
                               ELSE CAST(0.0 AS DOUBLE) END * 1e6
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cdf_gap_e6,
               ks_e6::DOUBLE / 1e6 AS ks_stat,
               crit_e6::DOUBLE / 1e6 AS ks_crit_5pct,
               coalesce(ks_e6 > crit_e6, FALSE) AS drifted
        FROM per CROSS JOIN ks
        ORDER BY bucket
    """


register("ks_drift", q_ks_drift, ks_drift_sql())


MWU_Z_CRIT_E6 = 1_959_964  # two-sided alpha = 0.05 normal critical, e6


def q_mannwhitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) drift test over the SAME
    segments and bucket grid as psi_drift/ks_drift (click = sample 1,
    purchase = sample 2) — the third member of the drift-audit family:
    PSI measures banded magnitude, KS tests the max CDF gap, U tests the
    RANK ordering (stochastic dominance), which catches location shifts
    whose sup-gap stays under the KS critical line.

    Exact integer rank math on the binned data (midranks for ties —
    every bucket is one tie group):
      m2(b)   = 2·cum_t(b-1) + t_b + 1      (2× the bucket midrank)
      2·R1    = Σ_b a_b · m2(b)             (BIGINT, exact)
      2·U1    = 2·R1 − n1·(n1+1)            (BIGINT, exact)
    then the normal approximation with the standard tie correction,
    computed once in IEEE double from exact BIGINT pieces (identical op
    order in the oracle):
      var U = n1·n2/12 · ((N+1) − Σ(t³−t)/(N·(N−1)))
      z     = (U1 − n1·n2/2) / sqrt(var U)
    Σ(t³−t) stays in BIGINT — exact up to per-bucket tie groups of
    ~2.09e6 rows, far past the sweep decades; at real scale the grid
    would widen before a single bucket holds 2M rows.

    Scale shape (mirrors ks_drift): one map-side bucket projection, one
    (segment, bucket) hash aggregate; everything downstream is
    grid-bounded (10×10 triangular join for the cumulative, 1-row
    output).  Output: (n1, n2, u_stat, z, rank_biserial, drifted)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    seg = ev.groupBy(
        F.col("event_type").alias("segment"),
        psi_bucket_col().alias("bucket"),
    ).agg(F.count("*").alias("n"))
    return mannwhitney_from_counts(spark, seg)


def mannwhitney_from_counts(spark: SparkSession, seg: DataFrame) -> DataFrame:
    """Mann-Whitney report from a (segment, bucket, n) counts frame —
    same shared-core contract as ks_from_counts, so a streaming twin's
    drained counts state can reuse it verbatim."""
    seg = seg.localCheckpoint(eager=False)
    spine = spark.range(PSI_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )

    def _cnt(name: str, alias: str) -> DataFrame:
        part = seg.filter(F.col("segment") == name).drop("segment")
        return spine.join(part, "bucket", "left").select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(alias),
        )

    cnt = _cnt("click", "a").join(_cnt("purchase", "c"), "bucket").select(
        "bucket", "a", "c", (F.col("a") + F.col("c")).alias("t")
    )
    # cum_t(b-1): grid-bounded strict-lower triangular join (10x10 rows)
    lower = cnt.select(F.col("bucket").alias("b2"), F.col("t").alias("t2"))
    cum_prev = (
        spine.join(lower, F.col("b2") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("t2"), F.lit(0)).cast("long").alias("cum_prev"))
    )
    per = cnt.join(cum_prev, "bucket").select(
        "a",
        "c",
        "t",
        (F.lit(2) * F.col("cum_prev") + F.col("t") + F.lit(1)).alias("m2"),
    )
    agg = per.agg(
        F.sum("a").cast("long").alias("n1"),
        F.sum("c").cast("long").alias("n2"),
        F.sum(F.col("a") * F.col("m2")).cast("long").alias("r1_2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("long").alias("tie"),
    )
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    u1_2 = F.col("r1_2") - F.col("n1") * (F.col("n1") + F.lit(1))
    var_u = (
        n1d
        * n2d
        / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("tie").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    z = F.when(
        var_u > 0,
        (u1_2.cast("double") / F.lit(2.0) - n1d * n2d / F.lit(2.0))
        / F.sqrt(var_u),
    )
    rb = F.when(
        F.col("n1") * F.col("n2") > 0,
        F.lit(1.0) - u1_2.cast("double") / (n1d * n2d),
    )
    stats = agg.select(
        "n1",
        "n2",
        (u1_2.cast("double") / F.lit(2.0)).alias("u_stat"),
        fp(z).alias("z_e6"),
        fp(rb).alias("rb_e6"),
    )
    return stats.select(
        "n1",
        "n2",
        "u_stat",
        (F.col("z_e6").cast("double") / F.lit(1e6)).alias("z"),
        (F.col("rb_e6").cast("double") / F.lit(1e6)).alias("rank_biserial"),
        F.coalesce(
            F.abs(F.col("z_e6")) > F.lit(MWU_Z_CRIT_E6), F.lit(False)
        ).alias("drifted"),
    )


def mannwhitney_drift_sql() -> str:
    """DuckDB replay: identical grid, integer midranks, BIGINT tie sum,
    identical-op-order double steps, e6 fixed-point verdict."""
    side = """
        SELECT s.bucket, CAST(coalesce(n, 0) AS BIGINT) AS {alias}
        FROM (SELECT unnest(range(0, {nb}))::INTEGER AS bucket) s
        LEFT JOIN (
            SELECT CAST(least(floor(value / CAST({w} AS DOUBLE)), {top})
                        AS INTEGER) AS bucket, count(*) AS n
            FROM events WHERE event_type = '{seg}' GROUP BY 1
        ) c USING (bucket)
    """
    a = side.format(alias="a", nb=PSI_N_BUCKETS, w=PSI_BUCKET_WIDTH,
                    top=PSI_N_BUCKETS - 1, seg="click")
    c = side.format(alias="c", nb=PSI_N_BUCKETS, w=PSI_BUCKET_WIDTH,
                    top=PSI_N_BUCKETS - 1, seg="purchase")
    return f"""
        WITH cnt AS (
            SELECT a.bucket, a, c, a + c AS t
            FROM ({a}) a JOIN ({c}) c USING (bucket)
        ),
        per AS (
            SELECT a, c, t,
                   2 * (CAST(coalesce(sum(t) OVER (
                            ORDER BY bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT))
                     + t + 1 AS m2
            FROM cnt
        ),
        agg AS (
            SELECT CAST(sum(a) AS BIGINT) AS n1,
                   CAST(sum(c) AS BIGINT) AS n2,
                   CAST(sum(a * m2) AS BIGINT) AS r1_2,
                   CAST(sum(t * t * t - t) AS BIGINT) AS tie
            FROM per
        ),
        stats AS (
            SELECT n1, n2,
                   (r1_2 - n1 * (n1 + 1)) AS u1_2,
                   (n1::DOUBLE * n2::DOUBLE / 12.0
                    * (((n1 + n2)::DOUBLE + 1.0)
                       - tie::DOUBLE
                         / ((n1 + n2)::DOUBLE
                            * ((n1 + n2)::DOUBLE - 1.0)))) AS var_u
            FROM agg
        )
        SELECT n1, n2,
               u1_2::DOUBLE / 2.0 AS u_stat,
               CAST(floor(CASE WHEN var_u > 0 THEN
                        (u1_2::DOUBLE / 2.0
                         - n1::DOUBLE * n2::DOUBLE / 2.0) / sqrt(var_u)
                    END * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)::DOUBLE
                   / 1e6 AS z,
               CAST(floor(CASE WHEN n1 * n2 > 0 THEN
                        1.0 - u1_2::DOUBLE / (n1::DOUBLE * n2::DOUBLE)
                    END * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)::DOUBLE
                   / 1e6 AS rank_biserial,
               coalesce(abs(CAST(floor(CASE WHEN var_u > 0 THEN
                        (u1_2::DOUBLE / 2.0
                         - n1::DOUBLE * n2::DOUBLE / 2.0) / sqrt(var_u)
                    END * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT))
                        > {MWU_Z_CRIT_E6}, FALSE) AS drifted
        FROM stats
    """


register("mannwhitney_drift", q_mannwhitney_drift, mannwhitney_drift_sql())


# chi-square inverse CDF at alpha = 0.05 for dof 1..9 (e6 fixed-point):
# with the 10-bucket grid and 2 segments dof <= 9, so a constant lookup
# replaces any special-function evaluation (nothing transcendental runs
# per row; both engines read the same table).
CHI2_CRIT_E6 = [
    3_841_459, 5_991_465, 7_814_728, 9_487_729, 11_070_498,
    12_591_587, 14_067_140, 15_507_313, 16_918_978,
]


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of homogeneity over the SAME segments and
    equi-width bucket grid as psi_drift/ks_drift/mannwhitney_drift
    (click = row 1, purchase = row 2; buckets = columns) — the fourth
    member of the drift-audit family: PSI measures banded magnitude, KS
    the max CDF gap, U the rank ordering, and chi-square tests the full
    CONTINGENCY TABLE, catching shape changes (variance/multi-modal
    drift) that leave the CDF sup-gap and the rank sum quiet.

    Exact integer core per cell: num_sb = O_sb*N - R_s*C_b is a BIGINT
    cross-multiplication (algebra: (O-E)^2/E = num^2 / (R*C*N)), so the
    only doubles are one identical-op-order term per cell, immediately
    e6 fixed-pointed; the statistic is an ORDER-INDEPENDENT BIGINT sum
    of those 20 cell contributions — deterministic under any
    partitioning, mirrored expression-for-expression in the oracle.
    num stays exact while O*N < 2^63, i.e. to ~3e9 rows per pair of
    segments — three decades past the sweep scales; a wider grid (or a
    128-bit decimal) would precede any real corpus crossing it.
    dof = (nonempty columns - 1) x (nonempty rows - 1), Cramer's V
    reported as the scale-free effect size.

    Scale shape (mirrors the family): one map-side bucket projection,
    one (segment, bucket) hash aggregate; everything downstream is
    grid-bounded (a 1-row totals broadcast, 10-row spine join, 1-row
    stats broadcast back onto the 10 report rows)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    seg = ev.groupBy(
        F.col("event_type").alias("segment"),
        psi_bucket_col().alias("bucket"),
    ).agg(F.count("*").alias("n"))
    return chi2_from_counts(spark, seg)


def chi2_from_counts(spark: SparkSession, seg: DataFrame) -> DataFrame:
    """Chi-square report from a (segment, bucket, n) counts frame — same
    shared-core contract as ks_from_counts/mannwhitney_from_counts, so a
    streaming twin's drained counts state reuses it verbatim."""
    seg = seg.localCheckpoint(eager=False)
    spine = spark.range(PSI_N_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )

    def _cnt(name: str, alias: str) -> DataFrame:
        part = seg.filter(F.col("segment") == name).drop("segment")
        return spine.join(part, "bucket", "left").select(
            "bucket",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias(alias),
        )

    cnt = _cnt("click", "a").join(_cnt("purchase", "c"), "bucket").select(
        "bucket", "a", "c", (F.col("a") + F.col("c")).alias("t")
    )
    tot = cnt.agg(
        F.sum("a").cast("long").alias("r1"),
        F.sum("c").cast("long").alias("r2"),
        F.sum("t").cast("long").alias("n"),
        F.sum(F.when(F.col("t") > 0, 1).otherwise(0))
        .cast("int")
        .alias("cols"),
    )
    per = cnt.join(F.broadcast(tot))
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")

    def _term(obs: str, row_tot: str) -> F.Column:
        # (O*N - R*C)^2 / (R*C*N) == (O-E)^2/E, numerator exact BIGINT;
        # the double steps are spelled in the oracle's exact op order
        num_d = (
            F.col(obs) * F.col("n") - F.col(row_tot) * F.col("t")
        ).cast("double")
        rd = F.col(row_tot).cast("double")
        return F.when(
            (F.col(row_tot) > 0) & (F.col("t") > 0),
            (num_d * num_d) / ((rd * td) * nd),
        ).otherwise(F.lit(0.0))

    def _expected(row_tot: str) -> F.Column:
        rd = F.col(row_tot).cast("double")
        return F.round(
            F.when(F.col("n") > 0, (rd * td) / nd).otherwise(F.lit(0.0)), 6
        )

    per = per.select(
        "bucket",
        F.col("a").alias("o_click"),
        F.col("c").alias("o_purchase"),
        _expected("r1").alias("e_click"),
        _expected("r2").alias("e_purchase"),
        (fp(_term("a", "r1")) + fp(_term("c", "r2"))).alias("contrib_e6"),
        "r1",
        "r2",
        "n",
        "cols",
    ).localCheckpoint(eager=False)  # grid-bounded (10 rows), two consumers
    rows_nonempty = (
        F.when(F.col("r1") > 0, 1).otherwise(0)
        + F.when(F.col("r2") > 0, 1).otherwise(0)
    )
    stats = per.agg(
        F.sum("contrib_e6").cast("long").alias("chi2_e6"),
        F.max("n").alias("n"),  # constant per row — max is a pick
        F.max("cols").alias("cols"),
        F.max("r1").alias("r1"),
        F.max("r2").alias("r2"),
    ).select(
        "chi2_e6",
        # empty input would otherwise yield dof = (-1)*(-1) = 1 with a real
        # critical value; report dof NULL like v_e6 instead
        F.when(
            F.col("n") > 0,
            (F.col("cols") - F.lit(1)) * (rows_nonempty - F.lit(1)),
        ).alias("dof"),
        F.when(
            F.col("n") > 0,
            fp(
                F.sqrt(
                    (F.col("chi2_e6").cast("double") / F.lit(1e6))
                    / F.col("n").cast("double")
                )
            ),
        ).otherwise(F.lit(None).cast("long")).alias("v_e6"),
    ).select(
        "chi2_e6",
        "dof",
        "v_e6",
        F.when(
            (F.col("dof") >= 1) & (F.col("dof") <= len(CHI2_CRIT_E6)),
            F.element_at(
                F.array(*[F.lit(c) for c in CHI2_CRIT_E6]), F.col("dof")
            ),
        ).alias("crit_e6"),
    )
    return (
        per.join(F.broadcast(stats))
        .select(
            "bucket",
            "o_click",
            "o_purchase",
            "e_click",
            "e_purchase",
            "contrib_e6",
            (F.col("chi2_e6").cast("double") / F.lit(1e6)).alias(
                "chi2_stat"
            ),
            "dof",
            (F.col("crit_e6").cast("double") / F.lit(1e6)).alias(
                "chi2_crit_5pct"
            ),
            (F.col("v_e6").cast("double") / F.lit(1e6)).alias("cramers_v"),
            F.coalesce(
                F.col("chi2_e6") > F.col("crit_e6"), F.lit(False)
            ).alias("drifted"),
        )
    )


def chi2_drift_sql() -> str:
    """DuckDB replay: identical grid, BIGINT cross-multiplied numerators,
    identical-op-order double terms, e6 fixed-point order-independent
    contribution sum, same dof/critical lookup."""
    side = """
        SELECT s.bucket, CAST(coalesce(n, 0) AS BIGINT) AS {alias}
        FROM (SELECT unnest(range(0, {nb}))::INTEGER AS bucket) s
        LEFT JOIN (
            SELECT CAST(least(floor(value / CAST({w} AS DOUBLE)), {top})
                        AS INTEGER) AS bucket, count(*) AS n
            FROM events WHERE event_type = '{seg}' GROUP BY 1
        ) c USING (bucket)
    """
    a = side.format(alias="a", nb=PSI_N_BUCKETS, w=PSI_BUCKET_WIDTH,
                    top=PSI_N_BUCKETS - 1, seg="click")
    c = side.format(alias="c", nb=PSI_N_BUCKETS, w=PSI_BUCKET_WIDTH,
                    top=PSI_N_BUCKETS - 1, seg="purchase")
    crit = " ".join(
        f"WHEN {d + 1} THEN {v}" for d, v in enumerate(CHI2_CRIT_E6)
    )
    term = """
        CASE WHEN {r} > 0 AND t > 0 THEN
            ((({o} * n - {r} * t)::DOUBLE) * (({o} * n - {r} * t)::DOUBLE))
            / ((({r}::DOUBLE) * (t::DOUBLE)) * (n::DOUBLE))
        ELSE CAST(0.0 AS DOUBLE) END
    """
    exp = """
        round(CASE WHEN n > 0
                   THEN (({r}::DOUBLE) * (t::DOUBLE)) / (n::DOUBLE)
                   ELSE CAST(0.0 AS DOUBLE) END, 6)
    """
    fp = "CAST(floor({x} * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    return f"""
        WITH cnt AS (
            SELECT a.bucket, a, c, a + c AS t
            FROM ({a}) a JOIN ({c}) c USING (bucket)
        ),
        tot AS (
            SELECT CAST(sum(a) AS BIGINT) AS r1,
                   CAST(sum(c) AS BIGINT) AS r2,
                   CAST(sum(a + c) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN a + c > 0 THEN 1 ELSE 0 END)
                        AS INTEGER) AS cols
            FROM cnt
        ),
        per AS (
            SELECT bucket, a AS o_click, c AS o_purchase,
                   {exp.format(r='r1')} AS e_click,
                   {exp.format(r='r2')} AS e_purchase,
                   {fp.format(x=term.format(o='a', r='r1'))}
                     + {fp.format(x=term.format(o='c', r='r2'))}
                       AS contrib_e6,
                   r1, r2, n, cols
            FROM cnt CROSS JOIN tot
        ),
        stats AS (
            SELECT CAST(sum(contrib_e6) AS BIGINT) AS chi2_e6,
                   CASE WHEN max(n) > 0 THEN
                       (max(cols) - 1)
                         * ((CASE WHEN max(r1) > 0 THEN 1 ELSE 0 END)
                            + (CASE WHEN max(r2) > 0 THEN 1 ELSE 0 END) - 1)
                   END AS dof,
                   CASE WHEN max(n) > 0 THEN
                       {fp.format(
                           x="sqrt((CAST(sum(contrib_e6) AS BIGINT)::DOUBLE"
                             " / 1e6) / (max(n)::DOUBLE))")}
                   END AS v_e6
            FROM per
        ),
        crit AS (
            SELECT chi2_e6, dof, v_e6,
                   CASE dof {crit} END AS crit_e6
            FROM stats
        )
        SELECT bucket, o_click, o_purchase, e_click, e_purchase,
               contrib_e6,
               chi2_e6::DOUBLE / 1e6 AS chi2_stat,
               dof,
               crit_e6::DOUBLE / 1e6 AS chi2_crit_5pct,
               v_e6::DOUBLE / 1e6 AS cramers_v,
               coalesce(chi2_e6 > crit_e6, FALSE) AS drifted
        FROM per CROSS JOIN crit
        ORDER BY bucket
    """


register("chi2_drift", q_chi2_drift, chi2_drift_sql())


def psi_drift_sql() -> str:
    """DuckDB replay: identical buckets, clamps, fixed-point contributions
    and banding."""
    bands = (
        f"WHEN psi_total_fp < {PSI_BANDS_FP[0][0]} THEN '{PSI_BANDS_FP[0][1]}' "
        f"WHEN psi_total_fp < {PSI_BANDS_FP[1][0]} THEN '{PSI_BANDS_FP[1][1]}' "
    )
    side = """
        SELECT s.bucket,
               greatest(CASE WHEN n_seg > 0
                             THEN coalesce(n, 0)::DOUBLE / n_seg::DOUBLE
                             ELSE CAST(0.0 AS DOUBLE) END,
                        CAST({clamp} AS DOUBLE)) AS {alias}
        FROM (SELECT unnest(range(0, {nb}))::INTEGER AS bucket) s
        LEFT JOIN (
            SELECT CAST(least(floor(value / CAST({w} AS DOUBLE)), {top})
                        AS INTEGER) AS bucket, count(*) AS n
            FROM events WHERE event_type = '{seg}' GROUP BY 1
        ) c USING (bucket)
        CROSS JOIN (
            SELECT count(*) AS n_seg FROM events WHERE event_type = '{seg}'
        ) t
    """
    a = side.format(clamp=PSI_CLAMP, alias="p_a", nb=PSI_N_BUCKETS,
                    w=PSI_BUCKET_WIDTH, top=PSI_N_BUCKETS - 1, seg="click")
    b = side.format(clamp=PSI_CLAMP, alias="p_b", nb=PSI_N_BUCKETS,
                    w=PSI_BUCKET_WIDTH, top=PSI_N_BUCKETS - 1, seg="purchase")
    return f"""
        WITH fixed AS (
            SELECT a.bucket,
                   round(p_a, 6) AS share_click,
                   round(p_b, 6) AS share_purchase,
                   CAST(floor((p_a - p_b) * ln(p_a / p_b) * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS psi_fp
            FROM ({a}) a JOIN ({b}) b USING (bucket)
        ),
        tot AS (SELECT sum(psi_fp) AS psi_total_fp FROM fixed)
        SELECT bucket, share_click, share_purchase,
               psi_fp::DOUBLE / 1e6 AS psi_part,
               psi_total_fp::DOUBLE / 1e6 AS psi_total,
               CASE {bands} ELSE 'drifted' END AS band
        FROM fixed CROSS JOIN tot
        ORDER BY bucket
    """


register("psi_drift", q_psi_drift, psi_drift_sql())


def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types within user
    sessions (30-min gap, the q_sessionization convention): for every
    (from_type → to_type) pair — including the terminal '<end>' state —
    the transition count and row-normalized probability.  The sequence
    statistic behind next-action models and funnel-shape monitoring.

    Scale: ONE shuffle on user_id feeds both the session-id cumulative
    sum and the lead() lookahead (same window spec, shared exchange);
    transition counts are a bounded-key hash aggregate (|types|² + end
    states), and the row totals ride a tiny broadcast join back on."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts") - F.lag("ts").over(w)
    new_sess = F.when(
        gap.isNull() | (gap > SESSION_GAP_NS), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    pairs = sess.select(
        F.col("event_type").alias("from_type"),
        F.coalesce(
            F.lead("event_type").over(ws), F.lit("<end>")
        ).alias("to_type"),
    )
    # bounded at |types|² + end states, feeding both the totals agg and
    # the final join — checkpoint so the windowed scan runs once
    counts = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("n_from").cast("double"), 6
            ).alias("prob"),
        )
    )


def session_transitions_sql() -> str:
    """DuckDB replay: identical session ids, lead lookahead, and
    row-normalized shares."""
    return f"""
        WITH ev AS (
            SELECT event_id, user_id, epoch_ns(ts) AS ts_ns, event_type
            FROM events
        ),
        flagged AS (
            SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                             OR ts_ns - lag(ts_ns) OVER w > {SESSION_GAP_NS}
                           THEN 1 ELSE 0 END AS new_sess
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
        ),
        sess AS (
            SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                ORDER BY ts_ns, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
            FROM flagged
        ),
        pairs AS (
            SELECT event_type AS from_type,
                   coalesce(lead(event_type) OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY ts_ns, event_id), '<end>') AS to_type
            FROM sess
        ),
        counts AS (
            SELECT from_type, to_type, count(*) AS n
            FROM pairs GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6)
                   AS prob
        FROM counts
        ORDER BY from_type, to_type
    """


register("session_transitions", q_session_transitions, session_transitions_sql())


HOUR_NS = 3_600_000_000_000


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sliding-window COUNT(DISTINCT): for every event, how many
    distinct users touched its event_type in the trailing hour — the
    live-audience gauge dashboards poll, and the one rolling aggregate
    partial sums cannot express (distinct is not decomposable, so it is
    a value-bounded RANGE frame over a set state).

    Scale: one shuffle on event_type; per-row state is the distinct-user
    SET of a 1-hour frame (bounded by hourly active users per type, not
    corpus size).  At much larger per-window cardinalities the HLL-sketch
    family (hll_cardinality / streaming_hll) is the documented fallback —
    this op is the exact twin the sketch is audited against."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts")
        .rangeBetween(-HOUR_NS, 0)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            F.size(F.collect_set("user_id").over(w)).alias("hourly_users"),
        )
    )


def rolling_distinct_users_sql() -> str:
    """DuckDB replay: native DISTINCT window aggregate over the identical
    closed RANGE frame."""
    return f"""
        SELECT event_id, event_type, epoch_ns(ts) AS ts,
               CAST(count(DISTINCT user_id) OVER (
                   PARTITION BY event_type ORDER BY epoch_ns(ts)
                   RANGE BETWEEN {HOUR_NS} PRECEDING AND CURRENT ROW)
               AS INTEGER) AS hourly_users
        FROM events
        ORDER BY event_id
    """


register(
    "rolling_distinct_users", q_rolling_distinct_users, rolling_distinct_users_sql()
)


def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time out-of-orderness profile per event_type — the
    measurement that CALIBRATES every watermark in streaming/: for each
    event, lateness = running max event-time over arrival order
    (event_id) minus its own event-time; the audit reports the late
    fraction and the max / mean / p95 lateness in milliseconds.  A
    `withWatermark(delay)` drops exactly the rows whose lateness exceeds
    delay, so this table IS the delay-vs-loss curve's raw input.

    Scale: one shuffle on event_type; the running max is a rows-frame
    window on the same exchange; lateness stays integer ns end-to-end
    (p95 uses the exact interpolated percentile both engines define
    identically on integers)."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts", _ts_us_ns())
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        "event_type",
        (F.max("ts").over(w) - F.col("ts")).alias("late_ns"),
    )
    ms = 1_000_000.0
    return (
        late.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(F.col("late_ns") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.round(
                F.max("late_ns").cast("double") / F.lit(ms), 6
            ).alias("max_late_ms"),
            F.round(
                F.avg(F.col("late_ns").cast("double")) / F.lit(ms), 6
            ).alias("avg_late_ms"),
            F.round(
                F.percentile(F.col("late_ns"), 0.95) / F.lit(ms), 6
            ).alias("p95_late_ms"),
        )
    )


def lateness_audit_sql() -> str:
    """DuckDB replay: identical running max over arrival order, integer
    lateness, quantile_cont p95."""
    return """
        WITH late AS (
            SELECT event_type,
                   max(epoch_ns(ts)) OVER (PARTITION BY event_type
                       ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - epoch_ns(ts) AS late_ns
            FROM events
        )
        SELECT event_type,
               count(*) AS n_events,
               sum(CASE WHEN late_ns > 0 THEN 1 ELSE 0 END)::BIGINT
                   AS n_late,
               round(max(late_ns)::DOUBLE / 1000000.0, 6) AS max_late_ms,
               round(avg(late_ns::DOUBLE) / 1000000.0, 6) AS avg_late_ms,
               round(quantile_cont(late_ns, 0.95) / 1000000.0, 6)
                   AS p95_late_ms
        FROM late GROUP BY event_type ORDER BY event_type
    """


register("lateness_audit", q_lateness_audit, lateness_audit_sql())


# --- ordered funnel ----------------------------------------------------------
# Classic ordered-step conversion funnel: a user reaches step k only if the
# step-k event occurs AFTER some event satisfying steps 1..k-1 in order
# (an increasing subsequence in the canonical (ts, event_id) order).  The
# missing sibling of retention_cohorts / session_transitions — the first
# chart every event pipeline draws.
#
# Scale: ONE shuffle on user_id feeds a chain of running-max window
# columns (same window spec → one Exchange+Sort, the window nodes pipeline
# without re-sorting); the per-user reduction is a hash aggregate and the
# report is 3 rows.  No self-joins of the event stream, no collect.

FUNNEL_STEPS = ("view", "click", "purchase")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per funnel step: users reaching the ordered prefix, conversion
    from the previous step, and conversion from step 1.

    Output: (step, step_name, n_users, conv_from_prev, conv_from_first)
    — rates are fixed-pointed (floor(x*1e6+0.5)/1e6) and pinned to 0 for
    empty upstream steps (degenerate-corpus discipline)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s1, s2, s3 = FUNNEL_STEPS
    # staged projections: window expressions cannot nest, so each running
    # max materializes as a column the next stage references.  The specs
    # are identical, so Catalyst plans ONE Exchange+Sort and the Window
    # nodes pipeline without re-sorting.
    m1 = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("event_type") == s1).cast("int").alias("h1"),
    ).withColumn("seen1", F.max("h1").over(w))
    # chained running max: a purchase counts only if an in-order
    # view→click prefix exists at-or-before it (the current row is a
    # purchase, never a click, so the inclusive frame cannot self-satisfy)
    m2 = m1.withColumn(
        "h2",
        ((F.col("event_type") == s2) & (F.col("seen1") == 1)).cast("int"),
    ).withColumn("seen2", F.max("h2").over(w))
    m3 = m2.withColumn(
        "h3",
        ((F.col("event_type") == s3) & (F.col("seen2") == 1)).cast("int"),
    )
    per_user = m3.groupBy("user_id").agg(
        F.max("h1").alias("r1"),
        F.max("h2").alias("r2"),
        F.max("h3").alias("r3"),
    )
    counts = per_user.agg(
        F.sum("r1").alias("n1"),
        F.sum("r2").alias("n2"),
        F.sum("r3").alias("n3"),
    )

    def _rate(num: F.Column, den: F.Column) -> F.Column:
        return F.when(
            den > 0,
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(1e6)
                + F.lit(0.5)
            ).cast("double")
            / F.lit(1e6),
        ).otherwise(F.lit(0.0))

    rows = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("step"),
                    F.lit(s1).alias("step_name"),
                    F.col("n1").alias("n_users"),
                    F.lit(1.0).alias("conv_from_prev"),
                    F.lit(1.0).alias("conv_from_first"),
                ),
                F.struct(
                    F.lit(2).alias("step"),
                    F.lit(s2).alias("step_name"),
                    F.col("n2").alias("n_users"),
                    _rate(F.col("n2"), F.col("n1")).alias("conv_from_prev"),
                    _rate(F.col("n2"), F.col("n1")).alias("conv_from_first"),
                ),
                F.struct(
                    F.lit(3).alias("step"),
                    F.lit(s3).alias("step_name"),
                    F.col("n3").alias("n_users"),
                    _rate(F.col("n3"), F.col("n2")).alias("conv_from_prev"),
                    _rate(F.col("n3"), F.col("n1")).alias("conv_from_first"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    # step-1 rates are defined as 1.0 only when the funnel is non-empty
    return rows.withColumn(
        "conv_from_prev",
        F.when(F.col("n_users") > 0, F.col("conv_from_prev")).otherwise(
            F.lit(0.0)
        ),
    ).withColumn(
        "conv_from_first",
        F.when(F.col("n_users") > 0, F.col("conv_from_first")).otherwise(
            F.lit(0.0)
        ),
    )


def funnel_steps_sql() -> str:
    """DuckDB replay: identical chained running-max windows over the
    canonical (ts, event_id) order, identical fixed-point rates."""
    s1, s2, s3 = FUNNEL_STEPS
    return f"""
        WITH m1 AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type = '{s1}' THEN 1 ELSE 0 END AS h1,
                   max(CASE WHEN event_type = '{s1}' THEN 1 ELSE 0 END)
                       OVER w AS seen1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        m2 AS (
            SELECT *,
                   CASE WHEN event_type = '{s2}' AND seen1 = 1
                        THEN 1 ELSE 0 END AS h2,
                   max(CASE WHEN event_type = '{s2}' AND seen1 = 1
                            THEN 1 ELSE 0 END) OVER w AS seen2
            FROM m1
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        m3 AS (
            SELECT *,
                   CASE WHEN event_type = '{s3}' AND seen2 = 1
                        THEN 1 ELSE 0 END AS h3
            FROM m2
        ),
        per_user AS (
            SELECT user_id, max(h1) AS r1, max(h2) AS r2, max(h3) AS r3
            FROM m3 GROUP BY user_id
        ),
        counts AS (
            SELECT CAST(sum(r1) AS BIGINT) AS n1,
                   CAST(sum(r2) AS BIGINT) AS n2,
                   CAST(sum(r3) AS BIGINT) AS n3
            FROM per_user
        )
        SELECT step, step_name, n_users,
               CASE WHEN n_users > 0 THEN conv_from_prev
                    ELSE CAST(0.0 AS DOUBLE) END AS conv_from_prev,
               CASE WHEN n_users > 0 THEN conv_from_first
                    ELSE CAST(0.0 AS DOUBLE) END AS conv_from_first
        FROM (
            SELECT 1 AS step, '{s1}' AS step_name, n1 AS n_users,
                   CAST(1.0 AS DOUBLE) AS conv_from_prev,
                   CAST(1.0 AS DOUBLE) AS conv_from_first
            FROM counts
            UNION ALL
            SELECT 2, '{s2}', n2,
                   CASE WHEN n1 > 0 THEN floor(n2::DOUBLE / n1::DOUBLE * 1e6
                        + CAST(0.5 AS DOUBLE)) / 1e6
                        ELSE CAST(0.0 AS DOUBLE) END,
                   CASE WHEN n1 > 0 THEN floor(n2::DOUBLE / n1::DOUBLE * 1e6
                        + CAST(0.5 AS DOUBLE)) / 1e6
                        ELSE CAST(0.0 AS DOUBLE) END
            FROM counts
            UNION ALL
            SELECT 3, '{s3}', n3,
                   CASE WHEN n2 > 0 THEN floor(n3::DOUBLE / n2::DOUBLE * 1e6
                        + CAST(0.5 AS DOUBLE)) / 1e6
                        ELSE CAST(0.0 AS DOUBLE) END,
                   CASE WHEN n1 > 0 THEN floor(n3::DOUBLE / n1::DOUBLE * 1e6
                        + CAST(0.5 AS DOUBLE)) / 1e6
                        ELSE CAST(0.0 AS DOUBLE) END
            FROM counts
        )
        ORDER BY step
    """


register("funnel_steps", q_funnel_steps, funnel_steps_sql())


# --- k-anonymity audit -------------------------------------------------------
# Data-governance screen: group the event log by its quasi-identifier
# tuple and measure equivalence-class sizes.  A class with fewer than K
# members re-identifies its users (the Sweeney k-anonymity criterion);
# release pipelines run exactly this audit before sharing "anonymized"
# event data.  Companion to pii_redaction (which scrubs direct
# identifiers; this measures INDIRECT identifiability).

K_ANON_K = 5
K_ANON_VALUE_BUCKET = 50.0


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class census over the quasi-identifier tuple
    (event_type, value bucket, hour-of-day).

    Output: one row per class-size band (1, 2-4, >=K) plus the totals —
    (band, n_classes, n_rows, n_users, share_rows) with share fixed-
    pointed; band '1' rows are unique fingerprints (worst), '>=K'
    satisfies k-anonymity at K=5.

    Scale: ONE hash aggregate on the quasi-identifier tuple (bounded by
    the attribute cross-product, not row count), then a 3-row banding
    aggregate — the fact table is scanned once, never windowed."""
    ev = load_table(spark, sf_dir, "events")
    qi = [
        F.col("event_type"),
        F.floor(F.col("value") / F.lit(K_ANON_VALUE_BUCKET)).alias("vb"),
        F.expr(f"(ts DIV {3_600_000_000_000}) % 24").alias("hod"),
    ]
    classes = ev.groupBy(*qi).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )
    band = (
        F.when(F.col("n_rows") == 1, F.lit("1"))
        .when(F.col("n_rows") < K_ANON_K, F.lit("2-4"))
        .otherwise(F.lit(">=K"))
    )
    banded = (
        classes.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_users").alias("n_users"),
        )
        .localCheckpoint(eager=False)
    )
    total = banded.agg(F.sum("n_rows").alias("t"))
    share = (
        F.floor(
            F.col("n_rows").cast("double") / F.col("t").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        banded.join(F.broadcast(total))
        .select("band", "n_classes", "n_rows", "n_users",
                share.alias("share_rows"))
    )


def k_anonymity_sql() -> str:
    """DuckDB replay: identical quasi-identifier buckets, bands and
    fixed-point share.  events.ts is µs-precision TIMESTAMP in the
    parquet; epoch ns = epoch_us * 1000 matches load_table's int64-ns
    normalization."""
    hod = "((CAST(epoch_us(ts) AS BIGINT) * 1000) // 3600000000000) % 24"
    return f"""
        WITH classes AS (
            SELECT event_type,
                   CAST(floor(value / CAST({K_ANON_VALUE_BUCKET} AS DOUBLE))
                        AS BIGINT) AS vb,
                   {hod} AS hod,
                   count(*) AS n_rows,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2, 3
        ),
        banded AS (
            SELECT CASE WHEN n_rows = 1 THEN '1'
                        WHEN n_rows < {K_ANON_K} THEN '2-4'
                        ELSE '>=K' END AS band,
                   count(*) AS n_classes,
                   CAST(sum(n_rows) AS BIGINT) AS n_rows,
                   CAST(sum(n_users) AS BIGINT) AS n_users
            FROM classes GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM banded)
        SELECT band, n_classes, n_rows, n_users,
               floor(n_rows::DOUBLE / t::DOUBLE * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS share_rows
        FROM banded CROSS JOIN total
        ORDER BY band
    """


register("k_anonymity", q_k_anonymity, k_anonymity_sql())


L_DIV_L = 3


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census — k-anonymity's sibling: a class can be large
    (k-anonymous) yet expose its members anyway if every row shares ONE
    sensitive value (homogeneity attack).  Per quasi-identifier class
    (the q_k_anonymity tuple) count DISTINCT sensitive values (the
    props JSON 'k' attribute) and band: 1 distinct (attribute fully
    disclosed), 2, >=L (satisfies l-diversity at L=3).

    Output: (band, n_classes, n_rows, share_rows).

    Scale: same single hash aggregate as q_k_anonymity with a distinct
    count of the sensitive attribute riding it; the banding runs on the
    bounded class frame."""
    ev = load_table(spark, sf_dir, "events")
    sensitive = F.get_json_object(F.col("props"), "$.k").cast("int")
    classes = ev.groupBy(
        F.col("event_type"),
        F.floor(F.col("value") / F.lit(K_ANON_VALUE_BUCKET)).alias("vb"),
        F.expr(f"(ts DIV {3_600_000_000_000}) % 24").alias("hod"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(sensitive).alias("n_sensitive"),
    )
    band = (
        F.when(F.col("n_sensitive") == 1, F.lit("1"))
        .when(F.col("n_sensitive") < L_DIV_L, F.lit("2"))
        .otherwise(F.lit(">=L"))
    )
    banded = (
        classes.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("n_rows").alias("n_rows"),
        )
        .localCheckpoint(eager=False)
    )
    total = banded.agg(F.sum("n_rows").alias("t"))
    share = (
        F.floor(
            F.col("n_rows").cast("double") / F.col("t").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        banded.join(F.broadcast(total))
        .select("band", "n_classes", "n_rows", share.alias("share_rows"))
    )


def l_diversity_sql() -> str:
    """DuckDB replay: identical tuple, identical JSON extraction
    (json_extract of the 'k' int), identical bands."""
    hod = "((CAST(epoch_us(ts) AS BIGINT) * 1000) // 3600000000000) % 24"
    return f"""
        WITH classes AS (
            SELECT event_type,
                   CAST(floor(value / CAST({K_ANON_VALUE_BUCKET} AS DOUBLE))
                        AS BIGINT) AS vb,
                   {hod} AS hod,
                   count(*) AS n_rows,
                   count(DISTINCT CAST(json_extract_string(props, '$.k')
                                       AS INTEGER)) AS n_sensitive
            FROM events GROUP BY 1, 2, 3
        ),
        banded AS (
            SELECT CASE WHEN n_sensitive = 1 THEN '1'
                        WHEN n_sensitive < {L_DIV_L} THEN '2'
                        ELSE '>=L' END AS band,
                   count(*) AS n_classes,
                   CAST(sum(n_rows) AS BIGINT) AS n_rows
            FROM classes GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM banded)
        SELECT band, n_classes, n_rows,
               floor(n_rows::DOUBLE / t::DOUBLE * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS share_rows
        FROM banded CROSS JOIN total
        ORDER BY band
    """


register("l_diversity", q_l_diversity, l_diversity_sql())


T_CLOSE_T_E6 = 200_000  # t-closeness threshold t = 0.2 (Li et al. usage)
T_CLOSE_SENS_BUCKETS = 10  # sensitive attribute deciles (k in 0..99)


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census — third member of the privacy-audit family:
    a class can be k-anonymous AND l-diverse yet still leak if its
    sensitive-value DISTRIBUTION differs sharply from the global one
    (skewness attack: 'this class is 90% high-value when the population
    is 10%').  Per quasi-identifier class (the q_k_anonymity tuple),
    total-variation distance between the class's sensitive-decile
    distribution (props 'k' DIV 10 -> 10 categories) and the corpus
    distribution; band by the conventional t = 0.2 line.

    Exact integer core with NO per-class spine: for categories PRESENT
    in the class, gap_fp(s) = |c_cs*N - g_s*n_c| is a BIGINT
    cross-multiplication; categories ABSENT from the class contribute
    sum(g_s*n_c) = n_c*(N - sum_present g_s) in one algebraic term — so
    TVD = (sum_present gap_fp + n_c*(N - sum_present g_s)) / (2*n_c*N)
    takes exactly ONE double division per class, e6 fixed-pointed
    identically in the oracle.  Exact while c*N < 2^63 (~3e9 rows) —
    same documented bound as chi2_drift.

    Output: (band, n_classes, n_rows, share_rows, max_tvd) — the census
    shape of the k_anonymity/l_diversity siblings plus the worst-class
    distance.

    Scale: one (qi, decile) hash aggregate bounded by the attribute
    cross-product (never row count); the decile margin is a 10-row
    broadcast; everything downstream operates on the bounded class
    frame."""
    ev = load_table(spark, sf_dir, "events")
    # rows whose props lack '$.k' coalesce to sentinel decile -1: they stay
    # a REAL category in both the class and global distributions (a
    # null-unsafe join on s would drop them from the present-gap sum while
    # still counting them in n_c/n_total — phantom absent-category mass)
    s = F.expr(
        f"coalesce(CAST(get_json_object(props, '$.k') AS INT)"
        f" DIV {T_CLOSE_SENS_BUCKETS}, -1)"
    )
    cls_s = ev.groupBy(
        F.col("event_type"),
        F.floor(F.col("value") / F.lit(K_ANON_VALUE_BUCKET)).alias("vb"),
        F.expr(f"(ts DIV {3_600_000_000_000}) % 24").alias("hod"),
        s.alias("s"),
    ).agg(F.count("*").cast("long").alias("c"))
    cls_s = cls_s.localCheckpoint(eager=False)  # margins + cells read it
    dom = cls_s.groupBy("s").agg(F.sum("c").cast("long").alias("g"))
    tot = dom.agg(F.sum("g").cast("long").alias("n_total"))
    cells = cls_s.join(F.broadcast(dom), "s").join(F.broadcast(tot))
    # window-free two-pass: n_c per class first, then the gap sum joins it
    n_c = cls_s.groupBy("event_type", "vb", "hod").agg(
        F.sum("c").cast("long").alias("n_c")
    )
    gaps = (
        cells.join(n_c, ["event_type", "vb", "hod"])
        .groupBy("event_type", "vb", "hod")
        .agg(
            F.max("n_c").alias("n_c"),  # constant per class — max is a pick
            F.max("n_total").alias("n_total"),
            F.sum(
                F.abs(
                    F.col("c") * F.col("n_total")
                    - F.col("g") * F.col("n_c")
                )
            ).cast("long").alias("gap_present_fp"),
            F.sum("g").cast("long").alias("g_present"),
        )
    )
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    tvd_fp = F.col("gap_present_fp") + F.col("n_c") * (
        F.col("n_total") - F.col("g_present")
    )
    tvd_e6 = fp(
        tvd_fp.cast("double")
        / (
            F.lit(2.0)
            * (F.col("n_c").cast("double") * F.col("n_total").cast("double"))
        )
    )
    classes = gaps.select(
        "n_c", tvd_e6.alias("tvd_e6")
    ).localCheckpoint(eager=False)  # bounded class frame, two consumers
    band = F.when(F.col("tvd_e6") <= F.lit(T_CLOSE_T_E6), F.lit("<=t")).otherwise(
        F.lit(">t")
    )
    banded = (
        classes.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("n_c").cast("long").alias("n_rows"),
        )
        .localCheckpoint(eager=False)
    )
    total = banded.agg(F.sum("n_rows").alias("t"))
    worst = classes.agg(F.max("tvd_e6").alias("max_tvd_e6"))
    share = (
        F.floor(
            F.col("n_rows").cast("double") / F.col("t").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        banded.join(F.broadcast(total))
        .join(F.broadcast(worst))
        .select(
            "band",
            "n_classes",
            "n_rows",
            share.alias("share_rows"),
            (F.col("max_tvd_e6").cast("double") / F.lit(1e6)).alias(
                "max_tvd"
            ),
        )
    )


def t_closeness_sql() -> str:
    """DuckDB replay: identical quasi-identifier tuple, decile bucketing,
    BIGINT cross-multiplied gaps, absent-category algebraic term, e6
    fixed-point TVD and banding."""
    hod = "((CAST(epoch_us(ts) AS BIGINT) * 1000) // 3600000000000) % 24"
    return f"""
        WITH cls_s AS (
            SELECT event_type,
                   CAST(floor(value / CAST({K_ANON_VALUE_BUCKET} AS DOUBLE))
                        AS BIGINT) AS vb,
                   {hod} AS hod,
                   coalesce(CAST(json_extract_string(props, '$.k') AS INTEGER)
                       // {T_CLOSE_SENS_BUCKETS}, -1) AS s,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2, 3, 4
        ),
        dom AS (
            SELECT s, CAST(sum(c) AS BIGINT) AS g FROM cls_s GROUP BY s
        ),
        tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total FROM dom),
        n_c AS (
            SELECT event_type, vb, hod, CAST(sum(c) AS BIGINT) AS n_c
            FROM cls_s GROUP BY 1, 2, 3
        ),
        gaps AS (
            SELECT cls_s.event_type, cls_s.vb, cls_s.hod,
                   max(n_c.n_c) AS n_c,
                   max(n_total) AS n_total,
                   CAST(sum(abs(c * n_total - g * n_c.n_c)) AS BIGINT)
                       AS gap_present_fp,
                   CAST(sum(g) AS BIGINT) AS g_present
            FROM cls_s
            JOIN dom USING (s)
            CROSS JOIN tot
            JOIN n_c USING (event_type, vb, hod)
            GROUP BY 1, 2, 3
        ),
        classes AS (
            SELECT n_c,
                   CAST(floor(
                       (gap_present_fp
                        + n_c * (n_total - g_present))::DOUBLE
                       / (2.0 * (n_c::DOUBLE * n_total::DOUBLE))
                       * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS tvd_e6
            FROM gaps
        ),
        banded AS (
            SELECT CASE WHEN tvd_e6 <= {T_CLOSE_T_E6} THEN '<=t'
                        ELSE '>t' END AS band,
                   count(*) AS n_classes,
                   CAST(sum(n_c) AS BIGINT) AS n_rows
            FROM classes GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM banded),
        worst AS (SELECT max(tvd_e6) AS max_tvd_e6 FROM classes)
        SELECT band, n_classes, n_rows,
               floor(n_rows::DOUBLE / t::DOUBLE * 1e6
                     + CAST(0.5 AS DOUBLE)) / 1e6 AS share_rows,
               max_tvd_e6::DOUBLE / 1e6 AS max_tvd
        FROM banded CROSS JOIN total CROSS JOIN worst
        ORDER BY band
    """


register("t_closeness", q_t_closeness, t_closeness_sql())
