"""Analytics query layer — the reference README's verification queries
(``/root/reference/README.md:226-252``) plus the trade ETL spine, expressed
as DataFrame plans over the canonical trades view.

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names match its DuckDB oracle exactly; the oracle is registered right after
the function (``registry.register``).
Double outputs are rounded to 6 decimals on BOTH sides so the driver's
order-insensitive value hash is stable across accumulation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.cachegen import memo
from marketstream_etl_spark.functions.fixedpoint import (
    FX,
    from_fx,
    half_up,
    to_fx,
)
from marketstream_etl_spark.functions.hashing import h32_sql
from marketstream_etl_spark.operators import changepoint
from marketstream_etl_spark.operators.indicators import (
    compute_indicators,
    compute_rsi_wilder,
    rsi_signal,
)
from marketstream_etl_spark.operators.validation import split_valid, with_validation
from marketstream_etl_spark.plans.trades_view import (
    INDICATORS_SQL,
    REASON_CASE,
    TRADES_CTE,
    VALID_WHERE,
    load_trades,
)
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.tables import load_table

# computed_at stamp injected as a constant for deterministic oracle parity
# (the reference stamps wall-clock ns at save time, DatabaseLoader.cpp:314-316).
FIXED_COMPUTED_AT_NS = 1_698_208_500_000_000_000


def _valid_trades_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted valid trades of `sf_dir`'s events generation.  The
    reference pipeline parses+validates once and serves every indicator
    query from the in-memory batch (PipelineExecutor.hpp:80-184); this is
    the engine's distributed analog — the JSON-bearing projection and the
    validation ladder run once per source generation, and the window/agg
    consumers (indicators, Wilder RSI, RSI signals) read the cache.  The
    valid trades come from events.parquet alone, so the events scan is
    the exact generation key (functions/cachegen.memo)."""

    def build() -> DataFrame:
        valid, _ = split_valid(load_trades(spark, sf_dir, fan_out=True))
        df = valid.persist()
        df.count()  # materialize now: consumers must never race to build it
        return df

    return memo("valid_trades", load_table(spark, sf_dir, "events"), build)


def q_trades_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical trades mapping itself (scan + projection + JSON access)."""
    return load_trades(spark, sf_dir)


TRADES_VIEW_SQL = f"WITH trades AS ({TRADES_CTE}) SELECT * FROM trades"
register("trades_view", q_trades_view, TRADES_VIEW_SQL)


# The reference repo's 13-row CSV test fixture (sample_data.csv): 10 valid
# trades + 3 that each trip one validation rule — lowercase symbol (V1),
# negative price (V2), zero volume (V3).  Reproduced as data so the golden
# valid/reject split is driver-oracle-visible end to end through the REAL
# CSV source path (S1/S2 typed extraction + defaults).
SAMPLE_FIXTURE_CSV = """trade_id,order_id,timestamp,symbol,price,volume,side,type,is_pro
1000001,2000001,1698230400000000000,RELIANCE,2456.75,100,B,L,0
1000002,2000002,1698230400100000000,RELIANCE,2457.00,250,S,M,1
1000003,2000003,1698230400200000000,TCS,3567.50,75,B,L,0
1000004,2000004,1698230400300000000,INFY,1423.25,500,S,L,1
1000005,2000005,1698230400400000000,HDFC,1678.90,200,B,M,0
1000006,2000006,1698230400500000000,WIPRO,432.60,1000,S,L,0
1000007,2000007,1698230400600000000,RELIANCE,2458.00,150,B,M,1
1000008,2000008,1698230400700000000,TCS,3565.25,90,S,L,0
1000009,2000009,1698230400800000000,ICICIBANK,987.45,300,B,L,1
1000010,2000010,1698230400900000000,INFY,1424.00,450,B,M,0
9999991,8888881,1698230400950000000,reliance,1424.00,450,B,M,0
9999992,8888882,1698230400960000000,WIPRO,-50.00,200,B,L,0
9999993,8888883,1698230400970000000,HDFC,1678.90,0,B,M,0
"""


def _ensure_fixture_csv(
    spark: SparkSession, name: str, sf_dir: str, content: str
) -> str:
    """Write-once CSV fixture keyed by CONTENT hash as well as testdata
    mtime: editing the fixture constant lands at a fresh path instead of
    being served stale, and the temp-file + atomic-rename write means an
    interrupted run can never leave a torn file behind (r4 ADVICE)."""
    import hashlib
    import os
    import tempfile

    from marketstream_etl_spark.sources.tables import warehouse_path

    digest = hashlib.md5(content.encode()).hexdigest()[:8]
    path = warehouse_path(spark, f"{name}_{digest}", sf_dir)
    csv_file = os.path.join(path, f"{name}.csv")
    if not os.path.exists(csv_file):
        os.makedirs(path, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(content)
        os.replace(tmp, csv_file)
    return csv_file


def q_validate_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sample_data.csv golden (10 valid / 3 rejects with
    first-failing reasons), run through the real CSV source + validator
    (/root/reference/sample_data.csv:12-14, TradeValidator.hpp:109-178)."""
    from marketstream_etl_spark.sources.csv_trades import read_trades_csv

    csv_file = _ensure_fixture_csv(
        spark, "sample_fixture_csv", sf_dir, SAMPLE_FIXTURE_CSV
    )
    trades = read_trades_csv(spark, csv_file)
    return with_validation(trades).select(
        "trade_id", "symbol", "price", "volume", "is_valid", "reject_reason"
    )


# the reference sample_data.csv golden: 10 valid rows, 3 rejects
# with first-failing reasons (lowercase symbol / negative price /
# zero volume — the reference sample_data.csv:12-14)
VALIDATE_FIXTURE_SQL = """
            SELECT CAST(trade_id AS BIGINT) AS trade_id, symbol,
                   CAST(price AS DOUBLE) AS price,
                   CAST(volume AS INTEGER) AS volume,
                   is_valid, reject_reason
            FROM (VALUES
                (1000001, 'RELIANCE',  2456.75, 100,  TRUE,  NULL),
                (1000002, 'RELIANCE',  2457.00, 250,  TRUE,  NULL),
                (1000003, 'TCS',       3567.50, 75,   TRUE,  NULL),
                (1000004, 'INFY',      1423.25, 500,  TRUE,  NULL),
                (1000005, 'HDFC',      1678.90, 200,  TRUE,  NULL),
                (1000006, 'WIPRO',      432.60, 1000, TRUE,  NULL),
                (1000007, 'RELIANCE',  2458.00, 150,  TRUE,  NULL),
                (1000008, 'TCS',       3565.25, 90,   TRUE,  NULL),
                (1000009, 'ICICIBANK',  987.45, 300,  TRUE,  NULL),
                (1000010, 'INFY',      1424.00, 450,  TRUE,  NULL),
                (9999991, 'reliance',  1424.00, 450,  FALSE, 'invalid symbol'),
                (9999992, 'WIPRO',      -50.00, 200,  FALSE, 'invalid price'),
                (9999993, 'HDFC',      1678.90, 0,    FALSE, 'invalid volume')
            ) t(trade_id, symbol, price, volume, is_valid, reject_reason)
            ORDER BY trade_id
        """
register("validate_fixture", q_validate_fixture, VALIDATE_FIXTURE_SQL)


# S2-focused CSV fixture: every defaults rule of the reference parser
# (CsvParser.cpp:57-249) trips at least once — unparseable price → 0.0,
# missing volume/timestamp → 0, missing side/type → 'N'/'M', multi-char
# side/type cells → first byte, missing is_pro → false.  The parser never
# yields nulls; validation then rejects the zero defaults downstream.
DEFAULTS_FIXTURE_CSV = """trade_id,order_id,timestamp,symbol,price,volume,side,type,is_pro
2000001,3000001,1698230401000000000,RELIANCE,2456.75,100,B,L,0
2000002,3000002,1698230401100000000,TCS,3567.50,75,BUY,LIMIT,1
2000003,3000003,1698230401200000000,INFY,1423.25,500,,,
2000004,3000004,1698230401300000000,HDFC,abc,200,B,L,0
2000005,3000005,1698230401400000000,WIPRO,432.60,,S,L,1
2000006,3000006,1698230401500000000,,987.45,300,B,L,0
2000007,3000007,,TCS,3565.25,90,S,L,0
2000008,3000008,1698230401700000000,ICICIBANK,987.45,300,B,L,
"""


def q_csv_fixture_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 end-to-end: CSV scan + typed extraction with the reference
    parser's zero/'N'/'M' defaults and first-byte char fields
    (CsvParser.cpp:57-249), then validation — the post-defaults typed rows
    are the output, golden-checked against a VALUES oracle."""
    from marketstream_etl_spark.sources.csv_trades import read_trades_csv

    csv_file = _ensure_fixture_csv(
        spark, "defaults_fixture_csv", sf_dir, DEFAULTS_FIXTURE_CSV
    )
    trades = read_trades_csv(spark, csv_file)
    return with_validation(trades).select(
        "trade_id",
        "symbol",
        "price",
        "volume",
        "side",
        "type",
        "is_pro",
        "is_valid",
        "reject_reason",
    )


# S1/S2 defaults golden: the post-defaults typed rows the reference
# parser yields for every defaults rule (zero-init numerics, 'N'/'M'
# char defaults, first byte of multi-char cells, is_pro int→bool) —
# see analytics.DEFAULTS_FIXTURE_CSV
CSV_FIXTURE_ROUNDTRIP_SQL = """
            SELECT CAST(trade_id AS BIGINT) AS trade_id, symbol,
                   CAST(price AS DOUBLE) AS price,
                   CAST(volume AS INTEGER) AS volume,
                   side, "type", is_pro, is_valid, reject_reason
            FROM (VALUES
                (2000001, 'RELIANCE',  2456.75, 100, 'B', 'L', FALSE, TRUE,  NULL),
                (2000002, 'TCS',       3567.50, 75,  'B', 'L', TRUE,  TRUE,  NULL),
                (2000003, 'INFY',      1423.25, 500, 'N', 'M', FALSE, TRUE,  NULL),
                (2000004, 'HDFC',         0.00, 200, 'B', 'L', FALSE, FALSE, 'invalid price'),
                (2000005, 'WIPRO',      432.60, 0,   'S', 'L', TRUE,  FALSE, 'invalid volume'),
                (2000006, '',           987.45, 300, 'B', 'L', FALSE, FALSE, 'invalid symbol'),
                (2000007, 'TCS',       3565.25, 90,  'S', 'L', FALSE, FALSE, 'invalid timestamp'),
                (2000008, 'ICICIBANK',  987.45, 300, 'B', 'L', FALSE, TRUE,  NULL)
            ) t(trade_id, symbol, price, volume, side, "type", is_pro,
                is_valid, reject_reason)
            ORDER BY trade_id
        """
register("csv_fixture_roundtrip", q_csv_fixture_roundtrip, CSV_FIXTURE_ROUNDTRIP_SQL)


def q_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12/X11 end-to-end: trades written through the real sink (snappy,
    partitioned by side, dated trades_YYYYMMDD_HHMMSS run naming —
    ParquetWriter.cpp:51-361), read back and aggregated; values must
    round-trip bit-exact vs. the direct oracle.  The run stamp is pinned so
    the X11 filename itself is part of the compared result."""
    import datetime as _dt
    import os

    from marketstream_etl_spark.sources.sinks import run_output_path, write_parquet
    from marketstream_etl_spark.sources.tables import warehouse_path

    base = warehouse_path(spark, "parquet_sink_roundtrip", sf_dir)
    run_ts = _dt.datetime(2023, 10, 25, 9, 15, 0, tzinfo=_dt.timezone.utc)
    out = run_output_path(base, run_ts)
    write_parquet(load_trades(spark, sf_dir), out, partition_by=["side"])
    back = spark.read.parquet(out)
    return (
        back.groupBy("side")
        .agg(
            F.count("*").alias("n_trades"),
            F.sum("volume").alias("total_volume"),
            F.round(F.sum(F.col("price") * F.col("volume")), 2).alias("notional"),
        )
        .withColumn("run_file", F.lit(os.path.basename(out)))
    )


# S11/S12/X11: aggregates after the parquet write/read round-trip
# must equal the direct scan; the pinned run filename is compared too
PARQUET_SINK_ROUNDTRIP_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT side, count(*) AS n_trades,
                   CAST(sum(volume) AS BIGINT) AS total_volume,
                   round(sum(price * volume), 2) AS notional,
                   'trades_20231025_091500.parquet' AS run_file
            FROM trades GROUP BY side ORDER BY side
        """
register("parquet_sink_roundtrip", q_parquet_sink_roundtrip, PARQUET_SINK_ROUNDTRIP_SQL)


def q_parallel_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 end-to-end: N-connection parallel relational load — the
    reference's ParallelLoader spreads the batch over N worker threads,
    each owning one COPY stream (ParallelLoader.hpp:71-275); here
    sinks.write_jdbc_bulk round-robins the trades over 4 partitions, each
    writing through its own executor-side JDBC connection into embedded
    Derby (overwrite with TRUNCATE, as prepare_for_parallel_load does).
    Each trade carries a deterministic slice label, h32(trade_id) mod 4;
    the readback aggregates per label — counts/volumes must match the
    direct oracle, proving the load landed every row exactly once.

    The label is an md5-derived hash (functions/hashing.h32), not
    spark_partition_id(), so it is engine-independent and
    oracle-checkable."""
    from marketstream_etl_spark.functions.hashing import h32
    from marketstream_etl_spark.sources.sinks import (
        DERBY_DRIVER,
        derby_url,
        read_jdbc,
        write_jdbc_bulk,
    )
    from marketstream_etl_spark.sources.tables import source_key

    n_streams = 4
    url = derby_url(f"parallel_load_{source_key(sf_dir)}")
    table = "parallel_trades"
    trades = load_trades(spark, sf_dir).select(
        "trade_id", "symbol", "price", "volume"
    )
    stamped = trades.withColumn(
        "stream_id",
        F.pmod(h32(F.col("trade_id").cast("string")), F.lit(n_streams)).cast(
            "int"
        ),
    )
    write_jdbc_bulk(
        stamped, url, table, {"driver": DERBY_DRIVER}, num_streams=n_streams
    )
    # retry-proof readback: trade_id dedups any transiently re-appended
    # partition (same contract as the streaming JDBC sink)
    back = read_jdbc(spark, url, table).dropDuplicates(["trade_id"])
    return (
        back.groupBy("stream_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("volume").cast("long").alias("stream_volume"),
            F.round(F.sum(F.col("price") * F.col("volume")), 2).alias(
                "notional"
            ),
        )
    )


# S9: the readback aggregate over the 4-connection Derby load must
# equal this direct derivation — same deterministic stream stamp
# (h32(trade_id) mod 4), no database involved on the oracle side
PARALLEL_JDBC_ROUNDTRIP_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT CAST({h32_sql("CAST(trade_id AS VARCHAR)")} % 4 AS INTEGER)
                       AS stream_id,
                   count(*) AS n_rows,
                   CAST(sum(volume) AS BIGINT) AS stream_volume,
                   round(sum(price * volume), 2) AS notional
            FROM trades GROUP BY 1 ORDER BY 1
        """
register(
    "parallel_jdbc_roundtrip", q_parallel_jdbc_roundtrip, PARALLEL_JDBC_ROUNDTRIP_SQL
)


def q_validate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 annotate: every trade with is_valid + first-failing reject_reason."""
    # NOTE: no fan_out here — validation must stay a pure map-side pass
    # (zero shuffles at any scale); test_validation_is_shuffle_free guards it
    return with_validation(load_trades(spark, sf_dir)).select(
        "trade_id", "symbol", "price", "volume", "is_valid", "reject_reason"
    )


VALIDATE_SPLIT_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT trade_id, symbol, price, volume,
                   (reason IS NULL) AS is_valid, reason AS reject_reason
            FROM (SELECT *, {REASON_CASE} AS reason FROM trades)
        """
register("validate_split", q_validate_split, VALIDATE_SPLIT_SQL)


def q_validate_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 reject side: dead-letter rows with reasons."""
    _, rejects = split_valid(load_trades(spark, sf_dir))
    return rejects.select("trade_id", "symbol", "price", "volume", "reject_reason")


VALIDATE_REJECTS_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT trade_id, symbol, price, volume, reason AS reject_reason
            FROM (SELECT *, {REASON_CASE} AS reason FROM trades)
            WHERE reason IS NOT NULL
        """
register("validate_rejects", q_validate_rejects, VALIDATE_REJECTS_SQL)


def q_validation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: total/valid/rejected counters."""
    from marketstream_etl_spark.operators.validation import validation_counts

    return validation_counts(load_trades(spark, sf_dir))


VALIDATION_COUNTS_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT count(*) AS total,
                   CAST(sum(CASE WHEN reason IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS valid,
                   CAST(sum(CASE WHEN reason IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS rejected
            FROM (SELECT *, {REASON_CASE} AS reason FROM trades)
        """
register("validation_counts", q_validation_counts, VALIDATION_COUNTS_SQL)


def q_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: validate → per-symbol SMA/RSI/VWAP snapshot (A1-A4)."""
    ind = compute_indicators(_valid_trades_cached(spark, sf_dir), period=5)
    return ind.select(
        "symbol",
        F.round("sma", 6).alias("sma"),
        F.round("rsi", 6).alias("rsi"),
        F.round("vwap", 6).alias("vwap"),
        "period",
    )


register("indicators", q_indicators, INDICATORS_SQL + " ORDER BY symbol")


def q_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine extension: Wilder-smoothed RSI per symbol (closed-form EMA
    weights — see operators/indicators.compute_rsi_wilder)."""
    out = compute_rsi_wilder(_valid_trades_cached(spark, sf_dir), period=14)
    return out.select(
        "symbol",
        "n_changes",
        F.round("rsi_wilder", 4).alias("rsi_wilder"),
        "signal",
    )


RSI_WILDER_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            valid AS (SELECT * FROM trades WHERE {VALID_WHERE}),
            chg AS (
                SELECT symbol,
                    price - lag(price) OVER (PARTITION BY symbol
                        ORDER BY "timestamp", trade_id) AS change,
                    row_number() OVER (PARTITION BY symbol
                        ORDER BY "timestamp", trade_id) - 1 AS j,
                    count(*) OVER (PARTITION BY symbol) - 1 AS m
                FROM valid
            ),
            wchg AS (
                SELECT symbol, m, change,
                    CASE WHEN m <= 14 THEN 1.0 / m
                         WHEN j <= 14
                             THEN power(1.0 - 1.0/14.0, m - 14.0) / 14.0
                         ELSE (1.0/14.0) * power(1.0 - 1.0/14.0, m - j)
                    END AS w
                FROM chg WHERE change IS NOT NULL
            ),
            agg AS (
                SELECT symbol, max(m) AS n_changes,
                    sum(w * greatest(change, 0.0)) AS ag,
                    sum(w * greatest(-change, 0.0)) AS al
                FROM wchg GROUP BY symbol
            ),
            rs AS (
                SELECT symbol, n_changes,
                    CASE WHEN n_changes < 1 THEN 50.0
                         WHEN al = 0.0 THEN 100.0
                         ELSE 100.0 - 100.0 / (1.0 + ag / al)
                    END AS rsi_raw
                FROM agg
            )
            SELECT symbol, n_changes, round(rsi_raw, 4) AS rsi_wilder,
                CASE WHEN rsi_raw >= 70 THEN 'OVERBOUGHT'
                     WHEN rsi_raw <= 30 THEN 'OVERSOLD'
                     ELSE 'NEUTRAL' END AS signal
            FROM rs ORDER BY symbol
        """
register("rsi_wilder", q_rsi_wilder, RSI_WILDER_SQL)


def q_trade_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: SELECT COUNT(*) FROM trades (README.md:229)."""
    return load_trades(spark, sf_dir).agg(F.count("*").alias("n_trades"))


TRADE_COUNT_SQL = f"""
            WITH trades AS ({TRADES_CTE}) SELECT count(*) AS n_trades FROM trades
        """
register("trade_count", q_trade_count, TRADE_COUNT_SQL)


def q_symbol_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/O3: per-symbol trade count + total volume, busiest first
    (README.md:232-235)."""
    return (
        load_trades(spark, sf_dir)
        .groupBy("symbol")
        .agg(F.count("*").alias("trades"), F.sum("volume").alias("total_volume"))
        .orderBy(F.desc("trades"), "symbol")
    )


SYMBOL_LEADERBOARD_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol, count(*) AS trades,
                   CAST(sum(volume) AS BIGINT) AS total_volume
            FROM trades GROUP BY symbol ORDER BY trades DESC, symbol
        """
register("symbol_leaderboard", q_symbol_leaderboard, SYMBOL_LEADERBOARD_SQL)


def q_rsi_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/O2/X5: latest RSI signals with OVERBOUGHT/OVERSOLD/NEUTRAL label
    (README.md:238-245). computed_at is a fixed injected stamp."""
    ind = compute_indicators(
        _valid_trades_cached(spark, sf_dir), period=5,
        computed_at_ns=FIXED_COMPUTED_AT_NS,
    )
    return (
        ind.select(
            "symbol",
            F.round("rsi", 6).alias("rsi"),
            rsi_signal(F.col("rsi")).alias("signal"),
            # integer µs from the constant: ns/1000 in double would lose
            # precision above 2^53, so divide driver-side
            F.timestamp_micros(F.lit(FIXED_COMPUTED_AT_NS // 1000)).alias(
                "computed_ts"
            ),
        )
        .orderBy(F.desc("computed_ts"), "symbol")
        .limit(20)
    )


RSI_SIGNALS_SQL = f"""
            WITH ind AS ({INDICATORS_SQL})
            SELECT symbol, rsi,
                   CASE WHEN rsi >= 70 THEN 'OVERBOUGHT'
                        WHEN rsi <= 30 THEN 'OVERSOLD'
                        ELSE 'NEUTRAL' END AS signal,
                   make_timestamp(1698208500000000) AS computed_ts
            FROM ind ORDER BY computed_ts DESC, symbol LIMIT 20
        """
register("rsi_signals", q_rsi_signals, RSI_SIGNALS_SQL)


def q_symbol_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/F5: single-symbol time-range scan — WHERE symbol='PURCHASE' AND
    timestamp range, ordered (README.md:248-251). Partition-prunable shape."""
    trades = load_trades(spark, sf_dir)
    return (
        trades.filter(F.col("symbol") == "PURCHASE")
        .filter(F.col("timestamp") > 0)
        .select("trade_id", "symbol", F.round("price", 6).alias("price"), "timestamp")
        .orderBy("timestamp", "trade_id")
    )


SYMBOL_HISTORY_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT trade_id, symbol, round(price, 6) AS price, "timestamp"
            FROM trades WHERE symbol = 'PURCHASE' AND "timestamp" > 0
            ORDER BY "timestamp", trade_id
        """
register("symbol_history", q_symbol_history, SYMBOL_HISTORY_SQL)


def q_vwap_by_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 standalone: per-symbol VWAP over all valid trades."""
    valid, _ = split_valid(load_trades(spark, sf_dir, fan_out=True))
    return (
        valid.groupBy("symbol")
        .agg(
            F.round(
                F.sum(F.col("price") * F.col("volume"))
                / F.sum(F.col("volume").cast("double")),
                6,
            ).alias("vwap")
        )
    )


VWAP_BY_SYMBOL_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol,
                   round(sum(price * volume) / sum(CAST(volume AS DOUBLE)), 6)
                       AS vwap
            FROM trades WHERE {VALID_WHERE}
            GROUP BY symbol ORDER BY symbol
        """
register("vwap_by_symbol", q_vwap_by_symbol, VWAP_BY_SYMBOL_SQL)


def _ohlc_aggs():
    """The struct-key OHLC aggregate block shared by time bars and volume
    bars: open/close are min/max of a (timestamp, trade_id, price) struct
    (lexicographic, trade_id unique so price never participates) — plain
    re-aggregable partials, no window sort."""
    key = F.struct("timestamp", "trade_id", "price")
    return [
        F.round(F.min(key).getField("price"), 4).alias("open"),
        F.round(F.max("price"), 4).alias("high"),
        F.round(F.min("price"), 4).alias("low"),
        F.round(F.max(key).getField("price"), 4).alias("close"),
        F.sum("volume").alias("bar_volume"),
        F.count("*").alias("n_trades"),
    ]


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute OHLCV bars per symbol — the time-series resample every
    market pipeline ships but the reference never built (its indicators
    fold the whole batch, SURVEY §2.4).

    Open/close are the first/last trade by (timestamp, trade_id) within
    the bar, taken as min/max of a (timestamp, trade_id, price) struct —
    lexicographic struct ordering makes them plain aggregates, so the
    whole bar is ONE hash aggregate with map-side partials: one shuffle
    on (symbol, bar), no window sort at all.  trade_id is unique, so the
    price field never participates in the comparison.  Bar state is
    bounded by the minute grid, never by trade count."""
    t = load_trades(spark, sf_dir, fan_out=True)
    # integer DIV — ns magnitudes exceed double's 2^53 mantissa, so a
    # float divide would misplace boundary trades by one bar
    bar = F.expr("timestamp DIV 60000000000")
    return (
        t.withColumn("bar", bar)
        .groupBy("symbol", "bar")
        .agg(*_ohlc_aggs())
    )


# 1-minute OHLCV: first/last by (timestamp, trade_id) via the same
# double row_number ranking; // is DuckDB integer division
OHLC_BARS_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price, volume,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp, trade_id) AS rn_a,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            )
            SELECT symbol, bar,
                   round(max(CASE WHEN rn_a = 1 THEN price END), 4) AS open,
                   round(max(price), 4) AS high,
                   round(min(price), 4) AS low,
                   round(max(CASE WHEN rn_d = 1 THEN price END), 4) AS close,
                   CAST(sum(volume) AS BIGINT) AS bar_volume,
                   count(*) AS n_trades
            FROM r GROUP BY symbol, bar ORDER BY symbol, bar
        """
register("ohlc_bars", q_ohlc_bars, OHLC_BARS_SQL)


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-symbol minute grid with forward-filled close — the
    resample-then-ffill step that turns sparse tick bars into an
    equally-spaced series (model-feature prerequisite; nothing in the
    reference fills gaps).

    grid = explode(sequence(min_bar, max_bar)) per symbol (bounded by the
    time span, not the trade count), left join the real bars, then
    last(close, ignorenulls) over an unbounded-preceding row frame carries
    the latest observation forward.  close-per-bar is a max-of-struct
    aggregate (no window sort, see q_ohlc_bars); the bar bounds come from
    a separate lightweight agg on the raw trades so the bars frame has
    exactly one consumer and is never recomputed."""
    from pyspark.sql import Window

    t = load_trades(spark, sf_dir, fan_out=True)
    bar = F.expr("timestamp DIV 60000000000")
    key = F.struct("timestamp", "trade_id", "price")
    bars = (
        t.withColumn("bar", bar)
        .groupBy("symbol", "bar")
        .agg(F.max(key).getField("price").alias("close"))
    )
    bounds = t.select("symbol", bar.alias("bar")).groupBy("symbol").agg(
        F.min("bar").alias("lo"), F.max("bar").alias("hi")
    )
    grid = bounds.select(
        "symbol", F.explode(F.sequence("lo", "hi")).alias("bar")
    )
    wf = (
        Window.partitionBy("symbol")
        .orderBy("bar")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = grid.join(bars, ["symbol", "bar"], "left").withColumn(
        "ffill", F.last("close", ignorenulls=True).over(wf)
    )
    return (
        filled.groupBy("symbol")
        .agg(
            F.count("*").alias("n_minutes"),
            F.sum(F.when(F.col("close").isNull(), 1).otherwise(0)).alias(
                "n_gaps"
            ),
            F.round(F.sum("ffill"), 2).alias("filled_sum"),
        )
    )


# dense minute grid + forward-filled close, folded per symbol
GAP_FILL_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            bars AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1
            ),
            bounds AS (
                SELECT symbol, min(bar) AS lo, max(bar) AS hi
                FROM bars GROUP BY symbol
            ),
            grid AS (
                SELECT symbol, unnest(generate_series(lo, hi)) AS bar
                FROM bounds
            ),
            filled AS (
                SELECT g.symbol, g.bar, b.close,
                       last_value(b.close IGNORE NULLS) OVER (
                           PARTITION BY g.symbol ORDER BY g.bar
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS ffill
                FROM grid g
                LEFT JOIN bars b ON g.symbol = b.symbol AND g.bar = b.bar
            )
            SELECT symbol, count(*) AS n_minutes,
                   CAST(sum(CASE WHEN close IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_gaps,
                   round(sum(ffill), 2) AS filled_sum
            FROM filled GROUP BY symbol ORDER BY symbol
        """
register("gap_fill", q_gap_fill, GAP_FILL_SQL)


def _minute_closes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(symbol, minute-bar) close — shared input of the co-movement
    statistics below.  Same struct-max trick as q_ohlc_bars: one shuffle,
    no window sort.

    Nonpositive closes are excluded: they are parser-default artifacts
    (rejected rows carry price 0.0), meaningless in a return/drawdown
    series, and under ANSI mode a 0 close reaching lag-ratio or
    running-peak division aborts the job (hit at sf0.1, where 6 of 80k
    bars close at the 0.0 default).  Every consumer's oracle applies the
    identical price > 0 filter."""
    t = load_trades(spark, sf_dir, fan_out=True)
    bar = F.expr("timestamp DIV 60000000000")
    key = F.struct("timestamp", "trade_id", "price")
    return (
        t.withColumn("bar", bar)
        .groupBy("symbol", "bar")
        .agg(F.max(key).getField("price").alias("close"))
        .filter(F.col("close") > 0)
    )


def q_pairwise_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance of minute closes for every symbol
    pair — the co-movement matrix behind pairs-trading screens.  The
    statistical aggregate surface (corr, covar_samp) the reference has no
    analog for.

    Scale: the self-join is on the minute bar (equi-join, both sides
    already aggregated to |symbols| x |minutes| rows); s1 < s2 keeps each
    unordered pair once.  corr/covar are single-pass co-moment aggregates
    with map-side partials."""
    closes = _minute_closes(spark, sf_dir)
    a = closes.alias("a")
    b = closes.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bar") == F.col("b.bar"))
        & (F.col("a.symbol") < F.col("b.symbol")),
    )
    return (
        pairs.groupBy(
            F.col("a.symbol").alias("symbol_a"),
            F.col("b.symbol").alias("symbol_b"),
        )
        .agg(
            F.count("*").alias("n_bars"),
            F.round(F.corr("a.close", "b.close"), 6).alias("corr_close"),
            F.round(F.covar_samp("a.close", "b.close"), 4).alias(
                "covar_close"
            ),
        )
    )


# minute-close co-movement; closes from the same rn_d ranking
PAIRWISE_CORRELATION_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            )
            SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
                   count(*) AS n_bars,
                   round(corr(a.close, b.close), 6) AS corr_close,
                   round(covar_samp(a.close, b.close), 4) AS covar_close
            FROM closes a JOIN closes b
              ON a.bar = b.bar AND a.symbol < b.symbol
            GROUP BY 1, 2 ORDER BY 1, 2
        """
register("pairwise_correlation", q_pairwise_correlation, PAIRWISE_CORRELATION_SQL)


def q_symbol_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol beta to the equal-weight market index: regress each
    symbol's minute close on the cross-symbol mean close of that minute
    with the regr_* aggregate family (slope / intercept / r2) — single-pass
    co-moment aggregates, one broadcastable index join."""
    closes = _minute_closes(spark, sf_dir)
    index = closes.groupBy("bar").agg(F.avg("close").alias("index_close"))
    joined = closes.join(index, "bar")
    return (
        joined.groupBy("symbol")
        .agg(
            F.count("*").alias("n_bars"),
            F.round(F.regr_slope("close", "index_close"), 6).alias("beta"),
            F.round(F.regr_intercept("close", "index_close"), 4).alias(
                "alpha"
            ),
            F.round(F.regr_r2("close", "index_close"), 6).alias("r2"),
        )
    )


SYMBOL_BETA_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            ),
            idx AS (
                SELECT bar, avg(close) AS index_close
                FROM closes GROUP BY bar
            )
            SELECT c.symbol, count(*) AS n_bars,
                   round(regr_slope(c.close, i.index_close), 6) AS beta,
                   round(regr_intercept(c.close, i.index_close), 4) AS alpha,
                   round(regr_r2(c.close, i.index_close), 6) AS r2
            FROM closes c JOIN idx i ON c.bar = i.bar
            GROUP BY c.symbol ORDER BY c.symbol
        """
register("symbol_beta", q_symbol_beta, SYMBOL_BETA_SQL)


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per symbol over the minute-close series: the
    deepest relative drop from a running peak — the risk statistic every
    market engine reports, built from a cumulative-max window frame
    (unbounded preceding) the reference's hand-rolled trailing windows
    cannot express.

    Scale: one shuffle to the bars, one sort per symbol partition for the
    running max, then a tiny per-symbol aggregate."""
    from pyspark.sql import Window

    closes = _minute_closes(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = closes.withColumn("peak", F.max("close").over(w)).withColumn(
        "drawdown", (F.col("close") - F.col("peak")) / F.col("peak")
    )
    return (
        dd.groupBy("symbol")
        .agg(
            F.count("*").alias("n_bars"),
            F.round(F.max("peak"), 4).alias("peak_close"),
            F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        )
    )


# running-peak drawdown over the same minute closes
MAX_DRAWDOWN_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            ),
            dd AS (
                SELECT symbol, close,
                       max(close) OVER (PARTITION BY symbol ORDER BY bar
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS peak
                FROM closes
            )
            SELECT symbol, count(*) AS n_bars,
                   round(max(peak), 4) AS peak_close,
                   round(min((close - peak) / peak), 6) AS max_drawdown
            FROM dd GROUP BY symbol ORDER BY symbol
        """
register("max_drawdown", q_max_drawdown, MAX_DRAWDOWN_SQL)


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the Observation API: data-quality
    counters (rows, invalid rows, distinct-symbol price sum) collected as
    a side effect of ONE pass over the validated trades — no second scan,
    no separate metrics query.  At 100 TB a monitoring re-scan is a real
    cost; `observe` rides the action the pipeline already runs.

    The observed metrics are returned as the result frame; the oracle
    recomputes them relationally."""
    from pyspark.sql import Observation

    t = with_validation(load_trades(spark, sf_dir))
    obs = Observation("etl_quality")
    observed = t.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        F.round(F.sum(F.when(F.col("is_valid"), F.col("price"))), 4).alias(
            "valid_price_sum"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()  # the one action
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_invalid"], m["valid_price_sum"])],
        "n_rows long, n_invalid long, valid_price_sum double",
    )


# observe()-collected counters == the relational recompute
OBSERVED_METRICS_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT count(*) AS n_rows,
                   CAST(sum(CASE WHEN ({VALID_WHERE})
                            THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
                   round(sum(CASE WHEN {VALID_WHERE} THEN price END), 4)
                       AS valid_price_sum
            FROM trades
        """
register("observed_metrics", q_observed_metrics, OBSERVED_METRICS_SQL)


def q_ewma_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the minute close, alpha =
    0.2, as a CLOSED-FORM weighted aggregate (the compute_rsi_wilder
    unrolling applied to the plain EWMA recursion): ordered close j of n
    contributes alpha*(1-alpha)^(n-j), the seed keeps (1-alpha)^(n-1).
    No iterative loop, no per-row state — one rank window plus one hash
    aggregate, fully parallel at any history length (old terms underflow
    to zero harmlessly)."""
    from pyspark.sql import Window

    alpha = 0.2
    closes = _minute_closes(spark, sf_dir)
    w_asc = Window.partitionBy("symbol").orderBy("bar")
    w_all = Window.partitionBy("symbol")
    ann = closes.select(
        "symbol",
        "close",
        F.row_number().over(w_asc).alias("j"),
        F.count("*").over(w_all).alias("n"),
    )
    decay = F.lit(1.0 - alpha)
    weight = F.when(
        F.col("j") == 1, F.pow(decay, F.col("n") - 1)
    ).otherwise(F.lit(alpha) * F.pow(decay, F.col("n") - F.col("j")))
    return (
        ann.groupBy("symbol")
        .agg(
            F.max("n").alias("n_bars"),
            F.round(F.sum(weight * F.col("close")), 4).alias("ewma_close"),
            F.round(F.max_by("close", "j"), 4).alias("last_close"),
        )
    )


# closed-form EWMA weights: seed (1-a)^(n-1), then a*(1-a)^(n-j)
EWMA_PRICE_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            ),
            ann AS (
                SELECT symbol, close,
                       row_number() OVER (PARTITION BY symbol
                                          ORDER BY bar) AS j,
                       count(*) OVER (PARTITION BY symbol) AS n
                FROM closes
            )
            SELECT symbol, CAST(max(n) AS BIGINT) AS n_bars,
                   round(sum((CASE WHEN j = 1 THEN power(0.8, n - 1)
                              ELSE 0.2 * power(0.8, n - j) END) * close), 4)
                       AS ewma_close,
                   round(arg_max(close, j), 4) AS last_close
            FROM ann GROUP BY symbol ORDER BY symbol
        """
register("ewma_price", q_ewma_price, EWMA_PRICE_SQL)


def q_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol realized volatility: stddev of log minute-close returns
    (lag window -> ln ratio -> stddev_samp), plus the mean return — the
    volatility input to any risk model, exercising lag + log + stddev over
    the shared minute-close series.  One extra sort per symbol partition
    for the lag; everything else is re-aggregable."""
    from pyspark.sql import Window

    closes = _minute_closes(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("bar")
    rets = closes.withColumn(
        "log_ret", F.log(F.col("close") / F.lag("close").over(w))
    ).filter(F.col("log_ret").isNotNull())
    return (
        rets.groupBy("symbol")
        .agg(
            F.count("*").alias("n_returns"),
            F.round(F.stddev_samp("log_ret"), 6).alias("volatility"),
            F.round(F.avg("log_ret"), 6).alias("mean_return"),
        )
    )


# stddev of log minute-close returns, same rn_d close ranking
REALIZED_VOLATILITY_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            ),
            rets AS (
                SELECT symbol,
                       ln(close / lag(close) OVER (PARTITION BY symbol
                                                   ORDER BY bar)) AS log_ret
                FROM closes
            )
            SELECT symbol, count(*) AS n_returns,
                   round(stddev_samp(log_ret), 6) AS volatility,
                   round(avg(log_ret), 6) AS mean_return
            FROM rets WHERE log_ret IS NOT NULL
            GROUP BY symbol ORDER BY symbol
        """
register("realized_volatility", q_realized_volatility, REALIZED_VOLATILITY_SQL)


def q_order_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buy/sell order-flow imbalance per symbol: conditional aggregation
    over the side column, (buy_vol - sell_vol) / total_vol — the
    microstructure pressure metric, a single hash aggregate."""
    t = load_trades(spark, sf_dir, fan_out=True)
    buy_vol = F.sum(F.when(F.col("side") == "B", F.col("volume")).otherwise(0))
    sell_vol = F.sum(F.when(F.col("side") == "S", F.col("volume")).otherwise(0))
    return (
        t.groupBy("symbol")
        .agg(
            buy_vol.alias("buy_volume"),
            sell_vol.alias("sell_volume"),
            F.round(
                (buy_vol - sell_vol)
                / F.greatest(buy_vol + sell_vol, F.lit(1)).cast("double"),
                6,
            ).alias("imbalance"),
        )
    )


# conditional aggregation on side; greatest() guards zero volume
ORDER_IMBALANCE_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol,
                   CAST(sum(CASE WHEN side = 'B' THEN volume ELSE 0 END)
                        AS BIGINT) AS buy_volume,
                   CAST(sum(CASE WHEN side = 'S' THEN volume ELSE 0 END)
                        AS BIGINT) AS sell_volume,
                   round((sum(CASE WHEN side = 'B' THEN volume ELSE 0 END)
                          - sum(CASE WHEN side = 'S' THEN volume ELSE 0 END))
                         / CAST(greatest(
                               sum(CASE WHEN side = 'B' THEN volume ELSE 0 END)
                               + sum(CASE WHEN side = 'S' THEN volume ELSE 0 END),
                               1) AS DOUBLE), 6) AS imbalance
            FROM trades GROUP BY symbol ORDER BY symbol
        """
register("order_imbalance", q_order_imbalance, ORDER_IMBALANCE_SQL)


def q_dedup_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PK semantics (S8's ON CONFLICT DO NOTHING analog): keep one row per
    trade_id — dropDuplicates on the key, then count as evidence."""
    trades = load_trades(spark, sf_dir)
    return trades.dropDuplicates(["trade_id"]).agg(
        F.count("*").alias("n_unique_trades")
    )


DEDUP_TRADES_SQL = f"""
            WITH trades AS ({TRADES_CTE})
            SELECT count(DISTINCT trade_id) AS n_unique_trades FROM trades
        """
register("dedup_trades", q_dedup_trades, DEDUP_TRADES_SQL)


OUTLIER_Z = 2.0  # flag threshold; random-walk prices rarely exceed |z|>3


def q_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol price anomaly detection: z-score each trade against its
    symbol's mean/stddev and count |z| > 2 flags plus the worst excursion
    — the data-quality tripwire a feed pipeline runs continuously.

    Shape: one hash aggregate produces the 10-row stats frame, which
    broadcasts back onto the scan (map-side z), and a second hash
    aggregate reduces to per-symbol counters — no window over the fact
    table, so nothing ever sorts the corpus."""
    t = load_trades(spark, sf_dir, fan_out=True)
    stats = t.groupBy("symbol").agg(
        F.avg("price").alias("mu"),
        F.stddev_samp("price").alias("sd"),
    )
    # sd == 0 (constant-price symbol) counts zero anomalies instead of
    # aborting under ANSI division — same guard as streaming_anomaly
    z = F.when(
        F.col("sd") > 0,
        F.abs((F.col("price") - F.col("mu")) / F.col("sd")),
    ).otherwise(F.lit(0.0))
    return (
        t.join(F.broadcast(stats), "symbol")
        .withColumn("abs_z", z)
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_trades"),
            F.sum(
                F.when(F.col("abs_z") > OUTLIER_Z, 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.round(F.max("abs_z"), 4).alias("max_abs_z"),
        )
    )


PRICE_OUTLIERS_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            stats AS (
                SELECT symbol, avg(price) AS mu,
                       stddev_samp(price) AS sd
                FROM trades GROUP BY symbol
            )
            SELECT t.symbol, count(*) AS n_trades,
                   CAST(sum(CASE WHEN (CASE WHEN s.sd > 0
                            THEN abs((t.price - s.mu) / s.sd)
                            ELSE 0.0 END)
                        > {OUTLIER_Z} THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_outliers,
                   round(max(CASE WHEN s.sd > 0
                            THEN abs((t.price - s.mu) / s.sd)
                            ELSE 0.0 END), 4) AS max_abs_z
            FROM trades t JOIN stats s USING (symbol)
            GROUP BY t.symbol ORDER BY t.symbol
        """
register("price_outliers", q_price_outliers, PRICE_OUTLIERS_SQL)


def q_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol serial dependence of minute returns: Pearson
    autocorrelation at lags 1 and 2 over the shared minute-close log
    returns — the mean-reversion/momentum diagnostic next to
    realized_volatility.  Two lag columns from one window pass, then a
    single hash aggregate of corr() pairs; nothing beyond the per-symbol
    sort the return series already needs."""
    from pyspark.sql import Window

    closes = _minute_closes(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("bar")
    rets = closes.withColumn(
        "log_ret", F.log(F.col("close") / F.lag("close").over(w))
    ).filter(F.col("log_ret").isNotNull())
    lagged = (
        rets.withColumn("lag1", F.lag("log_ret", 1).over(w))
        .withColumn("lag2", F.lag("log_ret", 2).over(w))
    )
    return (
        lagged.groupBy("symbol")
        .agg(
            F.count("*").alias("n_returns"),
            F.round(F.corr("log_ret", "lag1"), 6).alias("autocorr_lag1"),
            F.round(F.corr("log_ret", "lag2"), 6).alias("autocorr_lag2"),
        )
    )


RETURN_AUTOCORR_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar, price AS close FROM r WHERE rn_d = 1 AND price > 0
            ),
            rets AS (
                SELECT symbol, bar,
                       ln(close / lag(close) OVER (PARTITION BY symbol
                                                   ORDER BY bar)) AS log_ret
                FROM closes
            ),
            lagged AS (
                SELECT symbol, log_ret,
                       lag(log_ret, 1) OVER (PARTITION BY symbol
                                             ORDER BY bar) AS lag1,
                       lag(log_ret, 2) OVER (PARTITION BY symbol
                                             ORDER BY bar) AS lag2
                FROM rets WHERE log_ret IS NOT NULL
            )
            SELECT symbol, count(*) AS n_returns,
                   round(corr(log_ret, lag1), 6) AS autocorr_lag1,
                   round(corr(log_ret, lag2), 6) AS autocorr_lag2
            FROM lagged
            GROUP BY symbol ORDER BY symbol
        """
register("return_autocorr", q_return_autocorr, RETURN_AUTOCORR_SQL)


def q_vwap_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execution-quality analytics: per-symbol slippage of each fill
    against the RUNNING VWAP at trade time — avg/max absolute deviation
    plus the trade count.  The post-trade TCA readout a desk runs per
    session; per symbol one ordered cumulative window (a single
    hashpartitioning(symbol) exchange shared with every other per-symbol
    stage at scale).

    Cross-engine determinism (functions/fixedpoint.py): cumulative
    price×volume mass uses INTEGER cents (floor(price·100 + 0.5) × volume)
    so the window sum is exact in both engines regardless of accumulation
    order; the per-row deviation is then plain IEEE arithmetic,
    fixed-pointed via floor(|dev|·1e6+0.5) so the per-symbol sum is
    order-independent."""
    from pyspark.sql import Window

    from marketstream_etl_spark.plans.trades_view import load_trades

    trades = load_trades(spark, sf_dir).filter(
        (F.col("price") > 0) & (F.col("volume") > 0)
    )
    cents = to_fx(F.col("price"), 100)
    w = (
        Window.partitionBy("symbol")
        .orderBy("timestamp", "trade_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_pv = F.sum(cents * F.col("volume")).over(w)
    cum_v = F.sum("volume").over(w)
    vwap = cum_pv.cast("double") / (cum_v.cast("double") * F.lit(100.0))
    dev_fp = to_fx(F.abs(F.col("price") - vwap))
    per_row = trades.select("symbol", dev_fp.alias("dev_fp"))
    return (
        per_row.groupBy("symbol")
        .agg(
            F.count("*").alias("n_trades"),
            # oracle order: round sum/n, then divide by the quantum
            from_fx(
                half_up(
                    F.sum("dev_fp").cast("double")
                    / F.count("*").cast("double")
                )
            ).alias("avg_abs_dev"),
            from_fx(F.max("dev_fp")).alias("max_abs_dev"),
        )
    )


# running-VWAP slippage: integer-cent cumulative mass (exact, any
# accumulation order), per-row fixed-point deviations
VWAP_DEVIATION_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            t AS (
                SELECT symbol, price, volume, timestamp, trade_id,
                       CAST(floor(price * 100 + 0.5) AS BIGINT) AS cents
                FROM trades WHERE price > 0 AND volume > 0
            ), r AS (
                SELECT symbol, price,
                       sum(cents * volume) OVER w AS cum_pv,
                       sum(volume) OVER w AS cum_v
                FROM t
                WINDOW w AS (PARTITION BY symbol
                             ORDER BY timestamp, trade_id
                             ROWS UNBOUNDED PRECEDING)
            ), d AS (
                SELECT symbol,
                       CAST(floor(abs(price - cum_pv::DOUBLE
                                      / (cum_v::DOUBLE * 100.0))
                                  * 1e6 + 0.5) AS BIGINT) AS dev_fp
                FROM r
            )
            SELECT symbol, count(*) AS n_trades,
                   floor(sum(dev_fp)::DOUBLE / count(*)::DOUBLE + 0.5)
                       / 1e6 AS avg_abs_dev,
                   max(dev_fp)::DOUBLE / 1e6 AS max_abs_dev
            FROM d GROUP BY symbol ORDER BY symbol
        """
register("vwap_deviation", q_vwap_deviation, VWAP_DEVIATION_SQL)


def q_symbol_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between symbols: for every symbol pair, how
    many accounts traded BOTH, with the lift vs independence
    (n_both·n_accounts / (n_a·n_b)) — the co-trading structure readout
    behind cross-margin and correlated-flow monitoring.

    Scale shape: the classic pair-counting reduction of frequent-itemset
    mining — distinct (account, symbol) rows self-join per account, so
    work is Σ_u |symbols(u)|², bounded by the (small, fixed) symbol
    universe per account, never corpus-quadratic.  Counts are exact
    integers; lift is one deterministic division, fixed-point rounded."""
    from marketstream_etl_spark.plans.trades_view import load_trades

    trades = load_trades(spark, sf_dir).filter(
        (F.col("price") > 0) & (F.col("volume") > 0)
    )
    # localCheckpoint: `held` feeds four consumers (total, per-symbol,
    # both self-join sides) — without a materialization point the events
    # scan + distinct re-runs per consumer (the token_drift plan lesson).
    # The frame is (accounts × symbols-held) slim rows; blocks are freed
    # when the query's RDD is GC'd.
    held = (
        trades.select(F.col("order_id").alias("account"), "symbol")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # 1-row broadcast frame, not an eager .count(): the total stays inside
    # the lazy plan (no extra job per construction call)
    n_accounts = held.agg(
        F.countDistinct("account").alias("n_accounts")
    )
    per_sym = held.groupBy("symbol").agg(
        F.count("*").alias("n_sym")
    )
    a = held.select("account", F.col("symbol").alias("symbol_a"))
    b = held.select("account", F.col("symbol").alias("symbol_b"))
    pairs = (
        a.join(b, "account")
        .filter(F.col("symbol_a") < F.col("symbol_b"))
        .groupBy("symbol_a", "symbol_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = per_sym.select(
        F.col("symbol").alias("symbol_a"), F.col("n_sym").alias("n_a")
    )
    sb = per_sym.select(
        F.col("symbol").alias("symbol_b"), F.col("n_sym").alias("n_b")
    )
    lift = from_fx(
        to_fx(
            F.col("n_both").cast("double")
            * F.col("n_accounts").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
    )
    return (
        pairs.join(sa, "symbol_a")
        .join(sb, "symbol_b")
        .crossJoin(F.broadcast(n_accounts))
        .select("symbol_a", "symbol_b", "n_both", lift.alias("lift"))
    )


# market-basket pair counting with lift vs independence
SYMBOL_AFFINITY_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            held AS MATERIALIZED (
                SELECT DISTINCT order_id AS account, symbol
                FROM trades WHERE price > 0 AND volume > 0
            ), tot AS (
                SELECT CAST(count(DISTINCT account) AS BIGINT) AS n_accounts
                FROM held
            ), per_sym AS MATERIALIZED (
                SELECT symbol, CAST(count(*) AS BIGINT) AS n_sym
                FROM held GROUP BY 1
            ), pairs AS (
                SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
                       CAST(count(*) AS BIGINT) AS n_both
                FROM held a JOIN held b
                  ON a.account = b.account AND a.symbol < b.symbol
                GROUP BY 1, 2
            )
            SELECT p.symbol_a, p.symbol_b, p.n_both,
                   floor(p.n_both::DOUBLE * t.n_accounts::DOUBLE
                         / (sa.n_sym::DOUBLE * sb.n_sym::DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS lift
            FROM pairs p
            JOIN per_sym sa ON p.symbol_a = sa.symbol
            JOIN per_sym sb ON p.symbol_b = sb.symbol
            CROSS JOIN tot t
            ORDER BY p.symbol_a, p.symbol_b
        """
register("symbol_affinity", q_symbol_affinity, SYMBOL_AFFINITY_SQL)


BOLL_N = 20  # rolling window length (bars)


def q_bollinger_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band analytics per symbol: over the minute-close series,
    a rolling 20-bar mean ± 2σ band; count closes breaching above /
    below, and report the last full-window bar's mid / σ / %B — the
    mean-reversion channel readout every charting engine ships.

    Cross-engine determinism — the breach comparison is knife-edge on
    floats, so it is evaluated in EXACT INTEGERS: with cents c, window
    sums S = Σc, Q = Σc² (BIGINT, n = 20 full windows only),
        breach_above  ⟺  n·c − S > 0  ∧  (n−1)·(n·c−S)² > 4n·(nQ−S²)
    (the ±2σ test squared; both sides exact BIGINTs, |values| < 2⁵⁵).
    The reported mid/σ/%B are IEEE doubles derived from the same exact
    integers via identical expression trees in both engines (σ via the
    correctly-rounded sqrt), NULL %B on zero-variance windows (guarded by
    the INTEGER zero test, not a float compare).

    Scale: one hashpartitioning(symbol) exchange shared with the other
    per-symbol series, one in-partition sort, three window sums in one
    frame pass, then a tiny per-symbol aggregate."""
    from pyspark.sql import Window

    n = BOLL_N
    closes = _minute_closes(spark, sf_dir)
    w = (
        Window.partitionBy("symbol")
        .orderBy("bar")
        .rowsBetween(-(n - 1), 0)
    )
    c = to_fx(F.col("close"), 100)
    ann = (
        closes.withColumn("c", c)
        .select(
            "symbol",
            "bar",
            "c",
            F.count("*").over(w).alias("m"),
            F.sum("c").over(w).alias("s"),
            F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
        )
        .filter(F.col("m") == n)
    )
    d = F.col("c") * n - F.col("s")  # n·(c − mean), exact
    var_num = F.col("q") * n - F.col("s") * F.col("s")  # n²(n−1)/n · var
    beyond = (n - 1) * d * d > 4 * n * var_num
    sd_c = F.sqrt(var_num.cast("double") / F.lit(float(n * (n - 1))))
    pctb = F.when(
        var_num > 0,
        (
            (d.cast("double") / F.lit(float(n)))
            + F.lit(2.0) * sd_c
        )
        / (F.lit(4.0) * sd_c),
    )
    flagged = ann.select(
        "symbol",
        "bar",
        ((d > 0) & beyond).cast("long").alias("up"),
        ((d < 0) & beyond).cast("long").alias("down"),
        (F.col("s").cast("double") / F.lit(float(n) * 100.0)).alias("mid"),
        (sd_c / F.lit(100.0)).alias("sd"),
        pctb.alias("pctb"),
    )
    return (
        flagged.groupBy("symbol")
        .agg(
            F.count("*").alias("n_eval"),
            F.sum("up").alias("breach_above"),
            F.sum("down").alias("breach_below"),
            F.round(F.max_by("mid", "bar"), 4).alias("last_mid"),
            F.round(F.max_by("sd", "bar"), 6).alias("last_sd"),
            F.round(F.max_by("pctb", "bar"), 6).alias("last_pctb"),
        )
    )


# Bollinger: exact-integer ±2σ breach test (squared, BIGINT both
# sides), IEEE mid/σ/%B from identical integer inputs
BOLLINGER_BREACHES_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            closes AS (
                SELECT symbol, bar,
                       CAST(floor(price * 100 + 0.5) AS BIGINT) AS c
                FROM r WHERE rn_d = 1 AND price > 0
            ),
            ann AS (
                SELECT symbol, bar, c,
                       count(*) OVER w AS m,
                       sum(c) OVER w AS s,
                       sum(c * c) OVER w AS q
                FROM closes
                WINDOW w AS (PARTITION BY symbol ORDER BY bar
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            ),
            f AS (
                SELECT symbol, bar,
                       (c * 20 - s) AS d, (q * 20 - s * s) AS var_num, s
                FROM ann WHERE m = 20
            ),
            g AS (
                SELECT symbol, bar,
                       CASE WHEN d > 0 AND 19 * d * d > 80 * var_num
                            THEN 1 ELSE 0 END AS up,
                       CASE WHEN d < 0 AND 19 * d * d > 80 * var_num
                            THEN 1 ELSE 0 END AS down,
                       s::DOUBLE / 2000.0 AS mid,
                       sqrt(var_num::DOUBLE / 380.0) / 100.0 AS sd,
                       CASE WHEN var_num > 0 THEN
                           (d::DOUBLE / 20.0
                            + 2.0 * sqrt(var_num::DOUBLE / 380.0))
                           / (4.0 * sqrt(var_num::DOUBLE / 380.0))
                       END AS pctb
                FROM f
            )
            SELECT symbol, count(*) AS n_eval,
                   CAST(sum(up) AS BIGINT) AS breach_above,
                   CAST(sum(down) AS BIGINT) AS breach_below,
                   round(arg_max(mid, bar), 4) AS last_mid,
                   round(arg_max(sd, bar), 6) AS last_sd,
                   round(arg_max(pctb, bar), 6) AS last_pctb
            FROM g GROUP BY symbol ORDER BY symbol
        """
register("bollinger_breaches", q_bollinger_breaches, BOLLINGER_BREACHES_SQL)


# --- information-driven bars -------------------------------------------------

VOLUME_BAR_SIZE = 10_000  # shares per bar (~10 bars/symbol at sf0.01)


def q_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume bars: per symbol, a new bar every VOLUME_BAR_SIZE shares of
    cumulative traded volume (López de Prado's information-driven
    sampling — equal-information bars instead of equal-time bars, so
    busy regimes get more bars and quiet ones fewer).

    bar_id = (running volume BEFORE the trade) DIV bar size — integer
    arithmetic end-to-end; open/close are struct min/max exactly like
    q_ohlc_bars (no window sort in the aggregate).

    Scale: ONE shuffle on symbol feeds the cumulative-volume window; the
    (symbol, bar) hash aggregate reuses the same partitioning map-side."""
    t = load_trades(spark, sf_dir, fan_out=True)
    cum = t.withColumn(
        "bar",
        F.expr(
            f"div(sum(volume) over (partition by symbol "
            f"order by timestamp, trade_id "
            f"rows between unbounded preceding and current row) - volume, "
            f"{VOLUME_BAR_SIZE})"
        ),
    )
    return (
        cum.groupBy("symbol", "bar")
        .agg(*_ohlc_aggs())
    )


# volume bars: identical cumulative-volume bar ids and struct
# open/close (first/last by (ts, trade_id) within the bar)
VOLUME_BARS_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            c AS (
                SELECT symbol, price, volume, timestamp, trade_id,
                       (sum(volume) OVER (PARTITION BY symbol
                            ORDER BY timestamp, trade_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - volume) // {VOLUME_BAR_SIZE} AS bar
                FROM trades
            ),
            r AS (
                SELECT *,
                       row_number() OVER (PARTITION BY symbol, bar
                           ORDER BY timestamp, trade_id) AS rn_a,
                       row_number() OVER (PARTITION BY symbol, bar
                           ORDER BY timestamp DESC, trade_id DESC) AS rn_d
                FROM c
            )
            SELECT symbol, CAST(bar AS BIGINT) AS bar,
                   round(max(CASE WHEN rn_a = 1 THEN price END), 4) AS open,
                   round(max(price), 4) AS high,
                   round(min(price), 4) AS low,
                   round(max(CASE WHEN rn_d = 1 THEN price END), 4) AS close,
                   CAST(sum(volume) AS BIGINT) AS bar_volume,
                   count(*) AS n_trades
            FROM r GROUP BY symbol, bar ORDER BY symbol, bar
        """
register("volume_bars", q_volume_bars, VOLUME_BARS_SQL)


# --- purged k-fold with embargo ----------------------------------------------

PURGE_K = 5
PURGE_BLOCK_NS = 86_400_000_000_000  # 1-day blocks; the embargo unit


def q_purged_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged k-fold with embargo for time-series CV (López de Prado):
    contiguous 1-day blocks are assigned round-robin to K folds; for each
    test fold, training rows in the ±1 ADJACENT block residues are
    EMBARGOED (dropped) so serially-correlated samples cannot leak across
    the train/test boundary.  Output per fold: test / embargoed / train
    row counts and the train fraction.

    Scale: fold membership is pure modular arithmetic on the timestamp —
    map-side, no shuffle; the report derives every fold's numbers from a
    K-row residue-count frame (one tiny hash aggregate), so the fact
    table is scanned exactly once."""
    t = load_trades(spark, sf_dir, fan_out=True)
    res = (
        t.groupBy(
            F.pmod(
                F.expr(f"div(timestamp, {PURGE_BLOCK_NS})"), F.lit(PURGE_K)
            ).alias("r")
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    spine = spark.range(PURGE_K).select(F.col("id").alias("fold"))

    def _res_as(alias: str, col: str) -> DataFrame:
        return res.select(F.col("r").alias(f"r_{alias}"),
                          F.col("n").alias(col))

    total = res.agg(F.sum("n").alias("n_total"))
    out = (
        spine.join(
            _res_as("t", "n_test"), F.col("r_t") == F.col("fold"), "left"
        )
        .join(
            _res_as("p", "n_prev"),
            F.col("r_p") == F.pmod(F.col("fold") + 1, F.lit(PURGE_K)),
            "left",
        )
        .join(
            _res_as("q", "n_next"),
            F.col("r_q")
            == F.pmod(F.col("fold") - 1 + PURGE_K, F.lit(PURGE_K)),
            "left",
        )
        .join(F.broadcast(total))
    )
    n_test = F.coalesce("n_test", F.lit(0))
    n_emb = F.coalesce("n_prev", F.lit(0)) + F.coalesce("n_next", F.lit(0))
    n_train = F.col("n_total") - n_test - n_emb
    return out.select(
        "fold",
        n_test.alias("n_test"),
        n_emb.alias("n_embargoed"),
        n_train.alias("n_train"),
        F.round(
            n_train.cast("double") / F.col("n_total").cast("double"), 6
        ).alias("train_frac"),
    )


# purged k-fold: residue counts -> per-fold test/embargo/train
PURGED_KFOLD_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            res AS (
                SELECT (timestamp // {PURGE_BLOCK_NS})
                           % {PURGE_K} AS r,
                       count(*) AS n
                FROM trades GROUP BY 1
            ),
            total AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM res),
            folds AS (SELECT unnest(range({PURGE_K})) AS fold)
            SELECT f.fold,
                   CAST(coalesce(t.n, 0) AS BIGINT) AS n_test,
                   CAST(coalesce(p.n, 0) + coalesce(q.n, 0) AS BIGINT)
                       AS n_embargoed,
                   CAST(tt.n_total - coalesce(t.n, 0) - coalesce(p.n, 0)
                        - coalesce(q.n, 0) AS BIGINT) AS n_train,
                   round((tt.n_total - coalesce(t.n, 0) - coalesce(p.n, 0)
                          - coalesce(q.n, 0))::DOUBLE
                         / tt.n_total::DOUBLE, 6) AS train_frac
            FROM folds f
            LEFT JOIN res t ON t.r = f.fold
            LEFT JOIN res p
              ON p.r = (f.fold + 1) % {PURGE_K}
            LEFT JOIN res q
              ON q.r = (f.fold - 1 + {PURGE_K})
                       % {PURGE_K}
            CROSS JOIN total tt
            ORDER BY f.fold
        """
register("purged_kfold", q_purged_kfold, PURGED_KFOLD_SQL)


# --- microstructure estimators -------------------------------------------------

def q_microstructure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol market-microstructure estimator panel:

    - Roll (1984) effective spread: 2·sqrt(−cov(Δp_t, Δp_{t−1})) from the
      serial covariance of consecutive price changes (NULL when the
      covariance is nonnegative — the model's no-estimate case);
    - Kyle's lambda: price impact as regr_slope(Δp, signed volume), the
      tick-rule sign taken from the trade side;
    - Amihud illiquidity: avg(|Δp| / p_prev / volume), scaled 1e6.

    One shuffle on symbol: the lag window produces Δp and the lagged Δp,
    then every estimator folds in the SAME hash aggregate — three
    estimators, one pass.  Doubles are rounded; the sqrt/cov/regr
    moments are the shared IEEE expression tree both engines evaluate
    identically (symbol_beta precedent)."""
    from pyspark.sql import Window

    t = load_trades(spark, sf_dir, fan_out=True)
    w = Window.partitionBy("symbol").orderBy("timestamp", "trade_id")
    d = (
        t.select("symbol", "timestamp", "trade_id", "price", "volume", "side")
        .withColumn("p_prev", F.lag("price").over(w))
        .withColumn("dp", F.col("price") - F.col("p_prev"))
        .withColumn("dp_prev", F.lag("dp").over(w))
        .withColumn(
            "signed_vol",
            F.when(F.col("side") == "B", F.col("volume")).otherwise(
                -F.col("volume")
            ).cast("double"),
        )
        # parser-default 0.0 prices / volumes would hit ANSI division —
        # the same nonpositive-close guard the statistics series uses
        .filter(
            F.col("dp").isNotNull()
            & (F.col("p_prev") > 0)
            & (F.col("volume") > 0)
        )
    )
    cov = F.covar_samp("dp", "dp_prev")
    return (
        d.groupBy("symbol")
        .agg(
            F.count("*").alias("n_changes"),
            F.round(
                F.when(cov < 0, F.lit(2.0) * F.sqrt(-cov)), 6
            ).alias("roll_spread"),
            F.round(
                F.regr_slope("dp", "signed_vol") * F.lit(float(FX)), 6
            ).alias("kyle_lambda_x1e6"),
            F.round(
                F.avg(
                    F.abs(F.col("dp"))
                    / F.col("p_prev")
                    / F.col("volume").cast("double")
                )
                * F.lit(float(FX)),
                6,
            ).alias("amihud_x1e6"),
        )
    )


# microstructure panel: identical lag windows, moment aggregates,
# and the covariance-sign no-estimate case
MICROSTRUCTURE_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            d0 AS (
                SELECT symbol, timestamp, trade_id, price, volume,
                       lag(price) OVER w AS p_prev,
                       price - lag(price) OVER w AS dp,
                       CAST(CASE WHEN side = 'B' THEN volume
                                 ELSE -volume END AS DOUBLE) AS signed_vol
                FROM trades
                WINDOW w AS (PARTITION BY symbol ORDER BY timestamp, trade_id)
            ),
            d AS (
                SELECT *, lag(dp) OVER (PARTITION BY symbol
                    ORDER BY timestamp, trade_id) AS dp_prev
                FROM d0
            )
            SELECT symbol, count(*) AS n_changes,
                   round(CASE WHEN covar_samp(dp, dp_prev)
                                   < CAST(0 AS DOUBLE)
                              THEN CAST(2.0 AS DOUBLE)
                                   * sqrt(-covar_samp(dp, dp_prev)) END, 6)
                       AS roll_spread,
                   round(regr_slope(dp, signed_vol) * 1e6, 6)
                       AS kyle_lambda_x1e6,
                   round(avg(abs(dp) / p_prev / volume::DOUBLE) * 1e6, 6)
                       AS amihud_x1e6
            FROM d
            WHERE dp IS NOT NULL AND p_prev > 0 AND volume > 0
            GROUP BY symbol ORDER BY symbol
        """
register("microstructure", q_microstructure, MICROSTRUCTURE_SQL)


# --- candlestick patterns ------------------------------------------------------
# Classic single- and two-bar candlestick classification over the shared
# 1-minute OHLC bars — the chartist screen every market terminal ships
# (and the reference's domain, though it never built bars at all).
#
# Determinism: all shape tests are IEEE comparisons on the round-4 OHLC
# values both engines already agree on (the ohlc_bars row is
# hash-matched), and the two-bar patterns use lag() over the canonical
# (symbol, bar) order, mirrored exactly in the oracle.

def q_candlestick_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol candlestick pattern census over 1-minute bars.

    Patterns: doji (body <= 10% of range), hammer (lower shadow >= 2x
    body, upper <= body), shooting star (mirror), bullish/bearish
    engulfing (current body engulfs the previous bar's opposite-sign
    body, consecutive EXISTING bars via lag).

    Output: (symbol, n_bars, n_doji, n_hammer, n_shooting_star,
    n_bull_engulf, n_bear_engulf).

    Scale: bars are ONE hash aggregate on (symbol, bar) (struct-key
    open/close, no window over trades); the pattern window runs over the
    minute-bounded bars frame partitioned by symbol — never the trade
    stream."""
    from pyspark.sql import Window

    t = load_trades(spark, sf_dir, fan_out=True)
    bars = (
        t.withColumn("bar", F.expr("timestamp DIV 60000000000"))
        .groupBy("symbol", "bar")
        .agg(*_ohlc_aggs())
    )
    w = Window.partitionBy("symbol").orderBy("bar")
    body = F.abs(F.col("close") - F.col("open"))
    rng = F.col("high") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    flagged = bars.select(
        "symbol",
        "bar",
        "open",
        "close",
        ((rng > 0) & (body <= rng * F.lit(0.1))).cast("int").alias("doji"),
        ((body > 0) & (lower >= body * 2) & (upper <= body))
        .cast("int")
        .alias("hammer"),
        ((body > 0) & (upper >= body * 2) & (lower <= body))
        .cast("int")
        .alias("shooting_star"),
        F.lag("open").over(w).alias("p_open"),
        F.lag("close").over(w).alias("p_close"),
    )
    bull = (
        (F.col("p_close") < F.col("p_open"))  # previous bearish
        & (F.col("close") > F.col("open"))  # current bullish
        & (F.col("open") <= F.col("p_close"))
        & (F.col("close") >= F.col("p_open"))
    )
    bear = (
        (F.col("p_close") > F.col("p_open"))
        & (F.col("close") < F.col("open"))
        & (F.col("open") >= F.col("p_close"))
        & (F.col("close") <= F.col("p_open"))
    )
    return (
        flagged.groupBy("symbol")
        .agg(
            F.count("*").alias("n_bars"),
            F.sum("doji").alias("n_doji"),
            F.sum("hammer").alias("n_hammer"),
            F.sum("shooting_star").alias("n_shooting_star"),
            F.sum(F.coalesce(bull.cast("int"), F.lit(0))).alias(
                "n_bull_engulf"
            ),
            F.sum(F.coalesce(bear.cast("int"), F.lit(0))).alias(
                "n_bear_engulf"
            ),
        )
    )


# candlestick census over the same bars CTE shape as ohlc_bars;
# identical round-4 inputs, identical IEEE shape tests, lag() over
# the canonical (symbol, bar) order
CANDLESTICK_PATTERNS_SQL = f"""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol, timestamp // 60000000000 AS bar, price, volume,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp, trade_id) AS rn_a,
                       row_number() OVER (PARTITION BY symbol,
                                              timestamp // 60000000000
                                          ORDER BY timestamp DESC,
                                              trade_id DESC) AS rn_d
                FROM trades
            ),
            bars AS (
                SELECT symbol, bar,
                       round(max(CASE WHEN rn_a = 1 THEN price END), 4)
                           AS open,
                       round(max(price), 4) AS high,
                       round(min(price), 4) AS low,
                       round(max(CASE WHEN rn_d = 1 THEN price END), 4)
                           AS close
                FROM r GROUP BY symbol, bar
            ),
            lagged AS (
                SELECT *,
                       lag(open) OVER w AS p_open,
                       lag(close) OVER w AS p_close,
                       abs(close - open) AS body,
                       high - low AS rng,
                       high - greatest(open, close) AS upper,
                       least(open, close) - low AS lower
                FROM bars
                WINDOW w AS (PARTITION BY symbol ORDER BY bar)
            )
            SELECT symbol,
                   count(*) AS n_bars,
                   CAST(sum(CASE WHEN rng > 0 AND body <= rng * 0.1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_doji,
                   CAST(sum(CASE WHEN body > 0 AND lower >= body * 2
                                  AND upper <= body
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_hammer,
                   CAST(sum(CASE WHEN body > 0 AND upper >= body * 2
                                  AND lower <= body
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_shooting_star,
                   CAST(sum(CASE WHEN p_close < p_open AND close > open
                                  AND open <= p_close AND close >= p_open
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bull_engulf,
                   CAST(sum(CASE WHEN p_close > p_open AND close < open
                                  AND open >= p_close AND close <= p_open
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_bear_engulf
            FROM lagged GROUP BY symbol ORDER BY symbol
        """
register("candlestick_patterns", q_candlestick_patterns, CANDLESTICK_PATTERNS_SQL)


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point alarms per symbol (operators/changepoint.py):
    the batch applyInPandas escape hatch — the alarm-reset recursion is
    not prefix-sum decomposable, so each symbol's bounded bar series
    runs through an Arrow-batched pandas loop in exact int64 fixed-point
    and a DuckDB RECURSIVE CTE replays it bit-for-bit."""
    return changepoint.cusum_changepoints(load_trades(spark, sf_dir, fan_out=True))


register(
    "cusum_changepoints",
    q_cusum_changepoints,
    changepoint.cusum_changepoints_sql().format(TRADES_CTE=TRADES_CTE),
)
