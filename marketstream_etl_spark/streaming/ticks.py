"""Structured Streaming tick pipeline — the Spark re-expression of the
reference's WebSocket demo (SURVEY §2.8, §3.2):

  TickServer (JSON over WS, ~5K ticks/s)  → websocket.WSTickServer
  TickClient (parse JSON → Trade, SPSC)   → from_json + dead-letter channel
  consumer (filter + per-symbol counts)   → stateful streaming aggregation

Reference: src/feed/TickServer.hpp:144-265, src/feed/TickClient.hpp:126-246,
src/tools/websocket_demo.cpp:73-220.

Backpressure (SPSC ring, ST2) is engine-owned in Spark (`maxOffsetsPerTrigger`
etc.); the preserved semantic is lossless delivery.  Watermarks/windows (ST4)
are absent in the reference — `windowed_symbol_stats` adds them as the
engine-native generalization for late data.
"""

from __future__ import annotations

import socket as socketlib
import threading
from collections.abc import Iterable
from contextlib import contextmanager
from itertools import islice

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from marketstream_etl_spark.functions.fixedpoint import FX, to_fx
from marketstream_etl_spark.registry import Oracle, register
from marketstream_etl_spark.schemas import TICK_SCHEMA
from marketstream_etl_spark.sources.tables import (
    load_table,
    sink_name,
    stream_table,
    table_row_count,
)
from marketstream_etl_spark.streaming.replay import (
    accumulate_stream,
    drain_to_memory,
)

# Hard bound on the socket-test emitter's driver-side buffer (~200 B/frame →
# ≤ ~40 MB).  Covers sf0.1 (~100K events) with headroom; anything larger must
# fail loudly rather than grow the collect without bound.
SOCKET_EMITTER_MAX_ROWS = 200_000


class EmitterCapExceeded(RuntimeError):
    """The socket fixture would need a driver-side frame buffer past
    SOCKET_EMITTER_MAX_ROWS — a deliberate guard (the single-process
    emitter is a test harness, not a benchmarkable source), distinct
    from an operator failure so sweeps can record it as a by-design
    skip."""

def _over_trades(template: str) -> Oracle:
    """An oracle over the DuckDB trades view, formatted on first use: the
    view's SQL lives in plans/, which this module does not import at load
    time, so the tick path stays free of the query plans."""

    def oracle() -> str:
        from marketstream_etl_spark.plans.trades_view import TRADES_CTE

        return template.format(TRADES_CTE=TRADES_CTE)

    return oracle


def _batch_twin(attr: str) -> Oracle:
    """The batch twin's oracle in plans/advanced.py (a constant or a
    ``*_sql()`` function), built on first use for the same reason: the
    streaming twin's final state equals the batch result, so both share
    one oracle."""

    def oracle() -> str:
        from marketstream_etl_spark.plans import advanced

        sql = getattr(advanced, attr)
        return sql() if callable(sql) else sql

    return oracle


def to_json_frames(
    ticks: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """S6 serialize: one JSON text frame per tick (wire format).
    `passthrough` names tick columns to carry along beside the frame."""
    return ticks.select(
        F.to_json(F.struct(*[F.col(f.name) for f in TICK_SCHEMA.fields])).alias(
            "value"
        ),
        *passthrough,
    )


def deadletter_frames(events: DataFrame) -> DataFrame:
    """The dead-letter queries' wire: the events' trades as JSON frames
    (to_json_frames, exchange WSS) with every 50th trade's frame
    truncated to 10 bytes, which is never valid JSON.  This deterministic
    corruption is what STREAMING_DEADLETTER_ORACLE counts."""
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    ticks = trades_from_events(events).withColumn("exchange", F.lit("WSS"))
    frames = to_json_frames(ticks, passthrough=("trade_id",))
    return frames.select(
        F.when(F.col("trade_id") % 50 == 0, F.substring("value", 1, 10))
        .otherwise(F.col("value"))
        .alias("value")
    )


def parse_json_frames(
    frames: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """S5/S6/ST6 ingest: JSON frame → typed tick + dead-letter flag.

    Corrupt frames keep the raw frame and set `parse_error` — the
    `parse_errors` counter channel of TickClient.hpp:224-231.  from_json in
    permissive mode yields an all-null struct (not a NULL struct) for
    malformed input, so corruption is detected via the always-present
    trade_id field.  `passthrough` names source-metadata columns to carry
    along (e.g. Kafka topic/partition/offset).
    """
    parsed = frames.withColumn(
        "tick", F.from_json("value", T.StructType(TICK_SCHEMA.fields))
    )
    # parse_error references ONLY tick.trade_id, never the whole struct:
    # a NULL struct (null/empty frame) extracts a NULL trade_id, so the
    # old `tick.isNull() | ...` first disjunct was redundant — and it
    # forced a FULL-schema from_json re-parse inside every downstream
    # filter once predicate pushdown substituted the alias (Catalyst's
    # per-expression JSON pruning cannot prune a whole-struct null test).
    # Measured on the 1M-frame bench pipeline: 1.20 s → 0.87 s per pass
    # (single full parse costs 0.48 s), identical outputs.
    return parsed.select(
        "tick.*",
        F.col("value").alias("raw_frame"),
        F.col("tick.trade_id").isNull().alias("parse_error"),
        *passthrough,
    )


_PUSHDOWN_RULE = "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates"

_INGEST_CONFS = {
    "spark.sql.optimizer.excludedRules": _PUSHDOWN_RULE,
    "spark.sql.shuffle.partitions": "1",
}


@contextmanager
def single_parse_ingest(spark: SparkSession):
    """Scope the JSON-frame ingest confs around a streaming run (start →
    awaitTermination/stop): `spark.sql.optimizer.excludedRules=
    PushDownPredicates` and `spark.sql.shuffle.partitions=1`.

    Pushdown (guide §4.1/§2.2, r13 VERDICT item 5): predicate pushdown
    substitutes the `tick` parse alias into every downstream filter
    conjunct, so the ingest microbatch evaluates per-field pruned
    `from_json` re-parses per predicate (each re-scans the frame string);
    with pushdown excluded the filters stay ABOVE the parse projection
    and read extracted columns.  Semantics are unchanged (rule exclusion
    is plan-shape only).  Measured on the 1M-frame bench pipeline,
    interleaved A/B: 2.33 → 1.95 s best / every pair agreeing (~15–20%);
    microbatch plan drops from 5 to 3 from_json occurrences.

    Width: every caller aggregates a small, known key domain (10 symbols
    or the 2 `parse_error` values) with integer sums, so one shuffle
    partition keeps one state-store instance, which writes one delta
    file per trigger instead of one per core.  The narrower shuffle
    cannot change a value.  README "Tick ingest state width" has the
    measurements.

    Scope ONLY around from_json ingest queries over a small key domain:
    for parquet-scan plans the exclusion would forfeit real scan
    pushdown, and state that grows with the input needs its width.  The
    query clones the session at `.start()`, so the scope must cover
    `.start()`; later triggers keep the width and plan of that clone.
    On every exit path each conf gets back the caller's exact value: a
    conf that was unset is unset again, and one that was set is set back,
    never unset, since unsetting the shuffle width falls back to Spark's
    default of 200."""
    prev = {key: spark.conf.get(key, None) for key in _INGEST_CONFS}
    try:
        for key, value in _INGEST_CONFS.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def hot_path_filter(ticks: DataFrame) -> DataFrame:
    """F2: the consumer's sanity filter (websocket_demo.cpp:110-120)."""
    return ticks.filter((F.col("price") > 0) & (F.col("volume") > 0))


def symbol_counts(ticks: DataFrame) -> DataFrame:
    """ST3/A6: running per-symbol counts — unbounded keyed state, exactly
    ConsumerStats' unordered_map (websocket_demo.cpp:73-125)."""
    return ticks.groupBy("symbol").agg(
        F.count("*").alias("n_ticks"),
        F.sum("volume").alias("total_volume"),
    )


WINDOWED_WATERMARK = "10 seconds"  # lateness bound of windowed_symbol_stats


def windowed_symbol_stats(
    ticks: DataFrame, window: str = "1 minute"
) -> DataFrame:
    """ST4 (engine extension): tumbling-window per-symbol stats with a
    watermark for late data. The reference's last-N-rows indicators are not
    expressible on an unbounded stream (SURVEY §7 trap 1); time-windowed
    VWAP/avg is the streaming-native equivalent."""
    with_ts = ticks.withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
    )
    return (
        with_ts.withWatermark("event_time", WINDOWED_WATERMARK)
        .groupBy(F.window("event_time", window), "symbol")
        .agg(
            F.count("*").alias("n_ticks"),
            (
                F.sum(F.col("price") * F.col("volume"))
                / F.sum(F.col("volume").cast("double"))
            ).alias("vwap"),
            F.avg("price").alias("avg_price"),
        )
    )


def file_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 with the driver's gate: run the consumer aggregation as a REAL
    Structured Streaming query (parquet file source → availableNow →
    memory sink) and return the final table.  Streaming/batch parity is
    the invariant: the result must equal the batch groupBy on the same
    data, so this entry is oracle-checkable like any batch query.

    availableNow processes the bounded input in micro-batches then stops —
    the graceful-drain shutdown of the reference demo (ST5,
    websocket_demo.cpp:174-214)."""
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    counts = symbol_counts(hot_path_filter(trades_from_events(events)))
    drained = drain_to_memory(counts, "stream_counts", sf_dir, "complete")
    return drained.orderBy("symbol")


# real streaming execution, batch-equivalent answer by construction
STREAMING_COUNTS_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol, count(*) AS n_ticks,
                   CAST(sum(volume) AS BIGINT) AS total_volume
            FROM trades WHERE price > 0 AND volume > 0
            GROUP BY symbol ORDER BY symbol
        """)
register("streaming_counts", file_stream_counts, STREAMING_COUNTS_ORACLE)


def file_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 with the driver's gate: tumbling 1-minute windowed per-symbol
    stats as a real streaming query (watermark + window + availableNow).
    On bounded replay the final state equals the batch bucketing, so the
    window/watermark machinery itself is oracle-checkable."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    stats = windowed_symbol_stats(
        hot_path_filter(trades_from_events(events)), window="1 minute"
    )
    out = stats.select(
        (F.unix_micros(F.col("window.start")) * 1000).alias("window_start_ns"),
        "symbol",
        "n_ticks",
        F.round("vwap", 6).alias("vwap"),
        F.round("avg_price", 6).alias("avg_price"),
    )
    drained = drain_to_memory(out, "stream_windowed", sf_dir, "complete")
    return drained.orderBy("window_start_ns", "symbol")


# windowed streaming on bounded replay == batch 1-minute bucketing
STREAMING_WINDOWED_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE})
            SELECT "timestamp" - "timestamp" % 60000000000 AS window_start_ns,
                   symbol, count(*) AS n_ticks,
                   round(sum(price * volume) / sum(CAST(volume AS DOUBLE)), 6)
                       AS vwap,
                   round(avg(price), 6) AS avg_price
            FROM trades WHERE price > 0 AND volume > 0
            GROUP BY 1, 2 ORDER BY window_start_ns, symbol
        """)
register("streaming_windowed", file_stream_windowed, STREAMING_WINDOWED_ORACLE)


def file_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLCV: the q_ohlc_bars resample as a real windowed
    streaming aggregate — event-time tumbling windows over the bounded
    replay, open/close via the same min/max-of-struct trick (plain
    aggregates, so they run incrementally in window state with no sort).
    Batch/stream parity: on bounded input the final window state must
    equal the batch groupBy, which is what the oracle checks."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    ticks = hot_path_filter(trades_from_events(events)).withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp DIV 1000"))
    )
    key = F.struct("timestamp", "trade_id", "price")
    bars = (
        ticks.withWatermark("event_time", "10 minutes")
        .groupBy("symbol", F.window("event_time", "1 minute").alias("win"))
        .agg(
            F.round(F.min(key).getField("price"), 4).alias("open"),
            F.round(F.max("price"), 4).alias("high"),
            F.round(F.min("price"), 4).alias("low"),
            F.round(F.max(key).getField("price"), 4).alias("close"),
            F.sum("volume").alias("bar_volume"),
            F.count("*").alias("n_trades"),
        )
    )
    out = bars.select(
        "symbol",
        (F.unix_micros(F.col("win.start")) * 1000).alias("window_start_ns"),
        "open", "high", "low", "close", "bar_volume", "n_trades",
    )
    drained = drain_to_memory(out, "stream_ohlc", sf_dir, "complete")
    return drained.orderBy("symbol", "window_start_ns")


# streaming windowed OHLC == batch resample on bounded replay;
# open/close are first/last by (timestamp, trade_id) within the bar
STREAMING_OHLC_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE}),
            r AS (
                SELECT symbol,
                       "timestamp" - "timestamp" % 60000000000
                           AS window_start_ns,
                       price, volume,
                       row_number() OVER (
                           PARTITION BY symbol,
                               "timestamp" - "timestamp" % 60000000000
                           ORDER BY "timestamp", trade_id) AS rn_a,
                       row_number() OVER (
                           PARTITION BY symbol,
                               "timestamp" - "timestamp" % 60000000000
                           ORDER BY "timestamp" DESC, trade_id DESC) AS rn_d
                FROM trades WHERE price > 0 AND volume > 0
            )
            SELECT symbol, window_start_ns,
                   round(max(CASE WHEN rn_a = 1 THEN price END), 4) AS open,
                   round(max(price), 4) AS high,
                   round(min(price), 4) AS low,
                   round(max(CASE WHEN rn_d = 1 THEN price END), 4) AS close,
                   CAST(sum(volume) AS BIGINT) AS bar_volume,
                   count(*) AS n_trades
            FROM r GROUP BY symbol, window_start_ns
            ORDER BY symbol, window_start_ns
        """)
register("streaming_ohlc", file_stream_ohlc, STREAMING_OHLC_ORACLE)


def file_stream_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 `parse_errors` as an oracle-checked streaming run: serialize
    the replayed trades to JSON wire frames, deterministically corrupt
    every 50th frame (truncate to 10 bytes — never valid JSON), run the
    real from_json ingest, and count the dead-letter split plus the
    clean-side volume.  The reference counts exactly this channel in
    TickClient.hpp:224-231; here the counter is a verifiable query."""
    parsed = parse_json_frames(deadletter_frames(stream_table(spark, sf_dir, "events")))
    out = parsed.groupBy("parse_error").agg(
        F.count("*").alias("n_frames"),
        F.sum("volume").alias("total_volume"),
    )
    with single_parse_ingest(spark):
        drained = drain_to_memory(out, "stream_deadletter", sf_dir, "complete")
    return drained.orderBy("parse_error")


# every 50th frame truncated -> unparseable; volume only from the
# clean side (corrupt rows carry no fields)
STREAMING_DEADLETTER_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE})
            SELECT (trade_id % 50 = 0) AS parse_error,
                   count(*) AS n_frames,
                   CAST(sum(CASE WHEN trade_id % 50 <> 0 THEN volume END)
                        AS BIGINT) AS total_volume
            FROM trades GROUP BY 1 ORDER BY 1
        """)
register("streaming_deadletter", file_stream_deadletter, STREAMING_DEADLETTER_ORACLE)


# one definition of the buy→sell pairing semantics for BOTH the inner and
# the LEFT OUTER variant — the outer row strictly subsumes the inner one,
# and that claim only holds while they share this construction
JOIN_WATERMARK = "30 days"
JOIN_HORIZON_NS = 3_600_000_000_000  # 1 hour — the reference horizon
JOIN_REF_ROWS = 100_000  # sf0.1 density: the largest SF the horizon holds


def join_horizon_ns(sf_dir: str) -> int:
    """Density-adaptive interval-join horizon (r8 VERDICT item 2).

    Expected pairs-per-buy ∝ row density × horizon, so total pair volume
    ∝ rows² × horizon — the one streaming family whose OUTPUT grows
    quadratically with data.  Holding horizon × (rows/REF)² constant
    pins the emitted pair volume at its sf0.1 level while input rows
    grow linearly: at every driver/bench SF (rows ≤ REF) the horizon is
    the unchanged 1 HOUR (oracle semantics fixed), at sf1 it is 36 s,
    at sf10 0.36 s.  Deterministic both sides: computed from the parquet
    footer row count, which an oracle replay can also read."""
    from marketstream_etl_spark.sources.tables import table_row_count

    n = table_row_count(sf_dir, "events") or JOIN_REF_ROWS
    scale = max(1, n // JOIN_REF_ROWS)
    # 1 ms floor: the band math divides by horizon µs (horizon_ns DIV
    # 1000), which would hit zero once scale² exceeds 3.6e9 (≈ 6B rows)
    # — far past any probe SF (sf10 = 10M rows → 0.36 s) but a real
    # divide-by-zero at extrapolated scale; property-locked in
    # tests/test_property_interval_join.py
    return max(JOIN_HORIZON_NS // (scale * scale), 1_000_000)


def _band(col: str, horizon_ns: int) -> F.Column:
    """Time band index at horizon width: floor(event_time_µs / h_µs)."""
    return F.floor(
        F.unix_micros(F.col(col)) / F.lit(horizon_ns // 1000)
    ).cast("long")


def _interval_join(
    frame: DataFrame,
    how: str,
    horizon_ns: int = JOIN_HORIZON_NS,
    mirror: bool = False,
) -> DataFrame:
    """BANDED watermarked buy→sell interval join over a (symbol, price,
    side, event_time) stream: sells within [buy_time, buy_time + horizon]
    of the same symbol.

    Scale design (r9): a symbol-only equality key gives the join state
    just |symbols| distinct keys, so every arriving row probes ~n/|symbols|
    state rows — O(n²) total, measured >590 s at sf1 even after the
    horizon shrink bounded the EMITTED pair volume (emission was never
    the bottleneck; probing was).  Both sides therefore also carry
    band = floor(event_time/horizon): a window of width `horizon` spans
    at most two bands, so the probe side is exploded to (band, band−1)
    and the join keys on (symbol, band) EQUALITY before the exact range
    predicate trims.  Probes become band-local (O(rows-per-band)), pair
    volume is unchanged (each true pair matches via exactly ONE probe
    copy, since the copies' bands differ), and the watermark/range
    bounds still evict state.  sf1: >590 s → ~20 s.

    The UNEXPLODED side is always the outer-preserved one, so `how` may
    be "inner" or "leftOuter" and unmatched left rows emit exactly once.
    `mirror=False` preserves buys (sells exploded); `mirror=True`
    preserves sells (buys exploded) — the second leg a full-outer
    decomposition needs.  Output columns are identical either way."""
    buys = frame.filter(F.col("side") == "B").select(
        F.col("symbol").alias("b_symbol"),
        F.col("price").alias("buy_price"),
        F.col("event_time").alias("buy_time"),
        _band("event_time", horizon_ns).alias("b_band"),
    )
    sells = frame.filter(F.col("side") == "S").select(
        F.col("symbol").alias("s_symbol"),
        F.col("price").alias("sell_price"),
        F.col("event_time").alias("sell_time"),
        _band("event_time", horizon_ns).alias("s_band"),
    )
    if mirror:
        # a buy's window [buy, buy+h] can host sells in bands
        # {b_band, b_band+1}: probe copies ahead of the preserved sells
        buys = buys.withColumn(
            "b_band",
            F.explode(F.array(F.col("b_band"), F.col("b_band") + F.lit(1))),
        )
    else:
        # a sell at band s matches buys in bands {s_band−1, s_band}
        sells = sells.withColumn(
            "s_band",
            F.explode(F.array(F.col("s_band"), F.col("s_band") - F.lit(1))),
        )
    buys = buys.withWatermark("buy_time", JOIN_WATERMARK)
    sells = sells.withWatermark("sell_time", JOIN_WATERMARK)
    cond = (
        (F.col("b_symbol") == F.col("s_symbol"))
        & (F.col("b_band") == F.col("s_band"))
        & (F.col("sell_time") >= F.col("buy_time"))
        & (
            F.col("sell_time")
            <= F.col("buy_time")
            + F.expr(f"INTERVAL {horizon_ns // 1000} MICROSECOND")
        )
    )
    if mirror:
        return sells.join(buys, cond, how)
    return buys.join(sells, cond, how)


def file_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (engine extension beyond the reference's
    streaming surface): buy ticks joined to sell ticks of the same symbol
    arriving within the next hour — the canonical watermarked interval join
    of Structured Streaming.

    Both sides carry watermarks and the join has an event-time range bound,
    so state is evictable and the plan runs on an unbounded stream; on
    bounded replay (availableNow) the appended output equals the batch
    interval join, which makes the whole stateful-join machinery
    oracle-checkable.

    The matched pairs are REDUCED INSIDE foreachBatch (per-symbol count +
    exact e6 fixed-point spread sum — additive partials merged into a
    |symbols|-row parquet accumulator), so no pair set is ever
    materialized driver-side: the r7 posture fix for the one streaming
    family whose memory-sink result grows with data (pair volume at
    sf0.1 is already millions of rows; at 100x the old sink is a driver
    OOM).  Fixed-pointing each spread BEFORE the sum also makes the
    average order-independent — float-sum determinism courtesy."""
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    trades = trades_from_events(events).withColumn(
        "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
    )
    pairs = _interval_join(trades, "inner", join_horizon_ns(sf_dir))

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy(F.col("b_symbol").alias("symbol")).agg(
            F.count("*").alias("n_pairs"),
            F.sum(to_fx(F.col("sell_price") - F.col("buy_price"))).alias(
                "spread_sum_fp"
            ),
        )

    acc = _accumulate_stream(
        spark, sf_dir, pairs, "join_acc", partial,
        ["n_pairs", "spread_sum_fp"],
    )
    return (
        acc.select(
            "symbol",
            "n_pairs",
            _avg_from_fp("spread_sum_fp", "n_pairs").alias("avg_spread"),
        )
        .orderBy("symbol")
    )


# stream-stream interval join on bounded replay == batch range join;
# event times are µs-truncated ns, so the 1h bound is 3600e9 ns
# avg from an exact e6 fixed-point per-pair sum (order-independent
# — mirrors the foreachBatch additive accumulator)
STREAMING_JOIN_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE})
            SELECT b.symbol AS symbol, count(*) AS n_pairs,
                   round(sum(CAST(floor((s.price - b.price) * 1e6
                                  + CAST(0.5 AS DOUBLE)) AS BIGINT)
                             )::DOUBLE / count(*) / 1e6, 6) AS avg_spread
            FROM trades b
            JOIN trades s
              ON b.symbol = s.symbol AND b.side = 'B' AND s.side = 'S'
             AND s."timestamp" >= b."timestamp"
             AND s."timestamp" <= b."timestamp" + 3600000000000
            GROUP BY b.symbol ORDER BY symbol
        """)
register("streaming_join", file_stream_join, STREAMING_JOIN_ORACLE)


def _avg_from_fp(sum_col: str, n_col: str) -> F.Column:
    return F.when(
        F.col(n_col) > 0,
        F.round(
            F.col(sum_col).cast("double")
            / F.col(n_col).cast("double")
            / F.lit(float(FX)),
            6,
        ),
    )


def _accumulate_stream(
    spark: SparkSession,
    sf_dir: str,
    stream_df: DataFrame,
    label: str,
    partial_fn,
    sum_cols: list[str],
) -> DataFrame:
    """foreachBatch additive accumulator: per-symbol partials written to
    per-batch_id subdirectories (idempotent replay) and SUMMED at drain —
    the production alternative to a memory sink whose row count grows
    with data (at sf0.1 the interval joins already emit millions of
    pairs; at 100x a driver-side sink is an OOM).  Thin wrapper over the
    generalized replay.accumulate_stream (r8) pinning the trade-domain
    shape: key = symbol, merge = cell-wise SUM."""
    return accumulate_stream(
        spark,
        sf_dir,
        stream_df,
        label,
        partial_fn,
        key_cols=["symbol"],
        merge_exprs=[F.sum(c).alias(c) for c in sum_cols],
    )


def socket_stream_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 NETWORK ingest parity: a localhost TCP emitter thread plays the
    reference's TickServer (src/feed/TickServer.hpp:144-265 — JSON frames
    over a socket), and `readStream.format("socket")` is the TickClient
    (TickClient.hpp:126-246): live wire → from_json → dead-letter split.

    Same deterministic corruption contract as file_stream_deadletter (every
    50th frame truncated to 10 bytes), so the final counts hash-match the
    same batch oracle.  The driver-side emitter buffer is a test-scale
    stand-in for a real feed (a production deployment points the same parse
    stage at Kafka — streaming/kafka.py); the ingest path under test — the
    socket source, JSON parse, error channel, stateful counts — is the real
    streaming machinery."""
    payload = build_deadletter_payload(spark, sf_dir, "socket_stream_deadletter")
    return drain_deadletter_socket(
        spark, LineFeed(payload), len(payload), "stream_socket", sf_dir
    )


# socket ingest carries the identical corruption contract, so the
# network path proves out against the same batch oracle
register("streaming_socket", socket_stream_deadletter, STREAMING_DEADLETTER_ORACLE)


def build_deadletter_payload(
    spark: SparkSession, sf_dir: str, caller: str
) -> list[str]:
    """Wire frames for the network-ingest queries: JSON ticks with every
    50th frame truncated to 10 bytes (the deterministic corruption
    contract the dead-letter oracle counts).

    The emitter buffer is driver-side by design (it IS the server
    stand-in), so its size is bounded explicitly: a future sf bump must
    fail with a clear message, never OOM the driver or silently truncate
    (the counts are oracle-compared, so a silent cap would be a wrong
    answer)."""
    # deadletter_frames is a 1:1 select over events, so the footer's row
    # count is the frame count: the cap holds before any Spark job runs
    n_frames = table_row_count(sf_dir, "events")
    if n_frames is not None and n_frames > SOCKET_EMITTER_MAX_ROWS:
        raise EmitterCapExceeded(
            f"{caller} fixture: {n_frames} frames exceeds "
            f"the driver-side emitter cap of {SOCKET_EMITTER_MAX_ROWS}; "
            "point this query at a smaller sf_dir or raise the cap knowingly"
        )
    frames = deadletter_frames(load_table(spark, sf_dir, "events"))
    return [r.value for r in frames.collect()]


SOCKET_SEND_LINES = 1000  # lines per socket write
# Wall-clock bound on one live socket drain, and on how long a LineFeed
# waits for its reader; the README decision note "Stream deadline" gives
# the evidence.
LIVE_DRAIN_DEADLINE_S = 120


class LineFeed:
    """The one localhost line server that Spark's socket source reads: it
    binds 127.0.0.1:0, accepts one client and sends `lines` in
    SOCKET_SEND_LINES-line writes (never one giant wire buffer, never one
    syscall per line).  `lines` may be a generator; it is iterated on the
    feed's own thread.  The connection stays open until `done` is set,
    because the socket source treats a close as stream end mid-read; any
    exception the feed meets is kept in `error`."""

    def __init__(self, lines: Iterable[str]):
        self._server = socketlib.create_server(("127.0.0.1", 0), backlog=1)
        self._server.settimeout(LIVE_DRAIN_DEADLINE_S)
        self.port = self._server.getsockname()[1]
        self.done = threading.Event()
        self.error: Exception | None = None
        threading.Thread(target=self._serve, args=(lines,), daemon=True).start()

    def _serve(self, lines: Iterable[str]) -> None:
        try:
            conn, _ = self._server.accept()
            with conn:
                it = iter(lines)
                while chunk := list(islice(it, SOCKET_SEND_LINES)):
                    conn.sendall(("\n".join(chunk) + "\n").encode())
                self.done.wait(timeout=LIVE_DRAIN_DEADLINE_S)
        except Exception as e:  # noqa: BLE001 — surfaced by the drain loop
            self.error = e
        finally:
            self._server.close()


def drain_deadletter_socket(
    spark: SparkSession,
    feed: LineFeed,
    n_expected: int,
    name_prefix: str,
    sf_dir: str,
) -> DataFrame:
    """Shared ingest tail for the network dead-letter queries: socket
    source → JSON parse → error split → complete-mode counts, drained
    until every emitted frame is accounted for (fail loudly otherwise —
    the socket source is non-replayable, so a partial table is
    permanently wrong).

    The poll loop checks `feed.error` each tick and aborts with the ROOT
    cause immediately instead of stalling out the full deadline on a
    bogus count mismatch."""
    import time

    lines = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", feed.port)
        .load()
    )
    parsed = parse_json_frames(lines)
    out = parsed.groupBy("parse_error").agg(
        F.count("*").alias("n_frames"),
        F.sum("volume").alias("total_volume"),
    )
    name = sink_name(name_prefix, sf_dir)
    # a live (non-availableNow) query polled until every frame is counted,
    # so it keeps its own start/stop instead of replay.run_bounded
    with single_parse_ingest(spark):
        q = None
        try:
            q = (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .start()
            )
            deadline = time.time() + LIVE_DRAIN_DEADLINE_S
            counted = None
            while time.time() < deadline:
                if feed.error is not None:
                    raise RuntimeError(
                        f"{name_prefix}: feeder thread failed"
                    ) from feed.error
                counted = spark.table(name).agg(F.sum("n_frames")).first()[0]
                if counted == n_expected:
                    break
                time.sleep(0.5)
            q.processAllAvailable()
            counted = spark.table(name).agg(F.sum("n_frames")).first()[0]
            if counted != n_expected:
                raise RuntimeError(
                    f"{name_prefix}: drained {counted} of "
                    f"{n_expected} frames before the "
                    f"{LIVE_DRAIN_DEADLINE_S}s deadline"
                )
        finally:
            if q is not None:
                q.stop()
            feed.done.set()
    return spark.table(name).orderBy("parse_error")


SESSION_GAP = "30 minutes"
SESSION_GAP_NS = 1_800_000_000_000


def file_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the native session_window (the
    merge-on-overlap generalization of the batch gaps-and-islands plan in
    plans/advanced.q_sessionization): per-user sessions with a 30-minute
    inactivity gap, computed by the streaming state store.

    A session window spans [first_ts, last_ts + gap), so the batch island
    duration is (end - start - gap).  On bounded replay the final state
    equals the batch islands (the two semantics differ only for gaps of
    EXACTLY 30 minutes, absent at µs resolution), so the oracle is the same
    SQL as the batch query.  Per-user stats are a batch step over the sink
    table — chaining a second stateful aggregation onto the session window
    is deliberately avoided."""
    events = stream_table(spark, sf_dir, "events")
    with_ts = events.select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
    )
    sessions = with_ts.groupBy(
        F.session_window("event_time", SESSION_GAP), "user_id"
    ).agg(F.count("*").alias("n_events"))
    drained = drain_to_memory(sessions, "stream_sessions", sf_dir, "complete")
    dur_s = (
        (
            F.unix_micros(F.col("session_window.end"))
            - F.unix_micros(F.col("session_window.start"))
        )
        * 1000
        - SESSION_GAP_NS
    ) / 1_000_000_000
    return (
        drained
        .select("user_id", "n_events", dur_s.alias("dur_s"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.round(F.avg("dur_s"), 6).alias("avg_session_s"),
            F.round(F.max("dur_s"), 6).alias("max_session_s"),
        )
        .orderBy("user_id")
    )


# streaming session_window final state == batch islands
register("streaming_sessions", file_stream_sessions, _batch_twin("SESSIONIZATION_SQL"))


def file_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (the staging-table `ON CONFLICT DO NOTHING`
    pattern of README.md:78-82, as a stream): input rows are deliberately
    doubled, a stateful dropDuplicates on trade_id must emit each exactly
    once. Per-symbol counts of the deduped output therefore equal the
    plain batch counts — oracle-checkable."""
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    trades = trades_from_events(events)
    doubled = trades.withColumn(
        "_copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("_copy")
    deduped = doubled.dropDuplicates(["trade_id"])

    # reduce inside foreachBatch — see file_stream_dedup_watermarked
    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("symbol").agg(F.count("*").alias("n_trades"))

    acc = _accumulate_stream(
        spark, sf_dir, deduped, "dedup_acc", partial, ["n_trades"]
    )
    return acc.select("symbol", "n_trades").orderBy("symbol")


# doubled input through streaming dropDuplicates == plain counts
STREAMING_DEDUP_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE})
            SELECT symbol, count(DISTINCT trade_id) AS n_trades
            FROM trades GROUP BY symbol ORDER BY symbol
        """)
register("streaming_dedup", file_stream_dedup_counts, STREAMING_DEDUP_ORACLE)


def file_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicatesWithinWatermark` — the state-BOUNDED streaming dedup.

    Plain streaming dropDuplicates keeps every key seen forever (state grows
    with the stream; untenable on an unbounded 100 TB feed).  The
    within-watermark form evicts keys once the event-time watermark passes
    them, so state is O(keys-per-watermark-window) — the variant a long-
    running deployment must use when duplicates arrive close together (the
    at-least-once-delivery case, which is exactly the retry shape).

    Same contract as file_stream_dedup_counts: deliberately doubled input
    (duplicates land inside one micro-batch, trivially within the 1h
    watermark), deduped per-symbol counts equal the plain batch counts."""
    from marketstream_etl_spark.plans.trades_view import trades_from_events

    events = stream_table(spark, sf_dir, "events")
    trades = trades_from_events(events)
    doubled = trades.withColumn(
        "_copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("_copy")
    deduped = (
        doubled.withColumn(
            "event_time", F.timestamp_micros(F.expr("timestamp div 1000"))
        )
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["trade_id"])
    )
    # the deduped stream's ROW volume grows with data — reduce inside
    # foreachBatch (each unique row is emitted exactly once across
    # batches, so per-symbol counts merge additively) instead of
    # materializing the rows in a driver-side memory sink
    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy("symbol").agg(F.count("*").alias("n_trades"))

    acc = _accumulate_stream(
        spark, sf_dir, deduped, "dedup_wm_acc", partial, ["n_trades"]
    )
    return acc.select("symbol", "n_trades").orderBy("symbol")


# the watermarked dedup variant has the identical exact-once contract
register(
    "streaming_dedup_watermarked", file_stream_dedup_watermarked, STREAMING_DEDUP_ORACLE
)


def file_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming z-score tripwire — the stream twin of q_price_outliers:
    per-symbol mean/stddev are trained BATCH-side (the model), broadcast
    into the stream, and every incoming tick is z-scored map-side; one
    streaming aggregate keeps the per-symbol anomaly counters live.
    The stream-static broadcast join is the standard model-serving shape:
    at 100 TB the stats frame stays symbol-sized however large the feed.

    Guarded for sd == 0 (a constant-price symbol must count zero
    anomalies, not abort the query under ANSI division)."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.plans.trades_view import (
        load_trades,
        trades_from_events,
    )

    batch = hot_path_filter(load_trades(spark, sf_dir, fan_out=True))
    stats = batch.groupBy("symbol").agg(
        F.avg("price").alias("mu"),
        F.stddev_samp("price").alias("sd"),
    )
    stream = hot_path_filter(trades_from_events(stream_table(spark, sf_dir, "events")))
    abs_z = F.when(
        F.col("sd") > 0, F.abs((F.col("price") - F.col("mu")) / F.col("sd"))
    ).otherwise(F.lit(0.0))
    flagged = stream.join(F.broadcast(stats), "symbol").withColumn(
        "abs_z", abs_z
    )
    out = flagged.groupBy("symbol").agg(
        F.count("*").alias("n_ticks"),
        F.sum(F.when(F.col("abs_z") > 2.0, 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies"),
        F.round(F.max("abs_z"), 4).alias("max_abs_z"),
    )
    drained = drain_to_memory(out, "stream_anomaly", sf_dir, "complete")
    return drained.orderBy("symbol")


STREAMING_ANOMALY_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE}),
            hot AS (SELECT * FROM trades WHERE price > 0 AND volume > 0),
            stats AS (
                SELECT symbol, avg(price) AS mu, stddev_samp(price) AS sd
                FROM hot GROUP BY symbol
            ),
            z AS (
                SELECT h.symbol,
                       CASE WHEN s.sd > 0
                            THEN abs((h.price - s.mu) / s.sd)
                            ELSE 0.0 END AS abs_z
                FROM hot h JOIN stats s USING (symbol)
            )
            SELECT symbol, count(*) AS n_ticks,
                   CAST(sum(CASE WHEN abs_z > 2.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_anomalies,
                   round(max(abs_z), 4) AS max_abs_z
            FROM z GROUP BY symbol ORDER BY symbol
        """)
register("streaming_anomaly", file_stream_anomaly, STREAMING_ANOMALY_ORACLE)


def _sentineled_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trades stream unioned with the two-file far-future SENTINEL
    stream that drives watermark advancement for bounded outer-join
    replay (shared by the left- and full-outer variants): batch 1 drains
    the real data plus sentinel file 1 (advancing both sides' watermarks
    40 days past the real horizon), batch 2 processes sentinel file 2 and
    flushes every unmatched real row.  The sentinels themselves stay in
    state and are excluded from results by symbol."""
    import os

    from marketstream_etl_spark.plans.trades_view import trades_from_events
    from marketstream_etl_spark.sources.tables import warehouse_path

    day_ns = 86_400_000_000_000
    sent_dir = warehouse_path(spark, "join_outer_sentinel", sf_dir)
    marker = os.path.join(sent_dir, "_done")
    if not os.path.exists(marker):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # the batch max-ts scan is only needed to stamp the sentinel
        # files — it must not re-run on warm invocations.  Same scan also
        # guards the sentinel namespace: the result filter drops symbols
        # ZZB/ZZS, so a generated fixture that ever contains them as REAL
        # symbols would silently lose their rows — fail loudly instead.
        probe = (
            load_table(spark, sf_dir, "events")
            .agg(
                F.max("ts").alias("max_ts"),
                F.sum(
                    F.upper("event_type").isin("ZZB", "ZZS").cast("int")
                ).alias("n_sentinel_collisions"),
            )
            .collect()[0]
        )
        real_max_ns = probe["max_ts"]
        if (probe["n_sentinel_collisions"] or 0) > 0:
            raise ValueError(
                "events fixture contains symbol ZZB/ZZS — collides with "
                "the outer-join sentinel namespace; pick new sentinels"
            )
        os.makedirs(sent_dir, exist_ok=True)
        for i, ts in ((1, real_max_ns + 40 * day_ns),
                      (2, real_max_ns + 41 * day_ns)):
            tbl = pa.table(
                {
                    "symbol": ["ZZB", "ZZS"],
                    "price": pa.array([0.0, 0.0], pa.float64()),
                    "side": ["B", "S"],
                    "ts_ns": pa.array([ts, ts], pa.int64()),
                }
            )
            dst = os.path.join(sent_dir, f"sent{i}.parquet")
            pq.write_table(tbl, dst)
            # file-source order is by modification time, oldest first —
            # pin it so sent1 always rides batch 1
            os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))
        open(marker, "w").close()
    sent = (
        spark.readStream.schema(
            "symbol string, price double, side string, ts_ns long"
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "sent*.parquet")
        .parquet(sent_dir)
    )
    events = stream_table(spark, sf_dir, "events")
    trades = trades_from_events(events).select(
        "symbol", "price", "side", F.col("timestamp").alias("ts_ns")
    )
    return trades.unionByName(sent).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )


def file_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark-driven state
    eviction — the semantics Structured Streaming adds on top of the inner
    join: a buy with no sell in its 1-hour horizon is emitted with NULL
    sell columns once the watermark passes buy_time + 1h.

    Outer rows only flush when a LATER microbatch runs with an advanced
    watermark, so a bounded single-batch replay would silently degrade to
    the inner join.  The fixture therefore unions a two-file SENTINEL
    stream (far-future B and S rows, maxFilesPerTrigger=1): batch 1 drains
    the real data plus sentinel file 1 (advancing both side's watermarks
    40 days past the real horizon), batch 2 processes sentinel file 2 and
    flushes every unmatched real buy.  The sentinels themselves stay in
    state (the watermark never passes their own horizon) and are excluded
    from the result.

    Scale: state is bounded by the watermark exactly as the inner join;
    the sentinel trick is test-harness plumbing for bounded replay, not a
    production requirement (a live stream always has a next batch)."""
    pairs = _interval_join(
        _sentineled_trades(spark, sf_dir), "leftOuter", join_horizon_ns(sf_dir)
    )

    def partial(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(~F.col("b_symbol").isin("ZZB", "ZZS"))
            .groupBy(F.col("b_symbol").alias("symbol"))
            .agg(
                F.count("sell_price").alias("n_pairs"),
                (F.count("*") - F.count("sell_price")).alias("n_unmatched"),
                # sum skips the NULL spread of an unmatched buy
                F.sum(
                    to_fx(F.col("sell_price") - F.col("buy_price"))
                ).alias("spread_sum_fp"),
            )
        )

    acc = _accumulate_stream(
        spark, sf_dir, pairs, "join_outer_acc", partial,
        ["n_pairs", "n_unmatched", "spread_sum_fp"],
    )
    return (
        acc.select(
            "symbol",
            "n_pairs",
            "n_unmatched",
            _avg_from_fp("spread_sum_fp", "n_pairs").alias("avg_spread"),
        )
        .orderBy("symbol")
    )


# batch equivalence of the watermarked left-outer interval join:
# every real buy either pairs within its 1-hour horizon or is
# flushed unmatched by the sentinel-advanced watermark
STREAMING_JOIN_OUTER_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE}),
            buys AS (SELECT symbol, price, "timestamp" AS bt
                     FROM trades WHERE side = 'B'),
            sells AS (SELECT symbol, price, "timestamp" AS st
                      FROM trades WHERE side = 'S'),
            joined AS (
                SELECT b.symbol, b.price AS buy_price, s.price AS sell_price
                FROM buys b LEFT JOIN sells s
                  ON b.symbol = s.symbol
                 AND s.st >= b.bt AND s.st <= b.bt + 3600000000000
            )
            SELECT symbol, count(sell_price) AS n_pairs,
                   count(*) - count(sell_price) AS n_unmatched,
                   CASE WHEN count(sell_price) > 0 THEN
                        round(sum(CAST(floor((sell_price - buy_price) * 1e6
                                   + CAST(0.5 AS DOUBLE)) AS BIGINT)
                                  )::DOUBLE / count(sell_price) / 1e6, 6)
                   END AS avg_spread
            FROM joined GROUP BY symbol ORDER BY symbol
        """)
register("streaming_join_outer", file_stream_join_outer, STREAMING_JOIN_OUTER_ORACLE)


def file_stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the outer-join
    family (inner: streaming_join; left: streaming_join_outer): unmatched
    BUYS flush with NULL sell columns AND unmatched SELLS flush with NULL
    buy columns, each once the opposing side's watermark clears its match
    horizon.  Same shared sentinel fixture advances both watermarks on
    bounded replay; sentinels never match real rows (their symbols are
    reserved) and are excluded from the report.

    Output per symbol: (symbol, n_pairs, n_buy_unmatched,
    n_sell_unmatched, avg_spread) — the two unmatched counts are exactly
    the rows only full-outer semantics can surface.

    Scale decomposition (r9): at scale the full outer runs as TWO
    mirrored banded LEFT OUTER stream-stream joins rather than one
    fullOuter — the banded join must explode its probe side, and an
    exploded side would emit its unmatched rows once per copy, so each
    leg keeps a different side unexploded: leg 1 preserves buys (pairs +
    buy-side unmatched + spread), leg 2 preserves sells (sell-side
    unmatched only).  Union of the legs = the fullOuter row set exactly;
    both legs are real watermark-evicted outer joins and share the
    sentinel fixture."""
    horizon = join_horizon_ns(sf_dir)
    buy_side = _interval_join(
        _sentineled_trades(spark, sf_dir), "leftOuter", horizon
    )

    def partial_buy(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(~F.col("b_symbol").isin("ZZB", "ZZS"))
            .groupBy(F.col("b_symbol").alias("symbol"))
            .agg(
                F.count("sell_price").alias("n_pairs"),
                (F.count("*") - F.count("sell_price")).alias(
                    "n_buy_unmatched"
                ),
                # sum skips the NULL spread of an unmatched buy
                F.sum(
                    to_fx(F.col("sell_price") - F.col("buy_price"))
                ).alias("spread_sum_fp"),
            )
        )

    acc_buy = _accumulate_stream(
        spark, sf_dir, buy_side, "join_fo_buyleg_acc", partial_buy,
        ["n_pairs", "n_buy_unmatched", "spread_sum_fp"],
    )
    sell_side = _interval_join(
        _sentineled_trades(spark, sf_dir), "leftOuter", horizon, mirror=True
    )

    def partial_sell(batch: DataFrame) -> DataFrame:
        return (
            batch.filter(
                ~F.col("s_symbol").isin("ZZB", "ZZS")
                & F.col("buy_price").isNull()
            )
            .groupBy(F.col("s_symbol").alias("symbol"))
            .agg(F.count("*").alias("n_sell_unmatched"))
        )

    acc_sell = _accumulate_stream(
        spark, sf_dir, sell_side, "join_fo_sellleg_acc", partial_sell,
        ["n_sell_unmatched"],
    )
    return (
        acc_buy.join(acc_sell, "symbol", "full_outer")
        .select(
            "symbol",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_buy_unmatched", F.lit(0)).alias("n_buy_unmatched"),
            F.coalesce("n_sell_unmatched", F.lit(0)).alias(
                "n_sell_unmatched"
            ),
            _avg_from_fp("spread_sum_fp", "n_pairs").alias("avg_spread"),
        )
        .orderBy("symbol")
    )


# batch equivalence of the watermarked FULL OUTER interval join:
# unmatched rows from BOTH sides flush via the sentinel-advanced
# watermark on bounded replay
STREAMING_JOIN_FULL_OUTER_ORACLE = _over_trades("""
            WITH trades AS ({TRADES_CTE}),
            buys AS (SELECT symbol, price, "timestamp" AS bt
                     FROM trades WHERE side = 'B'),
            sells AS (SELECT symbol, price, "timestamp" AS st
                      FROM trades WHERE side = 'S'),
            joined AS (
                SELECT coalesce(b.symbol, s.symbol) AS symbol,
                       b.price AS buy_price, s.price AS sell_price
                FROM buys b FULL JOIN sells s
                  ON b.symbol = s.symbol
                 AND s.st >= b.bt AND s.st <= b.bt + 3600000000000
            )
            SELECT symbol,
                   CAST(sum(CASE WHEN buy_price IS NOT NULL
                                  AND sell_price IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN sell_price IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_buy_unmatched,
                   CAST(sum(CASE WHEN buy_price IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_sell_unmatched,
                   CASE WHEN count(sell_price - buy_price) > 0 THEN
                        round(sum(CAST(floor((sell_price - buy_price) * 1e6
                                   + CAST(0.5 AS DOUBLE)) AS BIGINT)
                                  )::DOUBLE
                              / count(sell_price - buy_price) / 1e6, 6)
                   END AS avg_spread
            FROM joined GROUP BY symbol ORDER BY symbol
        """)
register(
    "streaming_join_full_outer",
    file_stream_join_full_outer,
    STREAMING_JOIN_FULL_OUTER_ORACLE,
)


def file_stream_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Benford first-digit monitor: the per-digit counts run as
    a real complete-mode streaming aggregation (bounded state — 9
    digits), and the chi-square report is computed from the drained
    final state through the SAME fixed-point core as the batch query
    (plans/advanced.benford_from_counts), so on bounded replay the
    streamed verdict is bit-identical to the batch one.  The streaming
    shape a live fraud/quality monitor uses: state is the 9-row digit
    histogram no matter how many orders stream through."""
    from marketstream_etl_spark.plans.advanced import (
        benford_digit_col,
        benford_from_counts,
    )

    orders = stream_table(spark, sf_dir, "orders")
    counts_stream = (
        orders.filter(F.col("o_totalprice") >= 1.0)
        .groupBy(benford_digit_col().alias("digit"))
        .agg(F.count("*").alias("n_obs"))
    )
    return benford_from_counts(
        spark,
        drain_to_memory(counts_stream, "stream_benford", sf_dir, "complete"),
    )


register("streaming_benford", file_stream_benford, _batch_twin("benford_audit_sql"))


def _drift_histogram(
    spark: SparkSession, sf_dir: str, prefix: str
) -> DataFrame:
    """The drift family's shared stream: the complete-mode (segment,
    bucket) histogram of click vs purchase events (bounded state —
    2 segments × 10 buckets), drained.  Each drift monitor reduces the
    drained final state through the SAME fixed-point core as its batch
    query (plans/advanced.*_from_counts), so on bounded replay the
    streamed statistic is bit-identical to the batch one."""
    from marketstream_etl_spark.plans.advanced import psi_bucket_col

    hist = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(
            F.col("event_type").alias("segment"),
            psi_bucket_col().alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )
    return drain_to_memory(hist, prefix, sf_dir, "complete")


def file_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor over the shared drift histogram.

    This is the serve-into-stream shape a production drift monitor uses:
    per-batch the sink holds current bucket occupancy; the PSI math reads
    the sink, not the stream."""
    from marketstream_etl_spark.plans.advanced import psi_from_counts

    return psi_from_counts(
        spark, _drift_histogram(spark, sf_dir, "stream_psi")
    )


# the streaming twin's final complete-mode state equals the batch
# (segment, bucket) histogram, so it shares psi_drift's oracle
register("streaming_psi", file_stream_psi, _batch_twin("psi_drift_sql"))


def file_stream_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KS drift monitor — the PSI twin's reject/accept
    companion: the shared drift histogram drained into the exact-integer
    KS core, so the driver reuses the batch ks_drift oracle."""
    from marketstream_etl_spark.plans.advanced import ks_from_counts

    return ks_from_counts(spark, _drift_histogram(spark, sf_dir, "stream_ks"))


# the streaming twin's drained complete-mode state equals the
# batch (segment, bucket) histogram, so it shares ks_drift's oracle
register("streaming_ks", file_stream_ks, _batch_twin("ks_drift_sql"))


def file_stream_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Mann-Whitney U drift monitor — third member of the
    streaming drift family (PSI magnitude, KS sup-gap, U rank order): the
    shared drift histogram drained into the exact-integer midrank core,
    so the driver reuses the batch mannwhitney_drift oracle."""
    from marketstream_etl_spark.plans.advanced import mannwhitney_from_counts

    return mannwhitney_from_counts(
        spark, _drift_histogram(spark, sf_dir, "stream_mwu")
    )


# bounded replay == batch: the streaming twin reuses the oracle
register("streaming_mwu", file_stream_mwu, _batch_twin("mannwhitney_drift_sql"))


def file_stream_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chi-square drift monitor — fourth member of the
    streaming drift family (full-table shape): the shared drift histogram
    drained into the exact-integer contingency core, so the driver reuses
    the batch chi2_drift oracle."""
    from marketstream_etl_spark.plans.advanced import chi2_from_counts

    return chi2_from_counts(
        spark, _drift_histogram(spark, sf_dir, "stream_chi2")
    )


register("streaming_chi2", file_stream_chi2, _batch_twin("chi2_drift_sql"))
