"""Streaming semantics (SURVEY §2.8): JSON ingest + dead-letter, stateful
per-symbol counts equal batch counts on the same data, windowed stats.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from marketstream_etl_spark.streaming.ticks import (
    hot_path_filter,
    parse_json_frames,
    symbol_counts,
    to_json_frames,
    windowed_symbol_stats,
)


def make_frames(spark, n=50, corrupt=3):
    rows = []
    for i in range(n):
        rows.append(
            Row(
                value=json.dumps(
                    {
                        "trade_id": i,
                        "order_id": 10_000 + i,
                        "timestamp": 1_698_208_500_000_000_000 + i * 10_000,
                        "symbol": ["RELIANCE", "TCS", "INFY"][i % 3],
                        "price": 100.0 + i,
                        "volume": 10 + i,
                        "side": "B" if i % 2 == 0 else "S",
                        "type": "M",
                        "is_pro": False,
                        "exchange": "WSS",
                    }
                )
            )
        )
    for i in range(corrupt):
        rows.append(Row(value=f"{{not valid json {i}"))
    return spark.createDataFrame(rows)


def test_parse_and_dead_letter_split(spark):
    frames = make_frames(spark, n=30, corrupt=4)
    parsed = parse_json_frames(frames)
    assert parsed.filter(F.col("parse_error")).count() == 4
    good = hot_path_filter(parsed.filter(~F.col("parse_error")))
    counts = {r["symbol"]: r["n_ticks"] for r in symbol_counts(good).collect()}
    assert sum(counts.values()) == 30
    assert counts == {"RELIANCE": 10, "TCS": 10, "INFY": 10}


def test_json_roundtrip(spark):
    frames = make_frames(spark, n=12, corrupt=0)
    parsed = parse_json_frames(frames)
    back = to_json_frames(parsed.drop("raw_frame", "parse_error"))
    reparsed = parse_json_frames(back)
    assert reparsed.filter(F.col("parse_error")).count() == 0
    assert reparsed.count() == 12


def test_streaming_counts_equal_batch_counts(spark):
    """ST3: run the same frames through a real streaming query (availableNow
    over a memory-backed source) and as a batch; counts must agree."""
    import tempfile

    frames = make_frames(spark, n=60, corrupt=0)
    with tempfile.TemporaryDirectory() as d:
        src = f"{d}/src"
        frames.write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("value string").parquet(src)
        )
        ticks = hot_path_filter(
            parse_json_frames(stream).filter(~F.col("parse_error"))
        )
        q = (
            symbol_counts(ticks)
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("sym_counts")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["symbol"]: r["n_ticks"]
            for r in spark.sql("SELECT * FROM sym_counts").collect()
        }
    batch = {
        r["symbol"]: r["n_ticks"]
        for r in symbol_counts(
            hot_path_filter(
                parse_json_frames(frames).filter(~F.col("parse_error"))
            )
        ).collect()
    }
    assert got == batch and sum(got.values()) == 60


def test_windowed_stats_watermark_plan(spark):
    """ST4: windowed agg with watermark compiles and computes on a batch."""
    frames = make_frames(spark, n=40, corrupt=0)
    ticks = parse_json_frames(frames).filter(~F.col("parse_error"))
    out = windowed_symbol_stats(ticks, window="1 minute").collect()
    assert len(out) >= 1
    for r in out:
        assert r["vwap"] > 0 and r["n_ticks"] > 0


def test_file_stream_counts_equals_batch(spark, sf_dir):
    """ST3/ST5 via the file source: the availableNow streaming aggregation
    must equal the plain batch groupBy on the same parquet data."""
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.ticks import (
        file_stream_counts,
        hot_path_filter,
        symbol_counts,
    )

    streamed = {
        r["symbol"]: (r["n_ticks"], r["total_volume"])
        for r in file_stream_counts(spark, sf_dir).collect()
    }
    batch = {
        r["symbol"]: (r["n_ticks"], r["total_volume"])
        for r in symbol_counts(
            hot_path_filter(load_trades(spark, sf_dir))
        ).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_file_stream_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join on bounded replay must equal the batch
    range join (same symbol, sell within 1h after buy), per symbol."""
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.ticks import file_stream_join

    streamed = {
        r["symbol"]: (r["n_pairs"], r["avg_spread"])
        for r in file_stream_join(spark, sf_dir).collect()
    }

    t = load_trades(spark, sf_dir)
    buys = t.filter(F.col("side") == "B").select(
        F.col("symbol").alias("b_symbol"),
        F.col("price").alias("buy_price"),
        F.col("timestamp").alias("buy_ts"),
    )
    sells = t.filter(F.col("side") == "S").select(
        F.col("symbol").alias("s_symbol"),
        F.col("price").alias("sell_price"),
        F.col("timestamp").alias("sell_ts"),
    )
    batch = {
        r["symbol"]: (r["n_pairs"], r["avg_spread"])
        for r in buys.join(
            sells,
            (F.col("b_symbol") == F.col("s_symbol"))
            & (F.col("sell_ts") >= F.col("buy_ts"))
            & (F.col("sell_ts") <= F.col("buy_ts") + 3_600_000_000_000),
        )
        .groupBy(F.col("b_symbol").alias("symbol"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg(F.col("sell_price") - F.col("buy_price")), 6).alias(
                "avg_spread"
            ),
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_file_stream_sessions_equals_batch(spark, sf_dir):
    """Streaming session_window final state must equal the batch
    gaps-and-islands sessionization on the same data."""
    from marketstream_etl_spark.plans.advanced import q_sessionization
    from marketstream_etl_spark.streaming.ticks import file_stream_sessions

    streamed = {
        r["user_id"]: (
            r["n_sessions"],
            r["n_events"],
            r["avg_session_s"],
            r["max_session_s"],
        )
        for r in file_stream_sessions(spark, sf_dir).collect()
    }
    batch = {
        r["user_id"]: (
            r["n_sessions"],
            r["n_events"],
            r["avg_session_s"],
            r["max_session_s"],
        )
        for r in q_sessionization(spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_socket_emitter_cap_fails_loudly(spark, sf_dir, monkeypatch):
    """The socket fixture's driver-side buffer is bounded: exceeding
    SOCKET_EMITTER_MAX_ROWS must raise before any collect, not OOM or
    silently truncate (counts are oracle-compared).  The cap is read
    from the parquet footer, so no Spark job runs before the raise."""
    import uuid

    from marketstream_etl_spark.streaming import ticks as ticksmod

    sc = spark.sparkContext
    group = f"emitter-cap-{uuid.uuid4().hex}"
    monkeypatch.setattr(ticksmod, "SOCKET_EMITTER_MAX_ROWS", 5)
    sc.setJobGroup(group, "emitter cap")
    try:
        with pytest.raises(RuntimeError, match="emitter cap"):
            ticksmod.socket_stream_deadletter(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("query", ["streaming_socket", "streaming_websocket"])
def test_socket_feeder_failure_is_the_drain_error(
    spark, sf_dir, monkeypatch, query
):
    """A feed whose lines raise ends the drain within seconds, with that
    error as the cause, not a count mismatch at the drain's deadline.
    The plain-TCP feed fails in its payload; the WebSocket feed fails in
    the bridge's client after a complete WS exchange."""
    import time

    from marketstream_etl_spark.registry import QUERIES
    from marketstream_etl_spark.streaming import ticks as ticksmod
    from marketstream_etl_spark.streaming import websocket as wsmod

    broken = OSError("feed failed")

    def first_then_fail(lines):
        # list(): a WebSocket client first completes its CLOSE exchange
        yield list(lines)[0]
        raise broken

    if query == "streaming_socket":
        feed = ticksmod.LineFeed
        monkeypatch.setattr(
            ticksmod, "LineFeed", lambda lines: feed(first_then_fail(lines))
        )
    else:
        frames = wsmod.ws_client_frames
        monkeypatch.setattr(
            wsmod,
            "ws_client_frames",
            lambda host, port: first_then_fail(frames(host, port)),
        )
    start = time.monotonic()
    with pytest.raises(RuntimeError) as raised:
        QUERIES[query](spark, sf_dir)
    assert raised.value.__cause__ is broken
    assert time.monotonic() - start < 30


def test_stream_anomaly_matches_batch_zscore(spark, sf_dir):
    """The streaming tripwire's final state equals the batch z-score pass
    over the same hot-filtered trades."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.ticks import (
        file_stream_anomaly,
        hot_path_filter,
    )

    streamed = [tuple(r) for r in file_stream_anomaly(spark, sf_dir).collect()]
    hot = hot_path_filter(load_trades(spark, sf_dir, fan_out=True))
    stats = hot.groupBy("symbol").agg(
        F.avg("price").alias("mu"), F.stddev_samp("price").alias("sd")
    )
    abs_z = F.when(
        F.col("sd") > 0, F.abs((F.col("price") - F.col("mu")) / F.col("sd"))
    ).otherwise(F.lit(0.0))
    batch = [
        tuple(r)
        for r in hot.join(F.broadcast(stats), "symbol")
        .withColumn("abs_z", abs_z)
        .groupBy("symbol")
        .agg(
            F.count("*").alias("n_ticks"),
            F.sum(F.when(F.col("abs_z") > 2.0, 1).otherwise(0))
            .cast("long")
            .alias("n_anomalies"),
            F.round(F.max("abs_z"), 4).alias("max_abs_z"),
        )
        .orderBy("symbol")
        .collect()
    ]
    assert streamed == batch


def test_file_stream_join_outer_equals_batch_left_join(spark, sf_dir):
    """LEFT OUTER watermarked join on bounded replay: matched pairs equal
    the batch interval join; every buy with no in-horizon sell must be
    flushed exactly once by the sentinel-advanced watermark."""
    from marketstream_etl_spark.plans.trades_view import load_trades
    from marketstream_etl_spark.streaming.ticks import file_stream_join_outer

    streamed = {
        r["symbol"]: (r["n_pairs"], r["n_unmatched"], r["avg_spread"])
        for r in file_stream_join_outer(spark, sf_dir).collect()
    }

    t = load_trades(spark, sf_dir)
    buys = t.filter(F.col("side") == "B").select(
        F.col("symbol").alias("b_symbol"),
        F.col("price").alias("buy_price"),
        F.col("timestamp").alias("buy_ts"),
    )
    sells = t.filter(F.col("side") == "S").select(
        F.col("symbol").alias("s_symbol"),
        F.col("price").alias("sell_price"),
        F.col("timestamp").alias("sell_ts"),
    )
    batch = {
        r["symbol"]: (r["n_pairs"], r["n_unmatched"], r["avg_spread"])
        for r in buys.join(
            sells,
            (F.col("b_symbol") == F.col("s_symbol"))
            & (F.col("sell_ts") >= F.col("buy_ts"))
            & (F.col("sell_ts") <= F.col("buy_ts") + 3_600_000_000_000),
            "left",
        )
        .groupBy(F.col("b_symbol").alias("symbol"))
        .agg(
            F.count("sell_price").alias("n_pairs"),
            (F.count("*") - F.count("sell_price")).alias("n_unmatched"),
            F.round(F.avg(F.col("sell_price") - F.col("buy_price")), 6).alias(
                "avg_spread"
            ),
        )
        .collect()
    }
    assert streamed == batch and len(streamed) > 0
    assert sum(v[1] for v in streamed.values()) > 0  # outer rows exercised


def test_file_stream_psi_equals_batch(spark, sf_dir):
    """Streaming complete-mode histogram + shared PSI core must be
    bit-identical to the batch psi_drift on bounded replay."""
    from marketstream_etl_spark.plans.advanced import q_psi_drift
    from marketstream_etl_spark.streaming.ticks import file_stream_psi

    streamed = [tuple(r) for r in file_stream_psi(spark, sf_dir).collect()]
    batch = [tuple(r) for r in q_psi_drift(spark, sf_dir).collect()]
    assert streamed == batch and len(streamed) == 10


def test_accumulate_stream_replay_is_idempotent(spark, tmp_path):
    """The foreachBatch accumulator's exactly-once contract (r8): a
    re-executed micro-batch overwrites its OWN batch_id subdirectory, so
    the drained merge never double-counts — simulated here by writing
    the same batch partial twice (what a foreachBatch retry does) plus a
    second distinct batch, then running the drain-time merge."""
    from pyspark.sql import functions as F

    acc_dir = str(tmp_path / "acc")
    b0 = spark.createDataFrame(
        [("A", 2), ("B", 3)], "symbol string, n long"
    ).groupBy("symbol").agg(F.sum("n").alias("n"))
    b1 = spark.createDataFrame(
        [("A", 5)], "symbol string, n long"
    ).groupBy("symbol").agg(F.sum("n").alias("n"))

    # batch 0 executes, then is REPLAYED (same bid), then batch 1 runs —
    # the accumulate_stream agg_batch body, verbatim
    for bid, part in ((0, b0), (0, b0), (1, b1)):
        part.write.mode("overwrite").parquet(f"{acc_dir}/batch_id={bid}")

    merged = {
        r["symbol"]: r["n"]
        for r in spark.read.parquet(acc_dir)
        .groupBy("symbol")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert merged == {"A": 7, "B": 3}  # replay did NOT double-count


def test_join_horizon_density_adaptive(tmp_path):
    """Interval-join horizon holds 1 HOUR through every driver/bench SF
    (rows <= 100K) and shrinks with the SQUARE of the density ratio
    beyond it, pinning expected pair volume at its sf0.1 level (pair
    volume ~ rows^2 x horizon)."""
    from marketstream_etl_spark.streaming.ticks import (
        JOIN_HORIZON_NS,
        join_horizon_ns,
    )

    assert join_horizon_ns("/root/testdata/sf0.001") == JOIN_HORIZON_NS
    assert join_horizon_ns("/root/testdata/sf0.01") == JOIN_HORIZON_NS
    assert join_horizon_ns("/root/testdata/sf0.1") == JOIN_HORIZON_NS
    # missing table -> reference horizon, never a crash
    assert join_horizon_ns(str(tmp_path)) == JOIN_HORIZON_NS


def test_accumulate_stream_empty_source_yields_empty_frame(spark, tmp_path):
    """Zero micro-batches (empty source dir): foreachBatch never runs, so
    no partials exist — accumulate_stream must return an empty frame with
    the merged schema, not throw AnalysisException reading a nonexistent
    accumulator directory (r8 ADVICE)."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.streaming.replay import accumulate_stream

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema("symbol string, n long").parquet(
        str(src)
    )
    out = accumulate_stream(
        spark,
        str(tmp_path),
        stream,
        "empty_acc_probe",
        partial_fn=lambda b: b.groupBy("symbol").agg(F.sum("n").alias("n")),
        key_cols=["symbol"],
        merge_exprs=[F.sum("n").alias("n")],
    )
    assert out.columns == ["symbol", "n"]
    assert out.count() == 0


def test_single_parse_ingest_scopes_and_restores_conf(spark):
    """Both ingest confs are pinned inside the scope; after a normal exit
    and after an error the caller's exact values are back.  The width
    is restored with set, never unset: an unset width reads Spark's
    default of 200, not the caller's."""
    import pytest

    from marketstream_etl_spark.streaming.ticks import (
        _PUSHDOWN_RULE,
        single_parse_ingest,
    )

    key = "spark.sql.optimizer.excludedRules"
    width = "spark.sql.shuffle.partitions"
    prior_width = spark.conf.get(width)
    spark.conf.set(key, "some.Other.Rule")
    spark.conf.set(width, "7")
    try:
        with single_parse_ingest(spark):
            assert spark.conf.get(key) == _PUSHDOWN_RULE
            assert spark.conf.get(width) == "1"
        assert spark.conf.get(key) == "some.Other.Rule"
        assert spark.conf.get(width) == "7"
        spark.conf.unset(key)
        # unset baseline: restored to unset, even on error inside the scope
        with pytest.raises(RuntimeError, match="boom"):
            with single_parse_ingest(spark):
                assert spark.conf.get(key) == _PUSHDOWN_RULE
                assert spark.conf.get(width) == "1"
                raise RuntimeError("boom")
        # excludedRules has a None default, so "restored to unset" reads
        # back as None rather than raising
        assert spark.conf.get(key) in (None, "<undefined>")
        assert spark.conf.get(width) == "7"
    finally:
        spark.conf.unset(key)
        spark.conf.set(width, prior_width)


def test_tick_ingest_keeps_one_state_instance(spark, tmp_path):
    """The tick pipeline drained inside single_parse_ingest keeps its
    per-symbol state in one state-store instance on every trigger, and
    its counts equal the batch counts."""
    from marketstream_etl_spark.streaming.replay import run_bounded
    from marketstream_etl_spark.streaming.ticks import single_parse_ingest

    frames = make_frames(spark, n=60, corrupt=3)
    src = str(tmp_path / "src")
    frames.repartition(3).write.parquet(src)

    def counts(df):
        return symbol_counts(
            hot_path_filter(parse_json_frames(df).filter(~F.col("parse_error")))
        )

    stream = (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with single_parse_ingest(spark):
        progress = run_bounded(
            counts(stream).writeStream.format("memory")
            .queryName("one_state_instance")
            .outputMode("complete")
        )
    widths = [p["stateOperators"][0]["numShufflePartitions"] for p in progress]
    assert len(widths) >= 2
    assert widths == [1] * len(widths)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    try:
        assert rows(spark.table("one_state_instance")) == rows(counts(frames))
    finally:
        spark.catalog.dropTempView("one_state_instance")


def _spy_mkdtemp(monkeypatch) -> list[str]:
    """Record every directory tempfile.mkdtemp creates during the test."""
    import tempfile

    made: list[str] = []
    real = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    return made


def _file_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(1000).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_run_bounded_reraises_stops_and_removes_checkpoint(
    spark, tmp_path, monkeypatch
):
    """A failing foreachBatch: run_bounded re-raises the query's failure,
    leaves no query running and removes the checkpoint it made."""
    import os

    import pytest

    from marketstream_etl_spark.streaming.replay import run_bounded

    stream = _file_stream(spark, tmp_path)
    before = {q.id for q in spark.streams.active}
    made = _spy_mkdtemp(monkeypatch)

    def fail(batch, bid):
        raise ValueError("foreachBatch failed on purpose")

    with pytest.raises(Exception, match="foreachBatch failed on purpose"):
        run_bounded(stream.writeStream.foreachBatch(fail))
    assert [q for q in spark.streams.active if q.id not in before] == []
    assert made and not any(os.path.exists(d) for d in made)


def test_run_bounded_deadline_raises_stops_and_removes_checkpoint(
    spark, tmp_path, monkeypatch
):
    """A drain still running at STREAM_DEADLINE_S raises TimeoutError; the
    query is stopped and its checkpoint removed."""
    import os

    import pytest

    from marketstream_etl_spark.streaming import replay

    stream = _file_stream(spark, tmp_path)
    before = {q.id for q in spark.streams.active}
    made = _spy_mkdtemp(monkeypatch)
    monkeypatch.setattr(replay, "STREAM_DEADLINE_S", 0.001)

    with pytest.raises(TimeoutError):
        replay.run_bounded(stream.writeStream.format("noop"))
    assert [q for q in spark.streams.active if q.id not in before] == []
    assert made and not any(os.path.exists(d) for d in made)
