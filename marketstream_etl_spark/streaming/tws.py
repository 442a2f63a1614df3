"""Same custom stateful operator as streaming/stateful.py, on Spark 4's
arbitrary-state API (`transformWithStateInPandas` + `StatefulProcessor`).

Why both: `applyInPandasWithState` is the stable Spark 3.x escape hatch;
`transformWithState` is its successor with typed per-state handles (value /
list / map), TTL, and timers — the API a long-lived deployment should target.
State layout here is identical (O(period) per symbol: trailing price tail +
running VWAP accumulators), so either backend scales to millions of keys on
a 1000-executor cluster; the state store shards by the groupBy key.

Semantics: per-symbol last-N SMA/RSI + running VWAP over the whole stream
prefix, exactly `operators/indicators.compute_indicators` at every
micro-batch boundary (reference math: TechnicalIndicators.hpp:204-330).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from marketstream_etl_spark.registry import register
from marketstream_etl_spark.streaming.stateful import (
    STREAMING_STATEFUL_SQL,
    DEFAULT_PERIOD,
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _concat_batch,
    _out_frame,
    fold_batch,
)

# transformWithStateInPandas drives keyed state through a local gRPC state
# server; the Python side needs grpcio + protobuf, which a real cluster's
# Python env ships but this container does not.  The processor logic below is
# runtime-independent (pure pandas fold) and unit-tested without Spark; the
# end-to-end streaming entry is gated on the runtime.
#
# PINNED IMPOSSIBILITY (r8, closes the recurring "clear the last pytest
# skip" item): this sandbox's ground rules forbid package installation
# (no pip/apt), grpcio+protobuf are not baked into the image, and both
# are compiled wheels that cannot be vendored as pure Python.  The one
# env-gated skip (tests/test_stateful_streaming.py) is therefore
# PERMANENT in this environment — do not re-attempt an install in future
# rounds.  Semantics coverage is unaffected: the applyInPandasWithState
# twin (streaming/stateful.py) runs the identical IndicatorProcessor
# fold end-to-end in-gate, and this module's processor logic is
# unit-tested runtime-free.
try:  # pragma: no cover - trivially environment-dependent
    import grpc  # noqa: F401
    from google.protobuf import descriptor  # noqa: F401

    HAS_TWS_RUNTIME = True
except ImportError:
    HAS_TWS_RUNTIME = False


class IndicatorProcessor(StatefulProcessor):
    """Keyed indicator state machine: fold each micro-batch's rows (in
    canonical (timestamp, trade_id) order) into the trailing tail, emit one
    snapshot row per key per batch."""

    def __init__(self, period: int = DEFAULT_PERIOD):
        self._period = period
        self._keep = period + 1

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("indicators", STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        new_state, out = fold_batch(
            self._state.get(), _concat_batch(rows), self._period
        )
        self._state.update(new_state)
        yield _out_frame(key[0], out)

    def close(self) -> None:
        pass


def streaming_indicators_tws(ticks: DataFrame) -> DataFrame:
    """Per-symbol last-N indicator stream on the transformWithState API."""
    cols = ["symbol", "price", "volume"]
    for order_col in ("timestamp", "trade_id"):
        if order_col in ticks.columns:
            cols.append(order_col)
    return (
        ticks.select(*cols)
        .groupBy("symbol")
        .transformWithStateInPandas(
            IndicatorProcessor(DEFAULT_PERIOD),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def file_stream_tws_indicators(spark, sf_dir: str) -> DataFrame:
    """Driver-gate entry: bounded replay of the valid trades through the
    transformWithState processor; the final emission per symbol must equal
    the batch `compute_indicators` snapshot (same SQL oracle as the
    applyInPandasWithState variant — the two state backends are
    interchangeable by construction)."""
    if not HAS_TWS_RUNTIME:
        raise NotImplementedError(
            "transformWithStateInPandas needs grpcio + protobuf in the Python "
            "env (standard on cluster images; absent here). Use "
            "streaming.stateful.file_stream_stateful_indicators — identical "
            "semantics on the applyInPandasWithState backend."
        )
    from marketstream_etl_spark.streaming.replay import (
        drain_to_memory,
        final_indicator_snapshot,
        valid_trades_stream,
    )

    valid = valid_trades_stream(spark, sf_dir)
    ind = streaming_indicators_tws(valid)
    emitted = drain_to_memory(ind, "stream_tws", sf_dir)
    return final_indicator_snapshot(emitted)


# same snapshot as the applyInPandasWithState backend, so the same
# oracle; registered only where the gRPC state-server runtime exists
if HAS_TWS_RUNTIME:
    register("streaming_tws", file_stream_tws_indicators, STREAMING_STATEFUL_SQL)
