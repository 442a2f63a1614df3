"""The benchmark's workloads: each one drives the package's public functions
over generated inputs and checks every output it gets back.

A workload has two parts the runner calls:

- ``prepare(cache)``: start generating or re-checking its inputs; returns
  the call that waits for them (part of set-up);
- ``op(spark, tracer)``: one operation over the whole input, its outputs
  checked; with an enabled tracer it also returns per-layer figures;
- ``reference(spark)``: a fixed computation over the same input, of Spark
  built-ins only and no code of the package, whose time follows the host's
  speed (see ``run.py``).

Every operation returns an :class:`Outcome`; a wrong output is a failed
operation, never an exception that ends the run.
"""

from __future__ import annotations

import functools
import json
import math
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.dataset as pads

from perfbench import inputs
from perfbench.trace import progress_layers

# Fixed stamp for the indicator rows, so outputs do not depend on the clock.
COMPUTED_AT_NS = 1_700_000_000_000_000_000
# The generated trades and ticks, as the reference computations read them.
TRADE_SCHEMA = (
    "trade_id long, order_id long, timestamp long, symbol string, price double, "
    "volume int, side string, type string, is_pro int"
)
TICK_SCHEMA = TRADE_SCHEMA.replace("is_pro int", "is_pro boolean") + ", exchange string"
STREAM_DEADLINE_S = 60.0


@dataclass
class Outcome:
    seconds: float
    rows: int
    errors: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    ref_s: float = 0.0
    ref_cpu_s: float = 0.0


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


# --- etl_1m ---------------------------------------------------------------


class Etl:
    """1M seeded trades in 8 CSV files, with a fixed share of invalid rows
    over V1..V6, through ``plans.pipeline.run_pipeline`` (period 5)."""

    name = "etl_1m"
    rows = 1_000_000
    period = 5

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self._ops = 0

    def prepare(self, cache: inputs.InputCache):
        finish = cache.begin(
            "trades", self.seed, self.rows,
            functools.partial(inputs.build_trades, period=self.period),
            inputs.count_csv_rows,
        )

        def done():
            self.entry, self.meta, _ = finish()
            self.csv_dir = self.entry / "csv"
            self.input_bytes = sum(f.stat().st_size for f in self.csv_dir.iterdir())

        return done

    def reference(self, spark) -> None:
        """Parse half the CSV files with an explicit schema and aggregate
        per symbol."""
        from pyspark.sql import functions as F

        files = sorted(str(f) for f in self.csv_dir.glob("*.csv"))
        (spark.read.schema(TRADE_SCHEMA).option("header", True).csv(files[: len(files) // 2])
         .groupBy("symbol")
         .agg(F.sum(F.col("price") * F.col("volume")), F.count(F.lit(1)),
              F.max("timestamp"))
         .collect())

    def _out(self) -> Path:
        self._ops += 1
        return self.work / f"etl-out-{self._ops}"

    def op(self, spark, tracer) -> Outcome:
        from marketstream_etl_spark.plans.pipeline import run_pipeline

        out = self._out()
        try:
            if tracer.enabled:
                return self._traced(spark, tracer, out)
            t0 = time.perf_counter()
            r = run_pipeline(spark, str(self.csv_dir), str(out),
                             period=self.period, computed_at_ns=COMPUTED_AT_NS)
            dt = time.perf_counter() - t0
            errors = self._check_report(r.n_valid, r.n_rejected, r.n_symbols)
            errors += self._check_outputs(out)
            return Outcome(dt, r.n_input, errors,
                           {"stage_seconds": dict(r.stage_seconds)})
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _traced(self, spark, tracer, out: Path) -> Outcome:
        """``run_pipeline``'s steps, in its order, each inside a span."""
        from pyspark.sql import functions as F

        from marketstream_etl_spark.operators.indicators import (
            compute_indicators_auto,
        )
        from marketstream_etl_spark.operators.validation import with_validation
        from marketstream_etl_spark.sources.csv_trades import read_trades_csv
        from marketstream_etl_spark.sources.sinks import write_dual_sinks

        csv = str(self.csv_dir)
        t0 = time.perf_counter()
        with tracer.span("etl.pipeline") as top:
            with tracer.span("plans.construct") as c1:
                annotated = with_validation(read_trades_csv(spark, csv)).persist()
                counts_df = annotated.agg(
                    F.sum(F.col("is_valid").cast("long")),
                    F.sum((~F.col("is_valid")).cast("long")),
                )
            tracer.catalyst(c1, counts_df)
            with tracer.span("operators.parse_validate") as s_pv:
                counts = counts_df.first()
            with tracer.span("plans.construct") as c2:
                valid = annotated.filter(F.col("is_valid")).drop(
                    "reject_reason", "is_valid")
                indicators = compute_indicators_auto(
                    valid, period=self.period, computed_at_ns=COMPUTED_AT_NS
                ).persist()
            tracer.catalyst(c2, indicators)
            with tracer.span("operators.indicators") as s_ind:
                n_symbols = indicators.count()
            with tracer.span("sources.sink") as s_sink:
                write_dual_sinks(valid, indicators, f"{out}/trades",
                                 f"{out}/technical_indicators")
            annotated.unpersist()
            indicators.unpersist()
        dt = time.perf_counter() - t0 - tracer.take_bookkeeping()
        n_valid, n_rejected = counts[0] or 0, counts[1] or 0
        errors = self._check_report(n_valid, n_rejected, n_symbols)
        errors += self._check_outputs(out)

        # A parse-only pass over the same files, outside the pipeline's
        # time: the fused scan's parse share, so validation's is the rest.
        with tracer.span("sources.csv_parse") as s_parse:
            read_trades_csv(spark, csv).write.format("noop").mode("overwrite").save()

        def secs(rec):
            return rec["end"] - rec["start"]

        sink_bytes = sum(f.stat().st_size for f in out.rglob("*.parquet"))
        layers = tracer.job_metrics(top["start"], top["end"])
        layers.update(tracer.construct_metrics([c1, c2]))
        layers.update({
            "catalyst.analysis_ms": c1["catalyst.analysis_ms"] + c2["catalyst.analysis_ms"],
            "catalyst.optimization_ms": c1["catalyst.optimization_ms"] + c2["catalyst.optimization_ms"],
            "catalyst.planning_ms": c1["catalyst.planning_ms"] + c2["catalyst.planning_ms"],
            "sources.csv_parse_s": secs(s_parse),
            "operators.validate_s": max(secs(s_pv) - secs(s_parse), 0.0),
            "operators.indicators_s": secs(s_ind),
            "sources.sink_s": secs(s_sink),
            "sources.sink_bytes_per_input_byte": sink_bytes / self.input_bytes,
            "operators.reject_ratio": n_rejected / max(n_valid + n_rejected, 1),
            "stage_seconds": {
                "parse_validate": secs(s_pv) + secs(c1),
                "indicators": secs(s_ind) + secs(c2),
                "dual_sink_parquet": secs(s_sink),
            },
        })
        return Outcome(dt, n_valid + n_rejected, errors, layers)

    def _check_report(self, n_valid: int, n_rejected: int, n_symbols: int) -> list[str]:
        errors = []
        if n_valid != self.meta["n_valid"]:
            errors.append(f"n_valid {n_valid} != {self.meta['n_valid']}")
        if n_rejected != self.meta["n_rejected"]:
            errors.append(f"n_rejected {n_rejected} != {self.meta['n_rejected']}")
        if n_symbols != len(self.meta["indicators"]):
            errors.append(f"n_symbols {n_symbols} != {len(self.meta['indicators'])}")
        return errors

    def _check_outputs(self, out: Path) -> list[str]:
        """Read both Parquet outputs back: the trades row count and every
        indicator row against the independent reference."""
        errors = []
        n = pads.dataset(out / "trades", format="parquet").count_rows()
        if n != self.meta["n_valid"]:
            errors.append(f"trades parquet has {n} rows, want {self.meta['n_valid']}")
        got = {
            r["symbol"]: r
            for r in pads.dataset(out / "technical_indicators",
                                  format="parquet").to_table().to_pylist()
        }
        want = self.meta["indicators"]
        if sorted(got) != sorted(want):
            errors.append(f"indicator symbols {sorted(got)} != {sorted(want)}")
            return errors
        for sym, ref in want.items():
            row = got[sym]
            for k in ("sma", "rsi", "vwap"):
                if not _close(row[k], ref[k]):
                    errors.append(f"{sym}.{k} {row[k]!r} != {ref[k]!r}")
            if row["period"] != ref["period"] or row["computed_at"] != COMPUTED_AT_NS:
                errors.append(f"{sym}: period/computed_at mismatch")
        return errors


# --- tick_drain -----------------------------------------------------------


class TickDrain:
    """1M seeded JSON tick frames, a fixed share corrupt, drained by one
    ``availableNow`` query: ``parse_json_frames`` -> dead-letter split ->
    ``hot_path_filter`` -> ``symbol_counts``, inside ``single_parse_ingest``."""

    name = "tick_drain"
    rows = 1_000_000
    files = 32
    files_per_trigger = 8

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self._ops = 0

    def prepare(self, cache: inputs.InputCache):
        per_file = -(-self.rows // self.files)
        finish = cache.begin(
            "frames", self.seed, self.rows,
            functools.partial(inputs.build_frames, rows_per_file=per_file),
            inputs.count_frame_rows,
        )

        def done():
            self.entry, self.meta, _ = finish()
            self.frame_dir = self.entry / "frames"

        return done

    def reference(self, spark) -> None:
        """Parse an eighth of the frames with ``from_json`` in one batch and
        count and sum the volume per symbol."""
        from pyspark.sql import functions as F

        files = sorted(str(f) for f in self.frame_dir.glob("*.parquet"))
        (spark.read.parquet(*files[: len(files) // 8])
         .select(F.from_json("value", TICK_SCHEMA).alias("t"))
         .groupBy("t.symbol")
         .agg(F.count(F.lit(1)), F.sum("t.volume"))
         .collect())

    def op(self, spark, tracer) -> Outcome:
        o = self._drain(spark, tracer)
        m = self.meta
        if o.rows != self.rows:
            o.errors.append(f"read {o.rows} of {self.rows} frames")
        if o.layers["dead_letters"] != m["n_corrupt"]:
            o.errors.append(f"dead letters {o.layers['dead_letters']} != {m['n_corrupt']}")
        want = {k: tuple(v) for k, v in m["symbol_counts"].items()}
        if o.layers["symbol_counts"] != want:
            o.errors.append("symbol_counts differ from the generator's good ticks")
        return o

    def _drain(self, spark, tracer) -> Outcome:
        from pyspark.sql import functions as F

        from marketstream_etl_spark.streaming.ticks import (
            hot_path_filter,
            parse_json_frames,
            single_parse_ingest,
            symbol_counts,
        )

        self._ops += 1
        qname = f"perfbench_drain_{self._ops}"
        ckpt = self.work / f"ckpt-{self._ops}"
        with tracer.span("plans.construct") as construct:
            frames = (
                spark.readStream.schema("value string")
                .option("maxFilesPerTrigger", self.files_per_trigger)
                .parquet(str(self.frame_dir))
            )
            parsed = parse_json_frames(frames).observe(
                "deadletter",
                F.count(F.lit(1)).alias("frames"),
                F.sum(F.col("parse_error").cast("long")).alias("dead"),
            )
            counts = symbol_counts(
                hot_path_filter(parsed.filter(~F.col("parse_error"))))
        errors: list[str] = []
        q = None
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with single_parse_ingest(spark):
                q = (
                    counts.writeStream.format("memory")
                    .queryName(qname)
                    .outputMode("complete")
                    .option("checkpointLocation", str(ckpt))
                    .trigger(availableNow=True)
                    .start()
                )
                # raises if the stream failed
                if not q.awaitTermination(STREAM_DEADLINE_S):
                    errors.append(f"drain did not finish in {STREAM_DEADLINE_S} s")
            dt = time.perf_counter() - t0
        finally:
            if q is not None:
                q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        progress = [json.loads(p.json) for p in q.recentProgress]
        result = {
            r["symbol"]: (r["n_ticks"], r["total_volume"])
            for r in spark.table(qname).collect()
        }
        spark.catalog.dropTempView(qname)
        observed = [p.get("observedMetrics", {}).get("deadletter", {}) for p in progress]
        n_in = sum(o.get("frames", 0) for o in observed)
        dead = sum(o.get("dead") or 0 for o in observed)
        layers = {"dead_letters": dead, "symbol_counts": result, "progress": progress}
        if tracer.enabled:
            layers.update(tracer.construct_metrics([construct]))
            layers.update(progress_layers(progress))
            layers["streaming.deadletter_ratio"] = dead / max(n_in, 1)
            layers.update(tracer.job_metrics(wall0, wall0 + dt))
        return Outcome(dt, n_in, errors, layers)


WORKLOADS = {w.name: w for w in (Etl, TickDrain)}
