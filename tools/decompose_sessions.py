"""Attribution probe for the streaming_sessions sf10 decade ratio
(r10 VERDICT item 6): split the query's wall time into
  (a) bare replay scan — the same stream_events file-source replay
      through a stateless count (availableNow, memory sink), which prices
      the parquet scan + ts-normalization + micro-batch machinery alone;
  (b) session-window state — the full session_window groupBy on the same
      replay (the file_stream_sessions shape, minus the post-sink batch
      step);
  (c) post-sink batch step — the per-user stats aggregation over the
      sink table (driver-local memory table, tiny).
Run on a QUIET machine:  python tools/decompose_sessions.py [sf_dirs...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from marketstream_etl_spark.session import get_spark
from marketstream_etl_spark.streaming.replay import run_bounded
from marketstream_etl_spark.streaming.ticks import SESSION_GAP, stream_events

DIRS = ["/tmp/marketstream_sf1", "/tmp/marketstream_sf10"]
N = 3


def run_stream(df, name: str, mode: str) -> float:
    t0 = time.perf_counter()
    run_bounded(
        df.writeStream.format("memory").queryName(name).outputMode(mode)
    )
    return time.perf_counter() - t0


def main() -> None:
    dirs = sys.argv[1:] or DIRS
    from tools.sweep_sf import ensure_driver_mem, ensure_shuffle_width

    for d in dirs:
        ensure_driver_mem(d)
        ensure_shuffle_width(d)
    spark = get_spark(
        "decompose-sessions",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print(f"{'stage':<28}" + "".join(f"{d.rsplit('/',1)[-1]:>16}" for d in dirs))
    rows = {}
    for stage in ("bare_replay_count", "session_window", "post_sink_batch"):
        rows[stage] = []
    for i, d in enumerate(dirs):
        # (a) bare replay: stateless per-batch count over the SAME
        # projection the session stage reads (user_id + the
        # timestamp_micros ts-normalization), so the baseline prices
        # scan + normalization, not a column-pruned narrower scan
        # (r11 ADVICE: select("user_id") alone let pruning skip ts)
        bare = float("inf")
        for r in range(N):
            ev = stream_events(spark, d).select(
                "user_id",
                F.timestamp_micros(F.expr("ts div 1000")).alias(
                    "event_time"
                ),
            )
            bare = min(
                bare,
                run_stream(
                    ev.groupBy().agg(
                        F.count("*"), F.max("event_time")
                    ),
                    f"dsx_bare_{i}_{r}",
                    "complete",
                ),
            )
        rows["bare_replay_count"].append(bare)
        # (b) full session-window state on the same replay
        sess = float("inf")
        sink = None
        for r in range(N):
            ev = stream_events(spark, d)
            with_ts = ev.select(
                "user_id",
                F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
            )
            sdf = with_ts.groupBy(
                F.session_window("event_time", SESSION_GAP), "user_id"
            ).agg(F.count("*").alias("n_events"))
            sink = f"dsx_sess_{i}_{r}"
            sess = min(sess, run_stream(sdf, sink, "complete"))
        rows["session_window"].append(sess)
        # (c) the post-sink per-user stats step (batch over memory table)
        post = float("inf")
        for _ in range(N):
            t0 = time.perf_counter()
            spark.table(sink).groupBy("user_id").agg(
                F.count("*"), F.sum("n_events")
            ).write.format("noop").mode("overwrite").save()
            post = min(post, time.perf_counter() - t0)
        rows["post_sink_batch"].append(post)
        n_sessions = spark.table(sink).count()
        print(f"  [{d}: {n_sessions} sessions in final state]")
    for stage, vals in rows.items():
        print(
            f"{stage:<28}"
            + "".join(f"{v:>15.2f}s" for v in vals)
            + (
                f"   ratio {vals[-1] / vals[0]:.1f}x"
                if len(vals) > 1 and vals[0] > 0
                else ""
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
