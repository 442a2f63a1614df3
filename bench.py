"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a count-style action; timings exclude
session startup (the engine's cost, not the query's).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from marketstream_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship ETL spine + representative joins/aggs.
HEADLINE = [
    "indicators",
    "validate_split",
    "symbol_leaderboard",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "top_parts_by_revenue",
    "text_analysis",
    "dedup_minhash_lsh",
    "ann_bruteforce",
    "simhash_pairs",
    "corpus_curation",
    "vocab_topk",
    "contamination",
    "sequence_packing",
    "rsi_wilder",
    "ohlc_bars",
]


# Measured but NOT in the headline sum (keeps `value`/`cold_total`
# comparable round-over-round): ops added after the headline set froze.
EXTRAS = [
    "kmeans_embeddings",
    "ann_lsh",
    "ann_ivf_trained_recall",
    "dedup_edit_distance",
    "ann_pq",
    "source_pagerank",
    "ann_ivfpq",
    "bm25_search",
    "lm_perplexity",
    "embedding_quantize",
    "return_autocorr",
    "tokenize_ids",
    "source_mixture",
    "price_outliers",
    # r6 additions
    "token_drift",
    "contamination_verbatim",
    "contamination_neardup",
    "cluster_profile",
    "dedup_family_agreement",
    "ann_truncated_recall",
    "langid_confusion",
    "split_leakage",
    "vwap_deviation",
    "symbol_affinity",
    # late-r6 additions
    "hybrid_search_rrf",
    "part_triangles",
    "asof_events_tolerance",
    "ngram_novelty",
    "hll_cardinality",
    "bloom_contamination",
    "winnowing_pairs",
    "semantic_dedup",
    "hdr_quantiles",
    "hdr_quantiles_grouped",
    # r7 additions (the late-r6 audit/market wave + funnel)
    "psi_drift",
    "benford_audit",
    "key_skew_profile",
    "attribution_touch",
    "session_transitions",
    "zipf_audit",
    "source_entropy",
    "rolling_distinct_users",
    "microstructure",
    "volume_bars",
    "purged_kfold",
    "containment_pairs",
    "funnel_steps",
    "candlestick_patterns",
    # r8 additions
    "ks_drift",
    "ab_test",
    # r9 additions
    "mannwhitney_drift",
    "chi2_drift",
    "roc_auc",
    "calibration_ece",
    "t_closeness",
    "information_value",
    "embedding_drift",
    "dedup_sorted_neighborhood",
    # r14 additions (scale-posture rows: served-index ANN regime,
    # bounded-output near-dup)
    "ann_ivfpq_served",
    "embedding_neardup_ivf_capped",
]


# Heavy extras bundle shared-index construction with the op itself; time
# that setup separately so a future slowdown can be read as "the op
# regressed" vs "the attribution shifted" (r5 VERDICT item 3).  Each entry:
# a callable materializing just the setup, plus whether that setup lands in
# a generation cache (True → the query's timed runs then EXCLUDE it; False
# → every timed run re-pays it, so op ≈ query − setup).
def _setup_pagerank(spark, sf_dir: str) -> None:
    # LSH dup-graph construction (shared generation cache)
    from marketstream_etl_spark.operators import dedup
    from marketstream_etl_spark.sources.tables import load_table

    dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents")
    ).write.format("noop").mode("overwrite").save()


def _setup_ivf_recall(spark, sf_dir: str) -> None:
    # exact ground truth (per-generation persisted frame, r8) + Lloyd's
    # codebook training (driver-side obj memo, r8) — BOTH now land in
    # the generation-cache family, so timed query runs exclude them
    from marketstream_etl_spark.operators.similarity import (
        N_CENTROIDS,
        ann_bruteforce_gt_cached,
        kmeans_fit,
    )
    from marketstream_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ann_bruteforce_gt_cached(emb).write.format("noop").mode(
        "overwrite"
    ).save()
    kmeans_fit(emb, k=N_CENTROIDS)


def _setup_cluster_profile(spark, sf_dir: str) -> None:
    # Lloyd's codebook training (driver-side obj memo since r8 — timed
    # query runs hit the memo, so they measure the profile aggregation)
    from marketstream_etl_spark.operators.similarity import kmeans_fit
    from marketstream_etl_spark.sources.tables import load_table

    kmeans_fit(load_table(spark, sf_dir, "embeddings"))


def _setup_winnowing(spark, sf_dir: str) -> None:
    # fingerprint-index construction (shared generation cache)
    from marketstream_etl_spark.operators.winnow import winnow_fps_cached
    from marketstream_etl_spark.sources.tables import load_table

    winnow_fps_cached(load_table(spark, sf_dir, "documents")).write.format(
        "noop"
    ).mode("overwrite").save()


def _setup_ivfpq_served(spark, sf_dir: str) -> None:
    # served-index build: √N coarse assignment + PQ code index + codebook
    # (generation cache) — the timed query runs then measure SERVING the
    # five batches against the warm index, which is the regime's point
    from marketstream_etl_spark.operators.similarity import (
        _ivfpq_served_index,
        served_centroid_count,
    )
    from marketstream_etl_spark.sources.tables import (
        load_table,
        table_row_count,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_centroids = served_centroid_count(table_row_count(sf_dir, "embeddings"))
    for frame in _ivfpq_served_index(emb, n_centroids):
        frame.write.format("noop").mode("overwrite").save()


EXTRA_SETUP = {
    "source_pagerank": (_setup_pagerank, True),
    "ann_ivf_trained_recall": (_setup_ivf_recall, True),
    "cluster_profile": (_setup_cluster_profile, True),
    "winnowing_pairs": (_setup_winnowing, True),
    "ann_ivfpq_served": (_setup_ivfpq_served, True),
}


ETL_ROWS = 1_000_000  # the reference's published workload (BASELINE.md)
ETL_CSV_DIR = "/tmp/marketstream_bench_csv_1m"
ETL_WARM_DIR = "/tmp/marketstream_bench_csv_10k"


def _gen_csv(spark, n_rows: int, path: str, n_files: int) -> None:
    from marketstream_etl_spark.sources.generator import generate_trades

    generate_trades(spark, n_rows).selectExpr(
        "trade_id", "order_id", "timestamp", "symbol", "price",
        "volume", "side", "type", "cast(is_pro as int) as is_pro",
    ).repartition(n_files).write.mode("overwrite").option("header", True).csv(
        path
    )


def bench_etl_1m(spark) -> dict[str, float]:
    """The BASELINE-comparable run: 1M generated trades through
    parse → validate → trades parquet → indicators → indicators parquet
    (reference: parse 904ms, validate 308ms, indicators 150ms on the same
    workload).  `run_pipeline` fuses parse, validate and the trades sink
    into one job, so its stages are reported as two splits.

    A 10K-row warm-up run compiles the pipeline's plan shapes first, so the
    timed run measures the queries, not one-time JVM codegen (same policy as
    the headline loop)."""
    import tempfile

    from marketstream_etl_spark.plans.pipeline import run_pipeline

    if not os.path.isdir(ETL_CSV_DIR):
        _gen_csv(spark, ETL_ROWS, ETL_CSV_DIR, 8)
    if not os.path.isdir(ETL_WARM_DIR):
        _gen_csv(spark, 10_000, ETL_WARM_DIR, 1)
    with tempfile.TemporaryDirectory() as out:
        run_pipeline(spark, ETL_WARM_DIR, out, period=5)  # codegen warm-up
    # best of three full runs, like the headline loop: ambient machine
    # noise (noisy-neighbor VM) measured up to 1.5x on single runs
    report = None
    for _ in range(3):
        with tempfile.TemporaryDirectory() as out:
            r = run_pipeline(spark, ETL_CSV_DIR, out, period=5)
        if report is None or sum(r.stage_seconds.values()) < sum(
            report.stage_seconds.values()
        ):
            report = r
    total = sum(report.stage_seconds.values())
    return {
        "etl_1m_total": round(total, 4),
        "etl_1m_parse_validate_sink": round(
            report.stage_seconds["parse_validate_sink"], 4
        ),
        "etl_1m_indicators_sink": round(
            report.stage_seconds["indicators_sink"], 4
        ),
        "etl_1m_rows_per_sec": round(ETL_ROWS / total, 1),
    }


STREAM_ROWS = 1_000_000
STREAM_FRAMES_DIR = "/tmp/marketstream_bench_frames_1m"


def bench_stream_1m(spark) -> dict[str, float]:
    """Streaming-ingest throughput, BASELINE-comparable: 1M JSON tick
    frames through a REAL Structured Streaming query (file source,
    availableNow) doing parse → dead-letter split → hot filter →
    per-symbol counts. The reference demo feeds ~5,000 ticks/s over a
    WebSocket (TickServer.hpp:183,239-241); this measures the same
    logical pipeline at engine speed."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.generator import generate_trades
    from marketstream_etl_spark.streaming.ticks import (
        hot_path_filter,
        parse_json_frames,
        single_parse_ingest,
        symbol_counts,
        to_json_frames,
    )

    if not os.path.isdir(STREAM_FRAMES_DIR):
        ticks = generate_trades(spark, STREAM_ROWS).withColumn(
            "exchange", F.lit("WSS")
        )
        to_json_frames(ticks).repartition(32).write.mode("overwrite").parquet(
            STREAM_FRAMES_DIR
        )
    warm_dir = STREAM_FRAMES_DIR + "_warm"
    if not os.path.isdir(warm_dir):
        to_json_frames(
            generate_trades(spark, 10_000).withColumn("exchange", F.lit("WSS"))
        ).coalesce(1).write.mode("overwrite").parquet(warm_dir)

    def run(src_dir: str, qname: str) -> None:
        # single_parse_ingest is the repo's JSON-ingest conf scope (see
        # streaming/ticks.py): predicate pushdown excluded for THIS query
        # only, so the microbatch parses each frame once instead of per
        # pushed-down predicate.  Same pipeline, same timing methodology.
        frames = spark.readStream.schema("value string").parquet(src_dir)
        parsed = parse_json_frames(frames)
        counts = symbol_counts(
            hot_path_filter(parsed.filter(~F.col("parse_error")))
        )
        with single_parse_ingest(spark):
            q = (
                counts.writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run(warm_dir, "bench_stream_warm")  # one-time engine/codegen warmup
    dt = float("inf")
    for _ in range(3):  # best of three (see bench_etl_1m)
        t0 = time.perf_counter()
        run(STREAM_FRAMES_DIR, "bench_stream_counts")
        dt = min(dt, time.perf_counter() - t0)
    n = spark.table("bench_stream_counts").agg(F.sum("n_ticks")).collect()[0][0]
    return {
        "stream_1m_total": round(dt, 4),
        "stream_1m_rows_per_sec": round(n / dt, 1),
    }


# Ambient-calibration canary (r10 VERDICT item 2): a fixed, code-stable
# probe pair timed at bench open and close, recorded in the JSON so
# round-over-round drift adjudication is a one-line ratio read instead of
# a worktree-A/B ritual.  The probes never change between rounds:
#   1. spark.range(500M).sum()         — pure-CPU whole-stage-codegen loop
#   2. frozen parquet scan-agg         — I/O + shuffle-free aggregate over
#      the FIXED sf0.1 lineitem table (independent of $SPARK_GRAFT_SF_DIR
#      so the canary is comparable even when the bench SF changes)
# Both are warmed once (codegen compile excluded, like every other timing
# here), then the MEDIAN of 3 runs is recorded — median, not min, because
# the canary's job is to measure ambient machine conditions, not to hide
# them.  A round whose canary is 1.3× the prior round's explains a ~1.3×
# uniform headline shift as ambient; same-canary rounds make any residual
# per-query delta attributable to code.
CANARY_RANGE_N = 500_000_000
CANARY_PARQUET = "/root/testdata/sf0.1/lineitem.parquet"


def run_canary(spark) -> float | None:
    """Returns the median probe time, or None (recorded as JSON null)
    when the frozen sf0.1 fixture is absent or the probe errors — the
    canary is diagnostic metadata and must never abort the bench itself
    (r11 ADVICE: a missing fixture previously tracebacked before any
    query ran and no JSON line was emitted at all)."""
    import os

    from pyspark.sql import functions as F

    if not os.path.exists(CANARY_PARQUET):
        return None

    def probe() -> None:
        spark.range(CANARY_RANGE_N).agg(F.sum("id")).write.format(
            "noop"
        ).mode("overwrite").save()
        spark.read.parquet(CANARY_PARQUET).agg(
            F.sum("l_quantity"), F.count("*")
        ).write.format("noop").mode("overwrite").save()

    try:
        probe()  # warm: codegen compile + parquet footer, excluded like all queries
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            probe()
            runs.append(time.perf_counter() - t0)
    except Exception:
        return None
    return round(sorted(runs)[1], 4)


N_RUNS = 3  # per-query warm repeats; ambient VM noise measured up to 1.5×
# on single runs (r3 driver bench vs same-code quiet-session reruns), so the
# recorded number is the best of N and the raw runs ship in "all_runs" to
# make the noise floor visible round-over-round.


def main() -> None:
    # Console progress bars ([Stage N:...] lines on stderr) are the other
    # consumer of the driver's 2000-char tail capture — off for the bench.
    spark = get_spark(
        "marketstream-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    canary_open = run_canary(spark)
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in names:
        # warm whole-stage-codegen for this plan shape at the smallest SF so
        # the timed run measures the query, not one-time JVM compilation
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        # best of N full runs: steady-state time, first-touch costs
        # (footer reads, broadcast builds) excluded like codegen above
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            # force full materialization of every row cheaply (noop sink)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
        timings[name] = min(runs)
        all_runs[name] = runs

    # Two sums, published side by side (r4 VERDICT item 2):
    #   value      = warm headline (best-of-N; cache-bearing queries measure
    #                steady-state / cache-hit latency — the repeat-consumer
    #                path the engine optimizes for)
    #   cold_total = COLD-SESSION SEQUENTIAL total: sum of each query's
    #                FIRST run at SF_DIR in headline order.  The session
    #                starts with empty generation caches, but LATER
    #                cache-bearing queries legitimately reuse generations
    #                populated by earlier ones (that cross-query sharing IS
    #                engine behavior) — so this is the cost of running the
    #                whole workload once cold, NOT a sum of isolated
    #                per-query cold times.  The 1M ETL/stream sections are
    #                cache-free by construction (fresh tempdir pipeline,
    #                clearCache before streaming) and identical in both sums.
    etl = bench_etl_1m(spark)
    total = sum(timings.values()) + etl["etl_1m_total"]
    cold_total = sum(r[0] for r in all_runs.values()) + etl["etl_1m_total"]
    timings.update(etl)
    spark.catalog.clearCache()  # streaming section starts from a clean heap
    stream = bench_stream_1m(spark)
    total += stream["stream_1m_total"]
    cold_total += stream["stream_1m_total"]
    timings.update(stream)

    # extras run LAST: measured per-round but outside both sums, and after
    # the 1M baseline-comparable sections so their cached frames and heap
    # churn cannot perturb those numbers (measured: running them first
    # inflated etl_1m/stream_1m ~2x)
    #
    # ...and the reverse perturbation is real too: the 1M sections leave
    # the old generation full, so extras otherwise measure GC pressure
    # instead of the op (bloom_contamination: 7.6 s here vs 1.1 s in an
    # extras-only replay of the identical query sequence).  Settle the
    # heap explicitly so the per-op numbers are attributable.
    spark.catalog.clearCache()
    spark._jvm.System.gc()
    time.sleep(2)
    extras: dict[str, float] = {}
    extras_split: dict[str, dict] = {}
    for name in (n for n in EXTRAS if n in qs):
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        if name in EXTRA_SETUP:
            setup_fn, cached = EXTRA_SETUP[name]
            # cached=False: time the SECOND setup run — a cold first
            # setup bundles JVM/codegen warm-up and over-attributes
            # (r7: cluster_profile's cold setup measured LONGER than its
            # warm query, recording op=0.0); the timed query re-pays the
            # WARM setup, so that is the comparable number.  cached=True:
            # a second run would be a cache hit (~0.1 s) and lose the
            # build-cost information, so the single cold build stands.
            if not cached:
                setup_fn(spark, SF_DIR)
            t0 = time.perf_counter()
            setup_fn(spark, SF_DIR)
            t_setup = round(time.perf_counter() - t0, 4)
        runs = []
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.perf_counter() - t0, 4))
        extras[name] = min(runs)
        if name in EXTRA_SETUP:
            extras_split[name] = {
                "setup": t_setup,
                "query": extras[name],
                # cached=True: setup lives in a generation cache, so the
                # timed query runs exclude it (op == query).  cached=False:
                # every run re-pays setup (op ≈ query − setup).
                "op": extras[name] if cached else round(
                    max(0.0, extras[name] - t_setup), 4
                ),
                "setup_cached_into_query": cached,
            }

    # TPC-H power run: one warm sequential pass over the full 22-query
    # suite (plus the top-k-per-group variant), reported as a single
    # composite so the OLAP join/agg surface has a stable round-over-round
    # number beyond the 5 headline picks.
    tpch_names = sorted(n for n in qs if n.startswith("tpch_q")) + [
        "top_parts_by_revenue"
    ]
    for name in tpch_names:  # codegen warm at the smallest SF
        qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    t0 = time.perf_counter()
    for name in tpch_names:
        qs[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    extras["tpch_power_total"] = round(time.perf_counter() - t0, 4)
    extras["tpch_power_queries"] = len(tpch_names)

    canary_close = run_canary(spark)
    canary = {"open": canary_open, "close": canary_close}

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only the LAST ~2000 chars of stdout and parses
    # the JSON line out of that window; round 6's line outgrew it (extras
    # + per-run triples) and the round recorded "parsed": null.  The
    # printed line therefore stays compact (contract keys + cold_total +
    # extras_total), and the full per-run/extras breakdown goes to
    # BENCH_DETAIL.json next to this script.
    detail = {
        "metric": "headline_total",
        "value": round(total, 4),
        "unit": "sec",
        "cold_total": round(cold_total, 4),
        "queries": timings,
        "sf": sf_val,
        "n_runs": N_RUNS,
        "all_runs": all_runs,
        "extras": extras,
        "extras_split": extras_split,
        "canary_seconds": canary,
    }
    # The committed round-close BENCH_DETAIL.json is the canary-adjudicated
    # artifact; ad-hoc and driver post-close runs must NOT clobber it in the
    # working tree (r12 VERDICT item 3).  Default to a timestamped /tmp path;
    # only --commit-detail (or SPARK_GRAFT_COMMIT_DETAIL=1) writes the repo
    # copy, so a driver bench run leaves `git status` clean.
    commit_detail = (
        "--commit-detail" in sys.argv
        or os.environ.get("SPARK_GRAFT_COMMIT_DETAIL") == "1"
    )
    if commit_detail:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
    else:
        detail_path = os.path.join(
            tempfile.gettempdir(),
            "BENCH_DETAIL_%s_%d.json"
            % (time.strftime("%Y%m%dT%H%M%S"), os.getpid()),
        )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    line = json.dumps(
        {
            "metric": "headline_total",
            "value": round(total, 4),
            "unit": "sec",
            "cold_total": round(cold_total, 4),
            "queries": timings,
            "sf": sf_val,
            "n_runs": N_RUNS,
            "extras_total": round(sum(extras.values()), 4),
            "canary_seconds": canary,
            "detail": detail_path,
        }
    )
    if len(line) > 1900:
        # Driver tail capture is 2000 chars: emit a trimmed-but-parsable
        # headline (drop per-query timings — they live in BENCH_DETAIL.json)
        # rather than crashing after the full run and losing the capture.
        # An explicit check, not `assert`, so `python -O` can't strip it.
        line = json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 4),
                "unit": "sec",
                "cold_total": round(cold_total, 4),
                "sf": sf_val,
                "n_runs": N_RUNS,
                "extras_total": round(sum(extras.values()), 4),
                "canary_seconds": canary,
                "detail": detail_path,
                "note": "queries dict trimmed: full line exceeded 1900 chars",
            }
        )
    # Stop the JVM BEFORE printing: nothing (stray executor log, GC note,
    # late stack trace) can land on the combined-output tail after the
    # headline line and push it out of the driver's 2000-char capture —
    # the r6/r8 near-miss class, closed structurally.
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
