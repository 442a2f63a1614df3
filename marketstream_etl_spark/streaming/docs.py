"""Streaming document pipelines — the STREAM-STATIC join axis of
Structured Streaming (every other streaming query here is stream-only or
stream-stream): documents replay as a bounded file-source stream and join
a STATIC broadcast side built batch-side from the same corpus generation.

The flagship is streaming contamination: the benchmark shingle set is
static (benchmarks change rarely); the corpus streams in as crawled.  At
100 TB the static side stays a broadcast of the (tiny) benchmark n-grams
and each micro-batch's overlap join is map-side — the same shape as the
batch operator, incrementalized for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.hashing import h32, shingles, tokens
from marketstream_etl_spark.plans import training_data as batch
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources.tables import stream_table


def file_stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of plans.training_data.q_contamination: corpus docs
    STREAM in, the benchmark shingle set is a STATIC broadcast built from
    the same table batch-side (dedup.shingle_pairs_cached — shared with
    the whole dedup family), and the overlap join + per-doc count run
    incrementally.  The final snapshot must equal the batch operator's
    output exactly, so the driver reuses the contamination oracle.

    Each document arrives WHOLE in one micro-batch row, so its overlap
    count is complete within its own batch — no cross-batch state is
    needed at all.  r8 moved this from an update-mode stateful
    aggregation + memory sink (a ~|docs|-key state store committed per
    batch, plus a driver-side sink holding every emission — measured
    152 s at the 52K-doc sf1 replay) to the foreachBatch partial
    accumulator (streaming/replay.py accumulate_stream): per batch one
    ordinary aggregation, partials summed at drain (a doc contributes
    to exactly one batch, so the sum IS its count).  An unbounded crawl
    gets state expiry for free — finished batches are just closed
    parquet partials.
    """
    from marketstream_etl_spark.operators.dedup import (
        SHINGLE_K,
        shingle_pairs_cached,
    )
    from marketstream_etl_spark.sources.tables import load_table
    from marketstream_etl_spark.streaming.replay import accumulate_stream

    is_bench = h32(F.col("doc_id").cast("string")) % 20 == 0

    # STATIC side: benchmark shingles from the shared batch pairs frame
    static_docs = load_table(spark, sf_dir, "documents")
    bench_shingles = (
        shingle_pairs_cached(static_docs)
        .filter(is_bench)
        .select("shingle")
        .distinct()
    )

    # STREAM side: raw non-benchmark docs; the shingle work happens
    # INSIDE foreachBatch where a checkpoint barrier is available —
    # explode over an un-materialized array expression re-evaluates the
    # whole tokenize→shingle→distinct chain once PER OUTPUT ROW
    # (projection collapse through GenerateExec; measured 2.2 s to build
    # the arrays vs 104 s through the collapsed explode at sf1, a ~43x =
    # shingles-per-doc blowup), so each batch pins the arrays first.
    docs = stream_table(spark, sf_dir, "documents").filter(~is_bench).select(
        "doc_id", "text"
    )

    def partial(batch: DataFrame) -> DataFrame:
        from marketstream_etl_spark.sources.tables import spread

        # spread: the file-source micro-batch arrives as ONE partition,
        # which would serialize the CPU-bound shingle map on one thread
        # (measured 45 s single-threaded vs ~2 s spread at the 52K-doc
        # sf1 replay)
        arrs = (
            spread(batch)
            .select("doc_id", tokens(F.col("text")).alias("_toks"))
            .select(
                "doc_id",
                F.array_distinct(shingles("_toks", k=SHINGLE_K)).alias("_sh"),
            )
            .localCheckpoint(eager=False)  # barrier: arrays compute ONCE
        )
        exploded = arrs.select(
            "doc_id",
            F.size("_sh").alias("n_shingles"),
            F.explode("_sh").alias("shingle"),
        )
        return (
            exploded.join(F.broadcast(bench_shingles), "shingle")
            .groupBy("doc_id", "n_shingles")
            .agg(F.count("*").alias("n_overlap"))
        )

    acc = accumulate_stream(
        spark,
        sf_dir,
        docs,
        "contamination_acc",
        partial,
        key_cols=["doc_id", "n_shingles"],
        merge_exprs=[F.sum("n_overlap").alias("n_overlap")],
    )
    return (
        acc
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.col("n_shingles").cast("double"), 4
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


# stream-static contamination must converge to the batch operator
register("streaming_contamination", file_stream_contamination, batch.CONTAMINATION_SQL)


def file_stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online vector indexing — the streaming half of the IVF story:
    embeddings STREAM in and are assigned to their nearest coarse-codebook
    bucket map-side; one streaming aggregate keeps the index's bucket
    occupancy (count, min id, inertia) live.  This is how a 100 TB
    deployment watches ingest skew: a bucket running hot means the
    codebook has drifted and retraining is due.

    The codebook is the deterministic sample (first C vec_ids, the
    ann_ivf convention), collected batch-side ONCE — driver-sized by the
    same contract as kmeans — and entering the streaming plan as
    literals, so per-row assignment needs no join at all (Euclidean
    argmin, the kmeans _assign expression; batch IVF search uses cosine —
    both are standard coarse quantizers).
    """
    from marketstream_etl_spark.operators.similarity import (
        N_CENTROIDS,
        _assign,
        _dvec,
    )
    from marketstream_etl_spark.sources.tables import load_table
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    static = load_table(spark, sf_dir, "embeddings")
    cents = {
        int(r["vec_id"]): list(r["v"])
        for r in static.filter(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", _dvec(F.col("embedding")).alias("v"))
        .collect()
    }

    base = stream_table(spark, sf_dir, "embeddings").select(
        "vec_id", _dvec(F.col("embedding")).alias("v")
    )
    occ = (
        _assign(base, cents)
        .groupBy(F.col("cid").alias("bucket"))
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            # same rounding contract as kmeans_train's inertia
            F.round(F.sum("dist"), 4).alias("inertia"),
        )
    )
    final = drain_to_memory(
        occ, "stream_ivf_assign", sf_dir, output_mode="complete"
    )
    return final.orderBy("bucket")


def file_stream_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of plans.training_data.q_token_drift: documents
    stream in and per-(source, token) counts accumulate incrementally
    (update mode); the chi-square drift statistic is computed on the
    final count snapshot through the SAME shared core
    (training_data.chi2_by_source), so the replayed stream's statistic
    equals the batch operator's exactly and the driver reuses the
    token_drift oracle.

    Scale/production shape: the incremental aggregation state is the
    live (source, token) count map — the natural streaming-drift
    deployment keys it by (crawl window, source, token) with a watermark
    so finished windows emit their statistic and expire; the bounded
    replay here is that pipeline's single-window case."""
    from marketstream_etl_spark.plans.training_data import chi2_by_source
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    docs = stream_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = toks.groupBy("source", "token").agg(F.count("*").alias("c"))
    emitted = drain_to_memory(
        counts, "stream_token_drift", sf_dir, output_mode="update"
    )
    # final snapshot: counts grow monotonically across replayed batches.
    # localCheckpoint truncates lineage to a fresh-id leaf: the memory-sink
    # View is not a MultiInstanceRelation, so the chi2 core's self-joins
    # would otherwise die in DeduplicateRelations (INTERNAL_ERROR,
    # conflicting attribute ids).  The checkpointed frame is the V-bounded
    # final count map — small by construction.
    per = (
        emitted.groupBy("source", "token")
        .agg(F.max("c").alias("c"))
        .localCheckpoint(eager=False)
    )
    return chi2_by_source(per)


# streaming twin shares the batch core (chi2_by_source), so the final
# replayed snapshot must equal the batch statistic exactly
register("streaming_token_drift", file_stream_token_drift, batch.TOKEN_DRIFT_SQL)


def file_stream_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming calibration monitor: documents stream in, each
    micro-batch is scored by the stream-safe quality scorer
    (plans/training_data.scored_from_raw — one map-only projection,
    bit-identical to the batch cached-frame path), and the (bin, n,
    n_pos, conf_sum_e6) histogram runs as a real complete-mode streaming
    aggregation (bounded CAL_N_BINS-row state).  The reliability report
    is computed from the drained final state through the SAME integer
    core as the batch query (calibration_from_counts), so on bounded
    replay the streamed ECE/MCE and verdict are bit-identical to batch
    calibration_ece and the driver reuses its oracle.

    This is the live-quality-gate shape: a production filter scores docs
    as they arrive; the calibration dashboard reads the 10-row sink, not
    the corpus."""
    from marketstream_etl_spark.plans.training_data import (
        _calibration_counts,
        calibration_from_counts,
        scored_from_raw,
    )
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    docs = stream_table(spark, sf_dir, "documents")
    grp = _calibration_counts(scored_from_raw(docs))
    state = drain_to_memory(
        grp, "stream_calibration", sf_dir, output_mode="complete"
    )
    # lineage-truncate the memory-sink view before the core's spine join
    # (same DeduplicateRelations guard as file_stream_token_drift)
    return calibration_from_counts(spark, state.localCheckpoint(eager=False))


# streaming twins drain their complete-mode histograms into the
# shared integer cores, so they reuse the batch oracles
register("streaming_calibration", file_stream_calibration, batch.CALIBRATION_ECE_SQL)


def file_stream_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ROC-AUC monitor — the calibration twin's ranking
    companion: documents stream in, each micro-batch is scored by the
    stream-safe scorer, and the (bucket, a, c) e3-grid histogram runs as
    a complete-mode streaming aggregation (bounded <= 1001-row state).
    The AUC is computed from the drained final state through the SAME
    exact-integer midrank core as the batch query
    (plans/training_data.roc_from_counts), so on bounded replay the
    streamed AUC/Gini are bit-identical to batch roc_auc and the driver
    reuses its oracle."""
    from marketstream_etl_spark.plans.training_data import (
        _roc_counts,
        roc_from_counts,
        scored_from_raw,
    )
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    docs = stream_table(spark, sf_dir, "documents")
    grp = _roc_counts(scored_from_raw(docs))
    state = drain_to_memory(
        grp, "stream_roc", sf_dir, output_mode="complete"
    )
    # lineage-truncate before the core's triangular self-join (same
    # DeduplicateRelations guard as file_stream_token_drift)
    return roc_from_counts(spark, state.localCheckpoint(eager=False))


register("streaming_roc", file_stream_roc, batch.ROC_AUC_SQL)


def file_stream_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-drift monitor — the live index-health view of
    q_embedding_drift: embeddings stream in, each micro-batch explodes
    map-side into (snap, dim, bucket) cells, and the histogram runs as a
    complete-mode streaming aggregation (bounded 2 x dims x buckets
    state).  The per-dim PSI report is computed from the drained final
    state through the SAME fixed-point core as the batch query
    (training_data.emb_drift_from_counts), so on bounded replay the
    streamed report is bit-identical to batch embedding_drift and the
    driver reuses its oracle."""
    from marketstream_etl_spark.plans.training_data import (
        _emb_drift_counts,
        emb_drift_from_counts,
    )
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    emb = stream_table(spark, sf_dir, "embeddings")
    grp = _emb_drift_counts(emb)
    state = drain_to_memory(
        grp, "stream_emb_drift", sf_dir, output_mode="complete"
    )
    # lineage-truncate before the core's spine joins (DeduplicateRelations
    # guard, same as the other drained-state twins)
    return emb_drift_from_counts(spark, state.localCheckpoint(eager=False))


register(
    "streaming_embedding_drift", file_stream_embedding_drift, batch.EMBEDDING_DRIFT_SQL
)


def file_stream_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Information-Value monitor — the fourth streaming member
    of the classifier-evaluation family (ROC ranks, calibration checks
    honesty, IV localizes per-bin signal): stream-safe scoring per
    micro-batch, complete-mode (bin, a, c) histogram (bounded CAL_N_BINS
    state), drained into the shared clamped-share fixed-point core
    (training_data.iv_from_counts) — bit-identical to batch
    information_value on bounded replay, shared oracle."""
    from marketstream_etl_spark.plans.training_data import (
        _iv_counts,
        iv_from_counts,
        scored_from_raw,
    )
    from marketstream_etl_spark.streaming.replay import drain_to_memory

    docs = stream_table(spark, sf_dir, "documents")
    grp = _iv_counts(scored_from_raw(docs))
    state = drain_to_memory(
        grp, "stream_iv", sf_dir, output_mode="complete"
    )
    return iv_from_counts(spark, state.localCheckpoint(eager=False))


register("streaming_iv", file_stream_iv, batch.INFORMATION_VALUE_SQL)
