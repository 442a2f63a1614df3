"""Training-data pipeline queries (north-star surface): dedup, similarity
search, text analysis, multimodal — (spark, sf_dir) -> DataFrame wrappers
over the operators, each registered with its DuckDB oracle SQL right after
the function (``registry.register``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.hashing import h32_sql, shingles_sql, tokens_sql
from marketstream_etl_spark.functions.topk import top_k_per_key
from marketstream_etl_spark.operators import (
    dedup,
    fusion,
    graph,
    lm,
    novelty,
    relevance,
    similarity,
    sketch,
    text,
    winnow,
)
from marketstream_etl_spark.operators.multimodal import (
    extract_features,
    media_from_documents,
    media_metadata,
)
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.sources import binary_assets, formats
from marketstream_etl_spark.sources.tables import (
    load_table,
    spread,
    table_row_count,
)


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality + token counts + fingerprint, one map pass.
    Unordered by design (see analyze_documents) — the driver compare is
    order-insensitive.  Generation-cached: the curation pipeline reads the
    same persisted frame."""
    return text.analyzed_documents_cached(
        load_table(spark, sf_dir, "documents")
    )


register(
    "text_analysis", q_text_analysis, text.analyze_documents_sql() + " ORDER BY doc_id"
)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/phones → placeholders) with found-counts and a
    redacted-text checksum; deterministic PII is injected first (the docs
    are synthetic) so the redactor is provably exercised — see
    operators/text.inject_pii for the contract."""
    docs = load_table(spark, sf_dir, "documents")
    return text.redact_pii(text.inject_pii(docs))


register("pii_redaction", q_pii_redaction, text.pii_redaction_sql())


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style within-document repetition rule: duplicate-3gram
    fraction + the drop flag a quality pipeline would apply."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    # tokens bound once (repetition_ratio reads them per shingle); the
    # ratio projected once, both output columns read the named column
    scored = docs.select("doc_id", tokens(F.col("text")).alias("_toks")).select(
        "doc_id", text.repetition_ratio("_toks").alias("rep")
    )
    return scored.select(
        "doc_id",
        F.round("rep", 6).alias("rep_3gram"),
        (F.col("rep") >= 0.2).alias("flag_repetitive"),
    )


DOC_REPETITION_SQL = f"""
            SELECT doc_id, round(rep, 6) AS rep_3gram,
                   (rep >= 0.2) AS flag_repetitive
            FROM (SELECT doc_id, {text.repetition_sql('text')} AS rep
                  FROM documents)
            ORDER BY doc_id
        """
register("doc_repetition", q_doc_repetition, DOC_REPETITION_SQL)


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token heavy hitters: exact top-20 with the sketch
    estimates and the CMS error-bound flag (operators/sketch.py — the
    fixed-size, map-side-mergeable alternative to a full vocabulary
    shuffle at corpus scale)."""
    return sketch.cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


register("cms_heavy_hitters", q_cms_heavy_hitters, sketch.CMS_HEAVY_HITTERS_SQL)


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: normalized-content md5 fingerprint groupBy."""
    return dedup.exact_dedup_groups(
        load_table(spark, sf_dir, "documents")
    )


register(
    "dedup_exact_docs",
    q_dedup_exact_docs,
    dedup.EXACT_DEDUP_SQL + " ORDER BY fingerprint",
)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-Jaccard near-dup pairs via the DF-capped inverted index."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


register("dedup_ngram_jaccard", q_dedup_ngram_jaccard, dedup.NGRAM_JACCARD_SQL)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.py::
    containment_pairs): the quote/excerpt dedup signal — small doc >= 70%
    embedded in a larger one — filtered by exact integer
    cross-multiplication over the shared DF-capped inverted index."""
    return dedup.containment_pairs(load_table(spark, sf_dir, "documents"))


register("containment_pairs", q_containment_pairs, dedup.CONTAINMENT_PAIRS_SQL)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs; exact-Jaccard verify on candidates only."""
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


register("dedup_minhash_lsh", q_dedup_minhash_lsh, dedup.minhash_lsh_pairs_sql())


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash signatures (weighted token signs)."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


register("simhash", q_simhash, dedup.simhash_sql() + " ORDER BY doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs: pigeonhole byte-chunk equi-join on the 32-bit signature."""
    # footer row count = free planner hint → no eager counting job
    return dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"),
        approx_docs=table_row_count(sf_dir, "documents"),
    )


register("simhash_pairs", q_simhash_pairs, dedup.simhash_near_pairs_sql())


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector (the ANN correctness baseline)."""
    return similarity.ann_bruteforce(load_table(spark, sf_dir, "embeddings"))


register("ann_bruteforce", q_ann_bruteforce, similarity.ann_bruteforce_sql())


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k: broadcast centroids, nprobe bucket probe."""
    return similarity.ann_ivf(load_table(spark, sf_dir, "embeddings"))


register("ann_ivf", q_ann_ivf, similarity.ann_ivf_sql())


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the bounded demo block."""
    return similarity.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings")
    )


register(
    "embedding_neardup", q_embedding_neardup, similarity.embedding_neardup_pairs_sql()
)


def _gate_rows() -> int:
    """Footer row count of the sf0.01 embeddings table the oracles run on.
    Read on first use, so importing this module reads no files."""
    return table_row_count("/root/testdata/sf0.01", "embeddings")


def q_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide near-dup via IVF buckets (scale path; see operator).
    The footer row count sizes the codebook so buckets stay ~constant."""
    return similarity.embedding_neardup_ivf(
        load_table(spark, sf_dir, "embeddings"),
        approx_rows=table_row_count(sf_dir, "embeddings"),
    )


# codebook size derives from the gate SF's footer row count on
# BOTH sides, so Spark and the oracle bucket identically
register(
    "embedding_neardup_ivf",
    q_embedding_neardup_ivf,
    lambda: similarity.embedding_neardup_ivf_sql(approx_rows=_gate_rows()),
)


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/test split (the reproducible
    alternative to randomSplit for training corpora): bucket = md5(doc_id)
    mod 100; < 80 → train, < 90 → val, else test.  Stable under reruns,
    repartitioning, and engine choice — asserted by the oracle."""
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


TRAIN_TEST_SPLIT_SQL = """
            WITH b AS (
                SELECT doc_id,
                    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 100 AS bucket
                FROM documents
            )
            SELECT CASE WHEN bucket < 80 THEN 'train'
                        WHEN bucket < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*) AS n_docs, min(doc_id) AS first_doc
            FROM b GROUP BY 1 ORDER BY split
        """
register("train_test_split", q_train_test_split, TRAIN_TEST_SPLIT_SQL)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: up to 50 docs per lang, chosen by
    hash rank (not rand()) so the sample is reproducible and shardable.
    One shuffle on lang."""
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "lang", h32(F.col("doc_id").cast("string")).alias("_h")
    )
    return (
        top_k_per_key(hashed, "lang", [F.col("_h"), F.col("doc_id")], 50)
        .select("lang", "doc_id", F.col("rank").alias("sample_rank"))
        .orderBy("lang", "sample_rank")
    )


STRATIFIED_SAMPLE_SQL = """
            WITH ranked AS (
                SELECT doc_id, lang,
                    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS _h,
                    row_number() OVER (PARTITION BY lang
                        ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS
                        VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rk
                FROM documents
            )
            SELECT lang, doc_id, CAST(rk AS INTEGER) AS sample_rank
            FROM ranked WHERE rk <= 50 ORDER BY lang, sample_rank
        """
register("stratified_sample", q_stratified_sample, STRATIFIED_SAMPLE_SQL)


QUALITY_MIN = 0.30


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus curation pipeline, composed from the
    north-star operators:

      1. quality gate  : keep docs with quality_score >= 0.30
      2. exact dedup   : keep the min doc_id per content fingerprint
      3. near-dup prune: drop the higher doc_id of every MinHash-LSH pair
      4. report        : per predicted lang, surviving docs + token volume

    Everything stays declarative: the lineage is quality-filter →
    groupBy-dedup → anti-join (LSH pairs) → groupBy report; three shuffles
    total at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    # generation-cached analysis frame (shared with q_text_analysis);
    # both quality consumers below filter from the cache, so no extra
    # call-local persist is needed
    analyzed = text.analyzed_documents_cached(docs)
    quality = analyzed.filter(F.col("quality_score") >= QUALITY_MIN)

    keep_exact = quality.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id")
    )
    survivors = quality.join(keep_exact, ["fingerprint", "doc_id"], "left_semi")

    near_pairs = dedup.minhash_lsh_pairs(docs)
    drop_b = near_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    final = survivors.join(drop_b, "doc_id", "left_anti")

    return (
        final.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe_ish_tokens").alias("total_tokens"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        )
    )


CORPUS_CURATION_SQL = f"""
            WITH analyzed AS ({text.analyze_documents_sql()}),
            quality AS (
                SELECT * FROM analyzed WHERE quality_score >= 0.30
            ),
            keep_exact AS (
                SELECT fingerprint, min(doc_id) AS doc_id
                FROM quality GROUP BY 1
            ),
            survivors AS (
                SELECT q.* FROM quality q
                JOIN keep_exact k
                  ON q.fingerprint = k.fingerprint AND q.doc_id = k.doc_id
            ),
            lsh AS (SELECT * FROM ({dedup.minhash_lsh_pairs_sql()})),
            drop_b AS (SELECT DISTINCT doc_b AS doc_id FROM lsh),
            final AS (
                SELECT * FROM survivors
                WHERE doc_id NOT IN (SELECT doc_id FROM drop_b)
            )
            SELECT lang_pred, count(*) AS n_docs,
                   CAST(sum(bpe_ish_tokens) AS BIGINT) AS total_tokens,
                   round(avg(quality_score), 6) AS avg_quality
            FROM final GROUP BY 1 ORDER BY lang_pred
        """
register("corpus_curation", q_corpus_curation, CORPUS_CURATION_SQL)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: recall@5 of the IVF index against the exact
    brute-force ranking, per query — the quality metric a 100 TB similarity
    deployment watches."""
    emb = load_table(spark, sf_dir, "embeddings")
    # referenced by both `hits` and `totals` — ONE brute-force pass,
    # served from the per-corpus-generation ground-truth cache
    # (similarity.ann_bruteforce_gt_cached) shared by every recall
    # probe, so repeat audits over the same corpus never re-scan.
    exact = similarity.ann_bruteforce_gt_cached(emb).select(
        "query_id", F.col("neighbor_id").alias("exact_n")
    )
    approx = similarity.ann_ivf(emb).select(
        "query_id", F.col("neighbor_id").alias("approx_n")
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id)
        & (exact.exact_n == approx.approx_n),
    ).groupBy(exact.query_id).agg(F.count("*").alias("hits"))
    totals = exact.groupBy("query_id").agg(F.count("*").alias("k"))
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("k"), 6
            ).alias("recall_at_5"),
        )
    )


ANN_IVF_RECALL_SQL = f"""
            WITH exact AS (
                SELECT query_id, neighbor_id FROM ({similarity.ann_bruteforce_sql()})
            ),
            approx AS (
                SELECT query_id, neighbor_id FROM ({similarity.ann_ivf_sql()})
            ),
            hits AS (
                SELECT e.query_id, count(*) AS hits
                FROM exact e JOIN approx a
                  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
                GROUP BY 1
            ),
            totals AS (SELECT query_id, count(*) AS k FROM exact GROUP BY 1)
            SELECT t.query_id,
                   round(coalesce(h.hits, 0) / t.k, 6) AS recall_at_5
            FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
            ORDER BY t.query_id
        """
register("ann_ivf_recall", q_ann_ivf_recall, ANN_IVF_RECALL_SQL)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH near-dup pairs: one row per
    duplicate cluster (representative = min doc_id, member count) — the
    iterative-algorithm surface (driver-bounded label propagation)."""
    pairs = dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
    return dedup.cluster_report(pairs)


# connected components via recursive transitive closure — the
# LSH near-dup graph is tiny, so full closure is fine oracle-side;
# Spark side converges by iterative min-label propagation.
DEDUP_CLUSTERS_SQL = f"""
            WITH RECURSIVE pairs AS MATERIALIZED ({dedup.minhash_lsh_pairs_sql()}),
            edges AS MATERIALIZED (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            reach(id, lab) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.id
            ),
            comp AS (SELECT id, min(lab) AS cluster_rep FROM reach GROUP BY id)
            SELECT cluster_rep, count(*) AS n_docs, max(id) AS max_doc
            FROM comp GROUP BY cluster_rep ORDER BY cluster_rep
        """
register("dedup_clusters", q_dedup_clusters, DEDUP_CLUSTERS_SQL)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-UDF decode plumbing over binary payloads.  The stub decoder
    (operators/multimodal._fake_decode) folds payload bytes into 8
    accumulators — deterministic integer arithmetic over ASCII payloads, so
    DuckDB reproduces it byte-for-byte and the mapInPandas plumbing is
    hash-checked end to end.  Feature dims are projected to rounded scalar
    columns for stable cross-engine hashing."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        *[
            F.round(F.element_at("feature", i + 1), 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


# multimodal_features: the stub decoder is acc[i%8] += byte over the
# ASCII payload then /= total — exact integer sums in doubles, so the
# DuckDB replay hash-matches the mapInPandas path bit for bit.
MULTIMODAL_FEATURES_SQL = """
            WITH pos AS (
                -- uncorrelated series (DuckDB can't lateral-join
                -- generate_series on a column); docs are < 4096 bytes
                SELECT i FROM generate_series(0, 4095) s(i)
            ),
            bytes AS (
                -- byte-exact: byte i of the utf-8 payload via hex-string
                -- slicing (DuckDB lacks blob subscripting/md5(blob)), so
                -- this matches Spark's encode(text) even for non-ASCII
                SELECT doc_id AS media_id,
                       (pos.i % 8) AS dim,
                       CAST(('0x' || substr(hex(encode(text)),
                            CAST(pos.i * 2 + 1 AS INTEGER), 2)) AS INTEGER) AS b
                FROM documents, pos
                WHERE pos.i < octet_length(encode(text))
            ),
            acc AS (
                SELECT media_id, dim, CAST(sum(b) AS DOUBLE) AS a
                FROM bytes GROUP BY 1, 2
            ),
            feat AS (
                SELECT media_id,
                       round(max(CASE WHEN dim = 0 THEN a END) / sum(a), 6) AS f0,
                       round(max(CASE WHEN dim = 1 THEN a END) / sum(a), 6) AS f1,
                       round(max(CASE WHEN dim = 2 THEN a END) / sum(a), 6) AS f2,
                       round(max(CASE WHEN dim = 3 THEN a END) / sum(a), 6) AS f3,
                       round(max(CASE WHEN dim = 4 THEN a END) / sum(a), 6) AS f4,
                       round(max(CASE WHEN dim = 5 THEN a END) / sum(a), 6) AS f5,
                       round(max(CASE WHEN dim = 6 THEN a END) / sum(a), 6) AS f6,
                       round(max(CASE WHEN dim = 7 THEN a END) / sum(a), 6) AS f7
                FROM acc GROUP BY media_id
            )
            SELECT d.doc_id AS media_id,
                   CASE WHEN d.doc_id % 3 = 0 THEN 'png'
                        WHEN d.doc_id % 3 = 1 THEN 'jpeg'
                        ELSE 'wav' END AS media_type,
                   CAST(octet_length(encode(d.text)) AS INTEGER) AS n_bytes,
                   f.f0, f.f1, f.f2, f.f3, f.f4, f.f5, f.f6, f.f7
            FROM documents d JOIN feat f ON f.media_id = d.doc_id
            ORDER BY media_id
        """
register("multimodal_features", q_multimodal_features, MULTIMODAL_FEATURES_SQL)


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side binary metadata (length/checksum/magic sniff) — oracle-able."""
    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    return media_metadata(media)


# multimodal_metadata: payload bytes are the utf-8 text, so DuckDB
# computes the same metadata from the string directly (strlen = byte
# length; md5 hashes the utf-8 bytes in both engines).
MULTIMODAL_METADATA_SQL = """
            SELECT doc_id AS media_id,
                CASE WHEN doc_id % 3 = 0 THEN 'png'
                     WHEN doc_id % 3 = 1 THEN 'jpeg'
                     ELSE 'wav' END AS media_type,
                CAST(strlen(text) AS INTEGER) AS n_bytes,
                md5(text) AS checksum,
                CASE WHEN hex(encode(substr(text, 1, 4))) = '52494646' THEN 'wav'
                     WHEN hex(encode(substr(text, 1, 4))) = '47494638' THEN 'gif'
                     WHEN hex(encode(substr(text, 1, 3))) = 'FFD8FF' THEN 'jpeg'
                     WHEN hex(encode(substr(text, 1, 4))) = '89504E47' THEN 'png'
                     ELSE 'unknown' END AS sniffed_type
            FROM documents ORDER BY media_id
        """
register("multimodal_metadata", q_multimodal_metadata, MULTIMODAL_METADATA_SQL)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-to-N frame sampling (mapInPandas fan-out). The stub slicer is
    deterministic byte arithmetic, so the oracle hash-checks the plumbing
    itself: row multiplicity, slice boundaries, and payload content."""
    from marketstream_etl_spark.operators.multimodal import sample_frames

    media = media_from_documents(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, n_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("checksum"),
    )


# frame sampling: char slices == byte slices ONLY for ASCII corpora
# (this DuckDB has no md5(blob), so the checksum must hash VARCHAR);
# tests/test_multimodal.py::test_corpus_is_ascii guards the
# precondition loudly if regenerated testdata ever breaks it.
# min doc length 48 → k is always 4 frames of n//4 bytes.
MULTIMODAL_FRAMES_SQL = """
            WITH media AS (
                SELECT doc_id AS media_id, text,
                       strlen(text) // 4 AS step
                FROM documents
            )
            SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
                   CAST(step AS INTEGER) AS frame_bytes,
                   md5(substr(text, i * step + 1, step)) AS checksum
            FROM media, generate_series(0, 3) s(i)
            ORDER BY media_id, frame_idx
        """
register("multimodal_frames", q_multimodal_frames, MULTIMODAL_FRAMES_SQL)


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-corpus health stats (counts, norms, centroid norm)."""
    return similarity.embedding_stats(load_table(spark, sf_dir, "embeddings"))


register("embedding_stats", q_embedding_stats, similarity.embedding_stats_sql())


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-50 tokens by total frequency,
    with document frequency alongside.

    Classic skewed-key workload ("the" dominates): the distinct-doc count
    plans as the standard two-phase aggregate — partial collapse on
    (token, doc_id) map-side, then the per-token roll-up — so no reducer
    ever sees raw exploded rows, and the final top-k compiles to
    TakeOrderedAndProject, not a global sort.  At 100 TB this is the
    standard vocab-building pass; nothing here is per-row Python."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), "token")
        .limit(50)
    )


VOCAB_TOPK_SQL = f"""
            WITH toks AS (
                SELECT doc_id, unnest({tokens_sql("text")}) AS token
                FROM documents
            )
            SELECT token, count(*) AS n_total,
                   count(DISTINCT doc_id) AS n_docs
            FROM toks GROUP BY token
            ORDER BY n_total DESC, token LIMIT 50
        """
register("vocab_topk", q_vocab_topk, VOCAB_TOPK_SQL)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word-3-gram overlap between every
    corpus document and a held-out "benchmark" slice (deterministic 1-in-20
    of docs by md5 of doc_id).

    Scale shape: the benchmark shingle set is tiny relative to the corpus →
    broadcast it and the overlap join is map-side (no shuffle of the corpus
    side); per-doc overlap counts then aggregate on doc_id, which is
    uniformly distributed.  This is the n-gram-decontamination pass every
    eval-safe training pipeline runs.

    Derives from the dedup family's SHARED persisted (doc_id, shingle)
    frame (dedup.shingle_pairs_cached — same k, same tokenization, already
    distinct per doc), so a curation run that already deduped the corpus
    pays nothing extra to tokenize it again here."""
    from marketstream_etl_spark.functions.cachegen import scan_coalesce
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    # contamination is SCAN-bound over the shared pairs cache (no per-row
    # hashing beyond one md5 filter), so size the read parallelism to the
    # data: the cache is built at defaultParallelism for the CPU-bound
    # dedup consumers, but reading 32 near-empty partitions here costs
    # ~0.5 s of pure task scheduling at sf0.1 (the r5 bench regression,
    # pinned by measurement: coalesce(1) restored the r4 time with zero
    # plan change).  The clamp makes this a no-op at large inputs.
    pairs = scan_coalesce(
        dedup.shingle_pairs_cached(docs), docs
    )
    is_bench = h32(F.col("doc_id").cast("string")) % 20 == 0
    bench_shingles = (
        pairs.filter(is_bench).select("shingle").distinct()
    )
    # ONE scan of the corpus side: a broadcast LEFT join with a hit marker
    # folds the per-doc size count and the overlap count into the same
    # aggregation (pairs are distinct per doc and bench_shingles is
    # distinct, so join multiplicity is exactly 1 and count(*) is still
    # the doc's shingle count).  r5 shipped this as sizes-agg + overlap-agg
    # + join — three scans of the shared pairs cache and an extra shuffle —
    # which regressed the warm bench 0.44→0.96 s; this single-pass shape
    # restores it without giving up the shared shingle_pairs generation.
    corpus = pairs.filter(~is_bench)
    overlap = (
        corpus.join(
            F.broadcast(bench_shingles.withColumn("_hit", F.lit(1))),
            "shingle",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)  # inner-join semantics preserved
    )
    return (
        overlap.select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.col("n_shingles").cast("double"), 4
            ).alias("contamination"),
        )
    )


CONTAMINATION_SQL = f"""
            WITH sh AS (
                SELECT doc_id,
                    {h32_sql("CAST(doc_id AS VARCHAR)")} % 20 = 0 AS is_bench,
                    list_distinct({shingles_sql(tokens_sql("text"), dedup.SHINGLE_K)}) AS s
                FROM documents
            ),
            bench AS (
                SELECT DISTINCT unnest(s) AS sh FROM sh WHERE is_bench
            ),
            corpus AS (
                SELECT doc_id, len(s) AS n_shingles, unnest(s) AS sh
                FROM sh WHERE NOT is_bench
            )
            SELECT doc_id, any_value(n_shingles) AS n_shingles,
                   count(*) AS n_overlap,
                   round(count(*) / CAST(any_value(n_shingles) AS DOUBLE), 4)
                       AS contamination
            FROM corpus JOIN bench USING (sh)
            GROUP BY doc_id ORDER BY doc_id
        """
register("contamination", q_contamination, CONTAMINATION_SQL)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle + streaming sequence packing.

    Training pipelines need (a) a reproducible global shuffle of documents
    and (b) packing shuffled docs into fixed token budgets.  Both are pure
    window arithmetic: shuffle key = md5('pack42:' || doc_id) (engine-
    independent), 8 independent packer lanes keyed by doc-id hash, and
    bin = floor(preceding-cumsum / 2048) inside each lane — the cumulative
    sum IS the packer, so there is no sequential driver loop; each lane
    sorts only its own slice (at 100 TB: one range-partitioned sort per
    lane, fully parallel)."""
    from marketstream_etl_spark.functions.hashing import h32, tokens
    from pyspark.sql import Window

    budget = 2048
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        (h32(F.col("doc_id").cast("string")) % 8).alias("lane"),
        F.md5(F.concat(F.lit("pack42:"), F.col("doc_id").cast("string"))).alias(
            "_sk"
        ),
    )
    w = (
        Window.partitionBy("lane")
        .orderBy("_sk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = docs.withColumn(
        "bin",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ),
    )
    return (
        packed.groupBy("lane", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


SEQUENCE_PACKING_SQL = f"""
            WITH docs AS (
                SELECT doc_id,
                    len({tokens_sql("text")}) AS n_tokens,
                    {h32_sql("CAST(doc_id AS VARCHAR)")} % 8 AS lane,
                    md5('pack42:' || CAST(doc_id AS VARCHAR)) AS sk
                FROM documents
            ),
            packed AS (
                SELECT lane,
                    CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2048.0)
                         AS BIGINT) AS bin,
                    n_tokens
                FROM docs
                WINDOW w AS (PARTITION BY lane ORDER BY sk
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT lane, bin, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM packed GROUP BY lane, bin ORDER BY lane, bin
        """
register("sequence_packing", q_sequence_packing, SEQUENCE_PACKING_SQL)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into overlapping
    fixed-token windows (size 64, stride 48), the standard pre-tokenization
    pass for LLM training shards.

    One generate per row — tokens are projected once, the chunk starts come
    from `sequence`, and `slice` + `concat_ws` build each window, all
    JVM-side inside the scan stage (no shuffle until the final order-by).
    1-to-N fan-out scales with output size, not document count, and no
    chunk ever crosses a row boundary so partitioning is embarrassing."""
    from marketstream_etl_spark.functions.hashing import tokens

    size_, stride = 64, 48
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("_tk")
    )
    n = F.size("_tk")
    chunks = docs.filter(n > 0).select(
        "doc_id",
        "_tk",
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n - 1, F.lit(stride))).alias("_s"),
    )
    chunk_text = F.concat_ws(
        " ", F.slice(F.col("_tk"), F.col("_s") + 1, size_)
    )
    return chunks.select(
        "doc_id",
        (F.col("_s") / stride).cast("int").alias("chunk_idx"),
        F.least(F.lit(size_), F.col("_n") - F.col("_s")).alias(
            "n_chunk_tokens"
        ),
        F.md5(chunk_text).alias("checksum"),
    )


CHUNK_DOCUMENTS_SQL = f"""
            WITH toks AS (
                SELECT doc_id, {tokens_sql("text")} AS tk FROM documents
            ),
            chunks AS (
                SELECT doc_id, len(tk) AS n, tk,
                       unnest(range(0, len(tk), 48)) AS s
                FROM toks WHERE len(tk) > 0
            )
            SELECT doc_id,
                   CAST(s // 48 AS INTEGER) AS chunk_idx,
                   CAST(least(64, n - s) AS INTEGER) AS n_chunk_tokens,
                   md5(array_to_string(tk[s+1 : s+64], ' ')) AS checksum
            FROM chunks ORDER BY doc_id, chunk_idx
        """
register("chunk_documents", q_chunk_documents, CHUNK_DOCUMENTS_SQL)


def q_udtf_doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (operators/udtf_ops.py): top-3 terms per document via a
    LATERAL table function — the user-extension point of SURVEY §2.9.  The
    oracle re-derives the same rows relationally (unnest + count +
    row_number), proving the imperative expansion exact."""
    from marketstream_etl_spark.operators.udtf_ops import doc_top_terms

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return doc_top_terms(spark, docs)


# the UDTF's imperative expansion re-derived relationally
UDTF_DOC_TERMS_SQL = """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents
            ),
            counts AS (
                SELECT doc_id, term, count(*) AS cnt
                FROM toks GROUP BY doc_id, term
            ),
            ranked AS (
                SELECT doc_id, term, cnt,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, term)
                           AS term_rank
                FROM counts
            )
            SELECT doc_id, term, cnt, term_rank FROM ranked
            WHERE term_rank <= 3 ORDER BY doc_id, term_rank
        """
register("udtf_doc_terms", q_udtf_doc_terms, UDTF_DOC_TERMS_SQL)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted subsampling — the training-mix step that up/down-
    weights corpora before tokenization (e.g. keep 5% of src0 but 100%
    of src19).  The keep decision is a pure hash threshold,
    h32('mix' || doc_id) % 1000 < weight*1000, so it is (a) embarrassingly
    parallel with no RNG state to coordinate across executors and (b)
    reproduced bit-for-bit by the DuckDB oracle — the determinism
    convention of functions/hashing.py applied to sampling.

    Output is the mix report: per source, input docs, kept docs, and kept
    chars (the token-budget proxy)."""
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    weight_pm = (
        F.regexp_extract("source", r"src(\d+)", 1).cast("int") + 1
    ) * 50  # src0 -> 50/1000 ... src19 -> 1000/1000 (20 sources)
    bucket = h32(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))) % 1000
    keep = bucket < weight_pm
    return (
        docs.withColumn("keep", keep)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(
                F.when(F.col("keep"), F.col("n_chars")).otherwise(0)
            ).alias("chars_kept"),
        )
    )


# identical md5 threshold -> bit-identical sample membership
WEIGHTED_SAMPLE_SQL = """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN
                       CAST(('0x' || substr(md5('mix' || doc_id), 1, 8))
                            AS BIGINT) % 1000
                       < (CAST(substr(source, 4) AS INTEGER) + 1) * 50
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN
                       CAST(('0x' || substr(md5('mix' || doc_id), 1, 8))
                            AS BIGINT) % 1000
                       < (CAST(substr(source, 4) AS INTEGER) + 1) * 50
                       THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept
            FROM documents GROUP BY source ORDER BY source
        """
register("weighted_sample", q_weighted_sample, WEIGHTED_SAMPLE_SQL)


BOILERPLATE_NEWSLETTER = (
    ". subscribe to our newsletter for the latest updates today."
)
BOILERPLATE_COPYRIGHT = (
    ". all rights reserved copyright two thousand twenty four."
)


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level exact dedup (the C4/RefinedWeb boilerplate pass):
    split documents on sentence punctuation, normalize + fingerprint each
    sentence, and report every sentence appearing in ≥ 2 places — the
    cookie-banner / nav-chrome detector that document-level dedup cannot
    see.

    The synthetic docs carry no repeated sentences (and no sentence
    punctuation), so — same inject→detect contract as pii_redaction —
    deterministic boilerplate is appended first: doc_id%7==0 docs gain a
    newsletter banner, doc_id%11==0 a copyright footer (CASE order breaks
    the %77 overlap identically in both engines).  The detector under
    test must then find exactly those two fingerprints with the right
    occurrence/doc counts.

    Scale shape: explode is 1-to-N map-side; the only shuffle is the
    groupBy on the 128-bit sentence fingerprint (uniformly distributed by
    construction).  Representative text is min() — a plain re-aggregable
    partial, no window."""
    docs = load_table(spark, sf_dir, "documents")
    boiler = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(BOILERPLATE_NEWSLETTER),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.lit(BOILERPLATE_COPYRIGHT),
        )
        .otherwise(F.lit(""))
    )
    docs = docs.select(
        "doc_id", F.concat(F.col("text"), boiler).alias("text")
    )
    sent = F.trim(F.col("raw_sent"))
    sents = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("raw_sent"),
        )
        .select("doc_id", sent.alias("sent"))
        .filter(F.length("sent") >= 20)
    )
    return (
        sents.select("doc_id", text.fingerprint(F.col("sent")).alias("fp"),
                     "sent")
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("sent").alias("sample_sentence"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), "fp")
        .limit(50)
    )


# sentence-level exact dedup: every sentence seen >= 2 times,
# keyed by the normalized-content fingerprint; boilerplate is
# injected deterministically (inject→detect, see q_sentence_dedup)
SENTENCE_DEDUP_SQL = f"""
            WITH injected AS (
                SELECT doc_id,
                       text || CASE
                           WHEN doc_id % 7 = 0
                               THEN '{BOILERPLATE_NEWSLETTER}'
                           WHEN doc_id % 11 = 0
                               THEN '{BOILERPLATE_COPYRIGHT}'
                           ELSE '' END AS text
                FROM documents
            ),
            sents AS (
                SELECT doc_id, trim(s) AS sent
                FROM (SELECT doc_id,
                             unnest(regexp_split_to_array(text, '[.!?]+'))
                                 AS s
                      FROM injected)
                WHERE length(trim(s)) >= 20
            )
            SELECT {text.fingerprint_sql("sent")} AS fp,
                   count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs,
                   min(sent) AS sample_sentence
            FROM sents GROUP BY 1
            HAVING count(*) >= 2
            ORDER BY n_occurrences DESC, fp LIMIT 50
        """
register("sentence_dedup", q_sentence_dedup, SENTENCE_DEDUP_SQL)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style model-based quality filter: a fixed linear model over
    the analysis features (stop-word ratio up-weights, punctuation noise
    down-weights, mild length prior), squashed with the RATIONAL sigmoid
    z/(1+|z|) — deliberately no exp/ln, so the score is bit-exact across
    engines (libm transcendentals differ in the last ulp between the JVM
    and DuckDB; a 6-decimal hash compare would flake).  Weights here are
    illustrative constants; a production pipeline drops in trained ones.

    Reads the generation-cached analysis frame — scoring a corpus that was
    already analyzed costs one cheap projection."""
    docs = load_table(spark, sf_dir, "documents")
    a = text.analyzed_documents_cached(docs)
    z = (
        F.lit(-1.5)
        + F.lit(4.0) * F.col("stop_ratio")
        - F.lit(6.0) * F.col("punct_ratio")
        + F.lit(0.01) * F.least(F.col("n_tokens"), F.lit(200))
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    return a.select(
        "doc_id",
        F.round(score, 6).alias("quality_prob"),
        (score >= 0.5).alias("keep"),
    )


# fixed linear model + RATIONAL sigmoid z/(1+|z|) — deliberately
# no exp/ln, so both engines agree bit-for-bit (see the query doc)
QUALITY_CLASSIFIER_SQL = f"""
            WITH analyzed AS ({text.analyze_documents_sql()}),
            scored AS (
                SELECT doc_id,
                       (-1.5 + 4.0 * stop_ratio - 6.0 * punct_ratio
                        + 0.01 * LEAST(n_tokens, 200)) AS z
                FROM analyzed
            )
            SELECT doc_id,
                   round(0.5 + 0.5 * z / (1.0 + abs(z)), 6) AS quality_prob,
                   (0.5 + 0.5 * z / (1.0 + abs(z))) >= 0.5 AS keep
            FROM scored ORDER BY doc_id
        """
register("quality_classifier", q_quality_classifier, QUALITY_CLASSIFIER_SQL)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-shard near-dedup: the standard "new crawl snapshot vs the
    corpus we already have" pass.  A deterministic ~10% of docs
    (h32('shard:'||doc_id) % 10 == 9) plays the incoming shard; a new doc
    is dropped when it near-duplicates (MinHash-LSH) any EXISTING corpus
    doc, and new-vs-new duplicates keep their min doc_id.  Output: per
    source, incoming docs, dropped-as-dup-of-corpus, dropped-as-dup-
    within-shard, and survivors.

    Scale shape: reuses the generation-cached LSH pair frame — the delta
    classification is a projection + aggregate over the (tiny) pair set
    plus one broadcast-sized semi-join; nothing corpus-sized recomputes."""
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)

    def is_new(col):
        return (
            h32(F.concat(F.lit("shard:"), col.cast("string"))) % 10 == 9
        )

    flagged = pairs.select(
        "doc_a", "doc_b", is_new(F.col("doc_a")).alias("new_a"),
        is_new(F.col("doc_b")).alias("new_b"),
    )
    # a new doc that pairs with ANY old doc is a dup-of-corpus; a new doc
    # pairing only with a smaller new doc_id is a within-shard dup
    dup_of_corpus = (
        flagged.filter(F.col("new_a") & ~F.col("new_b"))
        .select(F.col("doc_a").alias("doc_id"))
        .union(
            flagged.filter(F.col("new_b") & ~F.col("new_a")).select(
                F.col("doc_b").alias("doc_id")
            )
        )
        .distinct()
    )
    dup_in_shard = (
        flagged.filter(F.col("new_a") & F.col("new_b"))
        .select(F.col("doc_b").alias("doc_id"))  # keep min id = doc_a
        .distinct()
        .join(dup_of_corpus, "doc_id", "left_anti")
    )
    new_docs = docs.filter(is_new(F.col("doc_id"))).select(
        "doc_id", "source"
    )
    marked = (
        new_docs.join(
            dup_of_corpus.withColumn("_corpus_dup", F.lit(1)), "doc_id", "left"
        )
        .join(dup_in_shard.withColumn("_shard_dup", F.lit(1)), "doc_id", "left")
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(F.coalesce("_corpus_dup", F.lit(0))).alias("n_dup_corpus"),
            F.sum(F.coalesce("_shard_dup", F.lit(0))).alias("n_dup_shard"),
            (
                F.count("*")
                - F.sum(F.coalesce("_corpus_dup", F.lit(0)))
                - F.sum(F.coalesce("_shard_dup", F.lit(0)))
            ).alias("n_survivors"),
        )
    )


# delta-shard near-dedup over the LSH pair set: the ~10% "incoming
# shard" is h32('shard:'||doc_id)%10 == 9 on both engines
INCREMENTAL_DEDUP_SQL = f"""
            WITH lsh AS ({dedup.minhash_lsh_pairs_sql()}),
            flagged AS (
                SELECT doc_a, doc_b,
                       ({h32_sql("'shard:' || CAST(doc_a AS VARCHAR)")}
                            % 10 = 9) AS new_a,
                       ({h32_sql("'shard:' || CAST(doc_b AS VARCHAR)")}
                            % 10 = 9) AS new_b
                FROM lsh
            ),
            dup_corpus AS (
                SELECT DISTINCT doc_id FROM (
                    SELECT doc_a AS doc_id FROM flagged
                    WHERE new_a AND NOT new_b
                    UNION ALL
                    SELECT doc_b FROM flagged WHERE new_b AND NOT new_a
                )
            ),
            dup_shard AS (
                SELECT DISTINCT doc_b AS doc_id FROM flagged
                WHERE new_a AND new_b
                  AND doc_b NOT IN (SELECT doc_id FROM dup_corpus)
            ),
            new_docs AS (
                SELECT doc_id, source FROM documents
                WHERE {h32_sql("'shard:' || CAST(doc_id AS VARCHAR)")}
                      % 10 = 9
            ),
            marked AS (
                SELECT source,
                       CASE WHEN doc_id IN (SELECT doc_id FROM dup_corpus)
                            THEN 1 ELSE 0 END AS c_dup,
                       CASE WHEN doc_id IN (SELECT doc_id FROM dup_shard)
                            THEN 1 ELSE 0 END AS s_dup
                FROM new_docs
            )
            SELECT source, count(*) AS n_incoming,
                   CAST(sum(c_dup) AS BIGINT) AS n_dup_corpus,
                   CAST(sum(s_dup) AS BIGINT) AS n_dup_shard,
                   CAST(count(*) - sum(c_dup) - sum(s_dup) AS BIGINT)
                       AS n_survivors
            FROM marked GROUP BY source ORDER BY source
        """
register("incremental_dedup", q_incremental_dedup, INCREMENTAL_DEDUP_SQL)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every unordered source pair,
    how many near-duplicate doc pairs (MinHash-LSH) span them — the
    which-crawls-overlap observability view that drives dedup-order and
    acquisition decisions.  Pure bookkeeping over the cached LSH pair set:
    two broadcast-sized joins to attach sources, one aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    attached = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    return (
        attached.groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_dup_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# which-crawls-overlap matrix over the LSH near-dup pairs
SOURCE_OVERLAP_SQL = f"""
            WITH lsh AS ({dedup.minhash_lsh_pairs_sql()}),
            attached AS (
                SELECT LEAST(sa.source, sb.source) AS source_a,
                       GREATEST(sa.source, sb.source) AS source_b,
                       l.jaccard
                FROM lsh l
                JOIN documents sa ON sa.doc_id = l.doc_a
                JOIN documents sb ON sb.doc_id = l.doc_b
            )
            SELECT source_a, source_b, count(*) AS n_dup_pairs,
                   round(avg(jaccard), 6) AS avg_jaccard
            FROM attached GROUP BY 1, 2 ORDER BY 1, 2
        """
register("source_overlap", q_source_overlap, SOURCE_OVERLAP_SQL)


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-trainer iteration over the corpus: count adjacent symbol
    pairs within words, weighted by word frequency, and rank the top-20
    merge candidates — the counting step every byte-pair-encoding
    tokenizer trainer loops on (re-segment with the winning merge, count
    again; the loop is driver-side and tiny, the COUNT is the corpus-scale
    work, so that is what the engine distributes).

    Scale shape: corpus → word vocabulary is ONE word-count shuffle whose
    output is vocab-sized (types, not tokens); pair counting then runs
    over the vocabulary with frequency weights — for [a-z0-9] symbols the
    pair space is ≤ 36², so the final aggregate is map-side-combinable
    into almost nothing.  No stage touches corpus-sized data twice."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            "word",
            "cnt",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - 1)
            ).alias("i"),
        )
        .select(
            F.expr("substring(word, i, 1)").alias("left_sym"),
            F.expr("substring(word, i + 1, 1)").alias("right_sym"),
            "cnt",
        )
    )
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(20)
    )


# one BPE-trainer iteration: adjacent-symbol pair counts weighted
# by word frequency, top-20 merge candidates (ties broken by pair)
BPE_MERGE_CANDIDATES_SQL = f"""
            WITH words AS (
                SELECT w AS word, count(*) AS cnt
                FROM (SELECT unnest({tokens_sql("text")}) AS w
                      FROM documents)
                GROUP BY w
            ),
            pos AS (
                SELECT word, cnt,
                       unnest(range(1, length(word))) AS i
                FROM words WHERE length(word) >= 2
            )
            SELECT substr(word, CAST(i AS INTEGER), 1) AS left_sym,
                   substr(word, CAST(i AS INTEGER) + 1, 1) AS right_sym,
                   CAST(sum(cnt) AS BIGINT) AS pair_count
            FROM pos GROUP BY 1, 2
            ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20
        """
register("bpe_merge_candidates", q_bpe_merge_candidates, BPE_MERGE_CANDIDATES_SQL)


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column — transform
    / aggregate / filter / array_max as pure JVM expressions (no UDF), the
    X-function surface for ArrayType the reference never needed: per
    label, average L2 norm, average positive-component fraction, and the
    max component.  Element math runs in double on both engines (float32
    rounding would diverge from the DuckDB mirror)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    pos_frac = F.size(F.filter(d, lambda x: x > 0)) / F.size(d).cast(
        "double"
    )
    return (
        emb.select(
            "label",
            norm.alias("norm"),
            pos_frac.alias("pos_frac"),
            F.array_max(d).alias("max_comp"),
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.avg("pos_frac"), 4).alias("avg_pos_frac"),
            F.round(F.max("max_comp"), 4).alias("max_component"),
        )
    )


# list_* HOFs mirror transform/aggregate/filter; double casts keep
# float32 element math off both sides
ARRAY_FUNCTIONS_SQL = """
            WITH v AS (
                SELECT label,
                       sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                           AS norm,
                       CAST(len(list_filter(embedding, x -> x > 0))
                            AS DOUBLE) / len(embedding) AS pos_frac,
                       CAST(list_max(embedding) AS DOUBLE) AS max_comp
                FROM embeddings
            )
            SELECT CAST(label AS INTEGER) AS label, count(*) AS n_vectors,
                   round(avg(norm), 4) AS avg_norm,
                   round(avg(pos_frac), 4) AS avg_pos_frac,
                   round(max(max_comp), 4) AS max_component
            FROM v GROUP BY label ORDER BY label
        """
register("array_functions", q_array_functions, ARRAY_FUNCTIONS_SQL)


MIX_ALPHA = 0.5  # mixture temperature (sqrt-scaling, à la multilingual LMs)


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planning: turn per-source token counts into
    temperature-scaled sampling weights, w_i ∝ share_i^alpha (alpha=0.5
    up-weights small sources, the standard anti-head-domination trade),
    and the implied epochs-per-source for a one-total-epoch token budget.

    Scale shape: one map pass computes token counts (JVM split/filter, no
    UDF), one partial-aggregated groupBy reduces to #sources rows, and the
    normalization runs on that tiny aggregated frame (an unpartitioned
    window over ~20 rows — bounded by the source catalog, never by corpus
    size).  The reference has no mixture concept; this is north-star
    surface (SURVEY §2.11)."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    # checkpointed: three consumers (token total, raw-weight total, final
    # projection) must not re-run the corpus tokenization; the frame is
    # #sources rows, bounded by the catalog
    per_source = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    # normalization totals as 1-row broadcast frames, NOT unpartitioned
    # windows: the former global-window form funneled the frame through a
    # no-partition WindowExec — harmless at #sources rows but the source
    # of every single-partition warning in the bench tail, and exactly
    # the shape that dies at scale if the input ever stops being an
    # aggregate.  Token totals are exact longs, so the two forms are
    # value-identical; the raw-weight sum rounds at 6 dp far above any
    # accumulation-order noise.
    tot = per_source.agg(F.sum("n_tokens").alias("tot_tokens"))
    with_raw = (
        per_source.crossJoin(F.broadcast(tot))
        .withColumn(
            "raw",
            F.pow(
                F.col("n_tokens") / F.col("tot_tokens"), F.lit(MIX_ALPHA)
            ),
        )
    )
    raw_tot = with_raw.agg(F.sum("raw").alias("raw_tot"))
    weight = F.col("raw") / F.col("raw_tot")
    return (
        with_raw.crossJoin(F.broadcast(raw_tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(weight, 6).alias("mix_weight"),
            # epochs over each source for a one-total-epoch token budget:
            # weight_i * total_tokens / tokens_i
            F.round(
                weight * F.col("tot_tokens") / F.col("n_tokens"), 4
            ).alias("epochs"),
        )
    )


SOURCE_MIXTURE_SQL = f"""
            WITH per_source AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len({tokens_sql("text")})) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY source
            ), shared AS (
                SELECT *, n_tokens * 1.0 / sum(n_tokens) OVER () AS share,
                       sum(n_tokens) OVER () AS tot
                FROM per_source
            ), raw AS (
                SELECT *, pow(share, {MIX_ALPHA}) AS r
                FROM shared
            )
            SELECT source, n_docs, n_tokens,
                   round(r / sum(r) OVER (), 6) AS mix_weight,
                   round(r / sum(r) OVER () * tot / n_tokens, 4) AS epochs
            FROM raw ORDER BY source
        """
register("source_mixture", q_source_mixture, SOURCE_MIXTURE_SQL)


VOCAB_SIZE = 64  # top-V token vocabulary; id 0 is reserved for <unk>
IDS_HEAD = 12


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization to integer id sequences — the step between
    vocab construction (q_vocab_topk) and sequence packing: rank the top-V
    tokens by frequency (id 1..V, id 0 = <unk>), then encode every
    document as its id sequence.

    Scale shape: the vocab is a bounded top-V heavy-hitter set (explode →
    map-side partial agg → TakeOrdered V), collected once and applied as a
    broadcast-style map literal inside F.transform — so the encode pass is
    map-only JVM work with ZERO shuffle over the corpus, the same
    broadcast-small-side discipline as the ANN centroids.  The full id
    sequence is compared by md5 digest (head shown inline) to keep the
    oracle row narrow."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    vocab_rows = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), "token")
        .limit(VOCAB_SIZE)
        .collect()
    )  # bounded: V rows, the vocab IS driver-sized by construction
    mapping = F.create_map(
        *[
            F.lit(x)
            for i, r in enumerate(vocab_rows)
            for x in (r["token"], i + 1)
        ]
    )
    ids = F.transform(
        F.col("toks"), lambda t: F.coalesce(mapping[t], F.lit(0))
    )
    id_str = F.array_join(
        F.transform(F.col("ids"), lambda i: i.cast("string")), "-"
    )
    return (
        toks.withColumn("ids", ids)
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(F.filter(F.col("ids"), lambda i: i == 0)).alias("n_oov"),
            F.array_join(
                F.slice(
                    F.transform(F.col("ids"), lambda i: i.cast("string")),
                    1,
                    IDS_HEAD,
                ),
                "-",
            ).alias("ids_head"),
            F.md5(id_str).alias("ids_md5"),
        )
    )


TOKENIZE_IDS_SQL = f"""
            WITH toks AS (
                SELECT doc_id, {tokens_sql("text")} AS tks
                FROM documents
            ), vocab AS (
                SELECT token,
                       row_number() OVER (ORDER BY n DESC, token) AS id
                FROM (
                    SELECT u.token AS token, count(*) AS n
                    FROM toks, unnest(tks) AS u(token)
                    GROUP BY 1
                )
                ORDER BY n DESC, token LIMIT {VOCAB_SIZE}
            ), tok_pos AS (
                SELECT doc_id, r.pos AS pos, tks[r.pos] AS token
                FROM toks, unnest(range(1, len(tks) + 1)) AS r(pos)
            ), idm AS (
                SELECT tp.doc_id, tp.pos, coalesce(v.id, 0) AS id
                FROM tok_pos tp LEFT JOIN vocab v USING (token)
            ), agg AS (
                SELECT doc_id,
                       list(CAST(id AS VARCHAR) ORDER BY pos) AS ids_s,
                       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_oov
                FROM idm GROUP BY doc_id
            )
            SELECT t.doc_id, len(t.tks) AS n_tokens,
                   coalesce(a.n_oov, 0) AS n_oov,
                   coalesce(array_to_string(
                       a.ids_s[1:{IDS_HEAD}], '-'), '')
                       AS ids_head,
                   md5(coalesce(array_to_string(a.ids_s, '-'), ''))
                       AS ids_md5
            FROM toks t LEFT JOIN agg a USING (doc_id)
            ORDER BY t.doc_id
        """
register("tokenize_ids", q_tokenize_ids, TOKENIZE_IDS_SQL)


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (operators/similarity.py
    ::kmeans_train) — the offline codebook trainer behind the IVF
    quantizer, run as an iterative DataFrame algorithm: map-only
    assignment vs broadcast centroid literals, k×dim-bounded partial-agg
    shuffle, k-row driver collect per round.  The DuckDB oracle replays
    the identical rounds (same init, same 6-decimal centroid rounding,
    same tie-breaks), so even this iterative algorithm is value-hash
    checked, not rows-only."""
    return similarity.kmeans_train(load_table(spark, sf_dir, "embeddings"))


register("kmeans_embeddings", q_kmeans_embeddings, similarity.kmeans_sql())


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-LSH bucketed ANN (operators/similarity.py::ann_lsh): md5-
    derived ±1 hyperplanes → 16-bit signatures (map-only), hamming-1
    multi-probe equi-join for candidates, exact cosine on candidates
    only.  n_candidates in the output is the measured pruning factor vs
    the brute-force scan the IVF variant also avoids."""
    return similarity.ann_lsh(load_table(spark, sf_dir, "embeddings"))


register("ann_lsh", q_ann_lsh, similarity.ann_lsh_sql())


def q_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does codebook training pay?  Recall@5 of the IVF index per query,
    side by side: the deterministic-sample codebook vs a k-means-trained
    one (kmeans_fit, same C=16, same nprobe).  This is the trained
    codebook actually plugged into the index — the 'offline k-means'
    step the IVF docstring assumed now exists and is measured, not
    assumed.  The DuckDB oracle replays the full composition (training
    rounds + both index probes + brute-force truth)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # ground truth from the shared per-generation cache; the codebook
    # from the kmeans_fit memo — the whole setup is now generation-
    # cached, so the timed query measures the index probes themselves
    exact = similarity.ann_bruteforce_gt_cached(emb).select(
        "query_id", F.col("neighbor_id").alias("exact_n")
    )
    cents = similarity.kmeans_fit(emb, k=similarity.N_CENTROIDS)
    cent_df = spark.createDataFrame(
        [(cid, c) for cid, c in sorted(cents.items())],
        "centroid_id int, cvec array<double>",
    )
    variants = {
        "recall_sampled": similarity.ann_ivf(emb),
        "recall_trained": similarity.ann_ivf(emb, centroids=cent_df),
    }
    totals = exact.groupBy("query_id").agg(F.count("*").alias("k"))
    out = totals
    for name, approx in variants.items():
        a = approx.select(
            "query_id", F.col("neighbor_id").alias("approx_n")
        )
        hits = (
            exact.join(
                a,
                (exact.query_id == a.query_id)
                & (exact.exact_n == a.approx_n),
            )
            .groupBy(exact.query_id)
            .agg(F.count("*").alias(f"h_{name}"))
        )
        out = out.join(hits, "query_id", "left").withColumn(
            name,
            F.round(
                F.coalesce(F.col(f"h_{name}"), F.lit(0)) / F.col("k"), 6
            ),
        )
    return out.select(
        "query_id", "recall_sampled", "recall_trained"
    )


ANN_IVF_TRAINED_RECALL_SQL = f"""
            WITH exact AS (
                SELECT query_id, neighbor_id
                FROM ({similarity.ann_bruteforce_sql()})
            ),
            approx_s AS (
                SELECT query_id, neighbor_id FROM ({similarity.ann_ivf_sql()})
            ),
            approx_t AS (
                SELECT query_id, neighbor_id FROM ({similarity.ann_ivf_sql(
                    cent_rel=similarity.kmeans_cent_rel(k=similarity.N_CENTROIDS))})
            ),
            totals AS (
                SELECT query_id, count(*) AS k FROM exact GROUP BY 1
            ),
            hs AS (
                SELECT e.query_id, count(*) AS h FROM exact e
                JOIN approx_s a ON e.query_id = a.query_id
                    AND e.neighbor_id = a.neighbor_id GROUP BY 1
            ),
            ht AS (
                SELECT e.query_id, count(*) AS h FROM exact e
                JOIN approx_t a ON e.query_id = a.query_id
                    AND e.neighbor_id = a.neighbor_id GROUP BY 1
            )
            SELECT t.query_id,
                   round(coalesce(s.h, 0) / t.k, 6) AS recall_sampled,
                   round(coalesce(tr.h, 0) / t.k, 6) AS recall_trained
            FROM totals t
            LEFT JOIN hs s ON t.query_id = s.query_id
            LEFT JOIN ht tr ON t.query_id = tr.query_id
            ORDER BY t.query_id
        """
register("ann_ivf_trained_recall", q_ann_ivf_trained_recall, ANN_IVF_TRAINED_RECALL_SQL)


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup pairs within 8 edits over the normalized
    80-char lead (operators/dedup.py::edit_distance_pairs) — the fifth
    dedup family, quadratic-safe via the char-4-gram inverted index with
    DF cap and shared-gram count prefilter; exact levenshtein on
    candidates only, each O(80^2) bounded."""
    return dedup.edit_distance_pairs(load_table(spark, sf_dir, "documents"))


register("dedup_edit_distance", q_dedup_edit_distance, dedup.edit_distance_pairs_sql())


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.py::ann_pq):
    the memory-compression scale path — the corpus index is M=8 one-byte
    codes per vector (32× smaller than the float rows), queries scan it
    via broadcast distance tables; the raw vectors never shuffle."""
    return similarity.ann_pq(load_table(spark, sf_dir, "embeddings"))


register("ann_pq", q_ann_pq, similarity.ann_pq_sql())


def q_source_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the cross-source duplication graph
    (operators/graph.py::source_pagerank): sources sharing near-dup
    content with many others concentrate rank — the derivative-content
    leaderboard that orders dedup and weights acquisition.  Runs in 1e-9
    fixed point so the iterative trajectory is bit-exact across engines
    (float rounding modes diverge on this graph's dyadic rationals)."""
    docs = load_table(spark, sf_dir, "documents")
    return graph.source_pagerank(docs, dedup.minhash_lsh_pairs(docs))


register("source_pagerank", q_source_pagerank, graph.source_pagerank_sql())


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (operators/similarity.py::ann_ivfpq): IVF
    buckets bound WHICH vectors each query scans (nprobe/C of the
    corpus), PQ codes compress WHAT is scanned (8 bytes vs 256) — the
    production vector-index shape at 100M+ vectors.  Keeps the fixed
    C=16 demo default: the r12 C-sweep at sf100 measured cost rising
    monotonically with C for this one-shot 40-query batch (see the
    operator docstring), so corpus-sized codebooks belong to the
    served-index regime and stay a user knob."""
    return similarity.ann_ivfpq(load_table(spark, sf_dir, "embeddings"))


register("ann_ivfpq", q_ann_ivfpq, similarity.ann_ivfpq_sql())


def q_ann_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVED-index IVF-PQ (operators/similarity.py::ann_ivfpq_served):
    the √N-codebook regime — index built once per corpus generation
    (generation cache), five independent 8-query batches served against
    it.  The row the one-shot ann_ivfpq docstring has deferred since
    r11: amortized per-batch cost + the same oracle-checkable ADC
    ranking, batch by batch."""
    return similarity.ann_ivfpq_served(
        load_table(spark, sf_dir, "embeddings"),
        approx_rows=table_row_count(sf_dir, "embeddings"),
    )


# served regime: √N codebook from the gate SF's footer row count
# on BOTH sides, batches derived arithmetically (see operator)
register(
    "ann_ivfpq_served",
    q_ann_ivfpq_served,
    lambda: similarity.ann_ivfpq_served_sql(approx_rows=_gate_rows()),
)


def q_embedding_neardup_ivf_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-output corpus near-dup (operators/similarity.py::
    embedding_neardup_ivf_capped): per-doc top-`cap` strongest pairs, so
    the emitted pair set is linear in the corpus where the uncapped
    audit's grows with duplication density (326M pairs at sf100).  The
    uncapped query stays declared; this is what a downstream collapse
    materializes at scale."""
    return similarity.embedding_neardup_ivf_capped(
        load_table(spark, sf_dir, "embeddings"),
        approx_rows=table_row_count(sf_dir, "embeddings"),
    )


register(
    "embedding_neardup_ivf_capped",
    q_embedding_neardup_ivf_capped,
    lambda: similarity.embedding_neardup_ivf_capped_sql(approx_rows=_gate_rows()),
)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical search (operators/relevance.py::bm25_search): corpus
    retrieval / decontamination / hard-negative mining ranking.  Scoring
    is an inverted-index equi-join of broadcast query terms against the
    postings frame — no document is touched unless it shares a term."""
    return relevance.bm25_search(load_table(spark, sf_dir, "documents"))


register("bm25_search", q_bm25_search, relevance.bm25_search_sql())


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF keywords (operators/relevance.py::
    tfidf_keywords): the corpus-summarization / topic-tagging twin of
    BM25 — shares its postings frame through the rotation cache, attaches
    idf by a term-keyed shuffle join (vocabulary never broadcast), and
    ranks with the map-side-limited top-k (functions/topk.py)."""
    return relevance.tfidf_keywords(load_table(spark, sf_dir, "documents"))


register("tfidf_keywords", q_tfidf_keywords, relevance.tfidf_keywords_sql())


def q_dedup_collapse_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-collapsed corpus with multiplicity weights
    (operators/dedup.py::collapse_weighted): one representative per
    near-dup cluster, upweighted by cluster size, so dedup preserves the
    source mixture's mass."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.collapse_weighted(docs, dedup.minhash_lsh_pairs(docs))


register(
    "dedup_collapse_weighted", q_dedup_collapse_weighted, dedup.collapse_weighted_sql()
)


def q_streaming_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online vector indexing (streaming/docs.py::file_stream_ivf_assign):
    embeddings stream through a literal-codebook argmin (map-only, no
    join) into a live bucket-occupancy aggregate — the ingest-skew
    monitor of a production IVF index."""
    from marketstream_etl_spark.streaming.docs import file_stream_ivf_assign

    return file_stream_ivf_assign(spark, sf_dir)


def stream_ivf_assign_sql() -> str:
    """Batch replay of the final streaming state: same deterministic
    codebook, same (dist, cid) argmin tie-break, same inertia rounding."""
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), c AS (
            SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < {similarity.N_CENTROIDS}
        ), a AS (
            SELECT vec_id, cid, dist FROM (
                SELECT d.*, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM (
                    SELECT e.vec_id, c.cid,
                           list_sum(list_transform(range(1, {similarity.EMB_DIM} + 1),
                               j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])
                           )) AS dist
                    FROM e, c
                ) d
            ) WHERE rn = 1
        )
        SELECT cid AS bucket, count(*) AS n_vectors,
               min(vec_id) AS min_vec_id,
               round(sum(dist), 4) AS inertia
        FROM a GROUP BY cid ORDER BY bucket
    """


register("streaming_ivf_assign", q_streaming_ivf_assign, stream_ivf_assign_sql())


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring (operators/lm.py::lm_perplexity):
    per-doc perplexity under the corpus's add-one bigram model — the
    CCNet-style filter whose high-perplexity tail is gibberish and
    boilerplate.  Two count groupBys to train, equi-joins to score."""
    return lm.lm_perplexity(load_table(spark, sf_dir, "documents"))


register("lm_perplexity", q_lm_perplexity, lm.lm_perplexity_sql())


def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw binary-asset ingestion (sources/binary_assets.py): Spark's
    native binaryFile source scans the asset directory into (file,
    n_bytes, checksum, magic8) rows — the multimodal pipeline's front
    door, value-checked against spec-derived literals."""
    return binary_assets.binary_ingest(spark, sf_dir)


register("binary_ingest", q_binary_ingest, binary_assets.binary_ingest_sql())


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uint8 storage-quantization audit (operators/similarity.py::
    embedding_quantize_error): per-label reconstruction error of the 4×
    smaller per-dim affine uint8 round-trip — the fidelity report behind
    keeping a rerank copy of the corpus in executor memory."""
    return similarity.embedding_quantize_error(
        load_table(spark, sf_dir, "embeddings")
    )


register(
    "embedding_quantize",
    q_embedding_quantize,
    similarity.embedding_quantize_error_sql(),
)


def q_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch bad-record quarantine (sources/formats.py::
    json_corrupt_records): PERMISSIVE JSON parsing with a corrupt-record
    column — malformed lines are surfaced, partial parses keep their
    good fields, nothing fails or silently drops."""
    return formats.json_corrupt_records(spark, sf_dir)


register(
    "json_corrupt_records", q_json_corrupt_records, formats.json_corrupt_records_sql()
)


def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): each doc draws a deterministic uniform u from md5(doc_id) and
    competes with key u^(1/w), w = n_chars — longer docs proportionally
    likelier, yet the draw is a pure function of the row, so it is
    partition-independent, replayable, and needs no RNG state to
    coordinate across 1000 executors (the scale property threshold-hash
    `weighted_sample` has, extended to EXACT-k).  Keys are rounded to 12
    dp before ranking so cross-engine pow() noise can never flip an
    order; top-k compiles to TakeOrderedAndProject, no global sort."""
    from marketstream_etl_spark.functions.hashing import h32

    k = 20
    docs = load_table(spark, sf_dir, "documents")
    u = (h32(F.concat(F.lit("res"), F.col("doc_id").cast("string")))
         + F.lit(1)).cast("double") / F.lit(float(2**32 + 1))
    # weight floor of 1: an empty doc (n_chars 0) competes at the minimum
    # weight instead of aborting the exponent's division under ANSI
    key = F.round(
        F.pow(
            u,
            F.lit(1.0)
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
        ),
        12,
    )
    return (
        docs.select("doc_id", "source", "n_chars", key.alias("res_key"))
        .orderBy(F.desc("res_key"), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.round("res_key", 9).alias("res_key"),
        )
    )


WEIGHTED_RESERVOIR_SQL = f"""
            WITH keyed AS (
                SELECT doc_id, source, n_chars,
                       round(pow(
                           ({h32_sql("'res' || doc_id")} + 1)
                               / CAST({2**32 + 1} AS DOUBLE),
                           CAST(1.0 AS DOUBLE) / greatest(n_chars, 1)), 12) AS res_key
                FROM documents
            )
            SELECT doc_id, source, n_chars, round(res_key, 9) AS res_key
            FROM keyed ORDER BY res_key DESC, doc_id LIMIT 20
        """
register("weighted_reservoir", q_weighted_reservoir, WEIGHTED_RESERVOIR_SQL)


def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE quality gating: within each source, keep the top 60% of
    docs by quality score (percent_rank >= 0.4) — the per-source quantile
    threshold real pipelines use instead of one absolute cutoff, because
    score distributions differ by crawl and an absolute bar would empty
    some sources and let others through wholesale.  Scores are rounded
    to 9 dp before ranking (cross-engine float identity) and the window
    orders by (score, doc_id) so every rank is unique; the partition key
    is the source, so the sort parallelizes across sources at scale."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = F.round(text.quality_features(F.col("text"))["quality_score"], 9)
    scored = docs.select("doc_id", "source", q.alias("q"))
    w = Window.partitionBy("source").orderBy("q", "doc_id")
    kept = scored.withColumn("pr", F.percent_rank().over(w)).filter(
        F.col("pr") >= 0.4
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.min("q"), 6).alias("min_kept_score"),
            F.round(F.avg("q"), 6).alias("avg_kept_score"),
        )
    )


QUALITY_PERCENTILE_FILTER_SQL = f"""
            WITH scored AS (
                SELECT doc_id, source,
                       round({text.quality_features_sql("text")["quality_score"]}, 9) AS q
                FROM documents
            ),
            ranked AS (
                SELECT *, percent_rank() OVER (
                    PARTITION BY source ORDER BY q, doc_id) AS pr
                FROM scored
            )
            SELECT source, count(*) AS n_kept,
                   round(min(q), 6) AS min_kept_score,
                   round(avg(q), 6) AS avg_kept_score
            FROM ranked WHERE pr >= 0.4
            GROUP BY source ORDER BY source
        """
register(
    "quality_percentile_filter",
    q_quality_percentile_filter,
    QUALITY_PERCENTILE_FILTER_SQL,
)


def q_top_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation discovery (operators/lm.py::top_pmi_bigrams): the
    multi-word units a phrase-merging tokenizer should fuse, from the
    same cached token streams lm_perplexity trains on."""
    return lm.top_pmi_bigrams(load_table(spark, sf_dir, "documents"))


register("top_pmi_bigrams", q_top_pmi_bigrams, lm.top_pmi_bigrams_sql())


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift vs the whole corpus: Pearson
    chi-square statistic of each source's token counts against the
    corpus-wide distribution, over the shared vocabulary (global count
    >= 5, the classic expected-count validity floor).  The monitoring
    pass a training pipeline runs per crawl snapshot — a source whose
    statistic jumps has shifted vocabulary (template churn, spam influx,
    language drift) and needs re-sampling before it skews the mixture.

    Scale shape: two partial-aggregated groupBys (per-(source,token),
    then per-token) and one join of per-token counts back to per-source
    rows — no densified source×vocab cross join: the zero-cell mass is
    folded in CLOSED FORM as (t_s/T)·(T − Σ_present cg), so shuffle
    volume is bounded by the observed (source, token) pairs.

    Cross-engine determinism: counts are exact integers; every floating
    step is plain IEEE arithmetic (no libm), per-term values are
    fixed-pointed via floor(x·1e6 + 0.5) into BIGINTs so the sum is
    order-independent, and the final statistic rounds the same way."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    per = toks.groupBy("source", "token").agg(F.count("*").alias("c"))
    return chi2_by_source(per)


# chi-square drift: exact integer counts, IEEE-only float steps,
# per-term fixed-point floor(x*1e6+0.5) so the sum is
# order-independent — mirrors q_token_drift step for step
TOKEN_DRIFT_SQL = f"""
            WITH toks AS MATERIALIZED (
                SELECT source, unnest({tokens_sql("text")}) AS token
                FROM documents
            ), per AS MATERIALIZED (
                SELECT source, token, CAST(count(*) AS BIGINT) AS c
                FROM toks GROUP BY 1, 2
            ), gcnt AS MATERIALIZED (
                SELECT token, CAST(sum(c) AS BIGINT) AS cg
                FROM per GROUP BY 1 HAVING sum(c) >= 5
            ), tg AS MATERIALIZED (
                SELECT CAST(sum(cg) AS BIGINT) AS tg FROM gcnt
            ), kept AS MATERIALIZED (
                SELECT p.source, p.token, p.c, g.cg
                FROM per p JOIN gcnt g USING (token)
            ), totals AS MATERIALIZED (
                SELECT source, CAST(sum(c) AS BIGINT) AS t,
                       CAST(sum(cg) AS BIGINT) AS cg_present,
                       count(*) AS n_tokens
                FROM kept GROUP BY 1
            ), present AS (
                SELECT k.source,
                       CAST(sum(CAST(floor(
                           ((k.c::DOUBLE * tg.tg::DOUBLE)
                              - (tt.t::DOUBLE * k.cg::DOUBLE))
                           * ((k.c::DOUBLE * tg.tg::DOUBLE)
                              - (tt.t::DOUBLE * k.cg::DOUBLE))
                           / (tt.t::DOUBLE * k.cg::DOUBLE * tg.tg::DOUBLE)
                           * 1e6 + 0.5
                       ) AS BIGINT)) AS BIGINT) AS chi2_fp
                FROM kept k
                JOIN totals tt USING (source)
                CROSS JOIN tg
                GROUP BY 1
            )
            SELECT t.source, t.n_tokens,
                   floor((p.chi2_fp::DOUBLE / 1e6
                          + (t.t::DOUBLE / tg.tg::DOUBLE)
                            * (tg.tg::DOUBLE - t.cg_present::DOUBLE))
                         * 1e4 + 0.5) / 1e4 AS chi2
            FROM totals t JOIN present p USING (source) CROSS JOIN tg
            ORDER BY t.source
        """
register("token_drift", q_token_drift, TOKEN_DRIFT_SQL)


def chi2_by_source(per: DataFrame) -> DataFrame:
    """Chi-square drift statistic from per-(source, token) counts — the
    computation core shared by the batch q_token_drift and its streaming
    twin (streaming/docs.file_stream_token_drift), so both produce
    bit-identical statistics from the same final counts.

    Shape: window sums instead of join-back aggregates.  The first cut
    (r6) derived cg / t / tg as separate aggregations joined back onto
    the count rows — semantically the textbook SQL, but the physical
    plan re-scanned and re-exploded the corpus SIX times (52 Exchange
    nodes; a plan dump caught it, and the plan manifest test now pins
    the count).  Per-token and per-source totals are partitioned window
    sums over the SAME rows, so the whole statistic
    is one scan of `per`, two window exchanges, and a 1-row global
    total — the plan that survives a 100× corpus.  All window sums are
    integer (exact, order-independent); every float step is unchanged,
    so the statistic is bit-identical to the joined form."""
    from pyspark.sql import Window

    wt = Window.partitionBy("token")
    ws = Window.partitionBy("source")
    kept = (
        per.withColumn("cg", F.sum("c").over(wt))
        .filter(F.col("cg") >= 5)
        .withColumn("t", F.sum("c").over(ws))
        .withColumn("cg_present", F.sum("cg").over(ws))
        .withColumn("n_tokens", F.count("*").over(ws))
    )
    # tg = Σ_tokens cg = Σ_kept-rows c (every row of a kept token is kept)
    tg = kept.agg(F.sum("c").alias("tg"))
    c = F.col("c").cast("double")
    cgd = F.col("cg").cast("double")
    td = F.col("t").cast("double")
    tgd = F.col("tg").cast("double")
    num = c * tgd - td * cgd
    term_fp = F.floor(
        (num * num / (td * cgd * tgd)) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    return (
        kept.crossJoin(F.broadcast(tg))
        .groupBy("source")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.sum(term_fp).alias("chi2_fp"),
            F.first("t").alias("t"),
            F.first("cg_present").alias("cg_present"),
            F.first("tg").alias("tg"),
        )
        .select(
            "source",
            "n_tokens",
            (
                F.floor(
                    (
                        F.col("chi2_fp").cast("double") / F.lit(1e6)
                        + (
                            F.col("t").cast("double")
                            / F.col("tg").cast("double")
                        )
                        * (
                            F.col("tg").cast("double")
                            - F.col("cg_present").cast("double")
                        )
                    )
                    * F.lit(1e4)
                    + F.lit(0.5)
                ).cast("double")
                / F.lit(1e4)
            ).alias("chi2"),
        )
    )


def q_dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family dedup audit: agreement between the MinHash-LSH
    (shingle-Jaccard) and SimHash (weighted-token hamming) near-dup
    detectors over the same corpus — the calibration readout that tells a
    pipeline owner whether the cheap signature family can stand in for
    the expensive one on their data (high pair-set Jaccard) or whether the
    two catch DIFFERENT duplicate populations and must be unioned.

    One full-outer join of two already-cached tiny pair frames, then a
    single-row aggregate; both inputs come from their generation caches,
    so this audit is free after any dedup pass has run."""
    docs = load_table(spark, sf_dir, "documents")
    mh = (
        dedup.minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .withColumn("in_mh", F.lit(1))
    )
    sh = (
        dedup.simhash_near_pairs(
            docs, approx_docs=table_row_count(sf_dir, "documents")
        )
        .select("doc_a", "doc_b")
        .withColumn("in_sh", F.lit(1))
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    both = (F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull()).cast(
        "long"
    )
    mh_only = (F.col("in_mh").isNotNull() & F.col("in_sh").isNull()).cast(
        "long"
    )
    sh_only = (F.col("in_mh").isNull() & F.col("in_sh").isNotNull()).cast(
        "long"
    )
    agg = j.agg(
        F.count("*").alias("n_union"),
        F.sum(both).alias("n_both"),
        F.sum(mh_only).alias("n_minhash_only"),
        F.sum(sh_only).alias("n_simhash_only"),
    )
    # floor(x*1e6+0.5): engine-independent rounding (HALF_UP vs HALF_EVEN)
    pair_jac = (
        F.floor(
            F.col("n_both").cast("double")
            / F.col("n_union").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return agg.select(
        "n_union",
        "n_both",
        "n_minhash_only",
        "n_simhash_only",
        pair_jac.alias("pair_jaccard"),
    )


# full-outer pair-set agreement over the two family oracles;
# floor(x*1e6+0.5) mirrors the Spark side's rounding-mode dodge
DEDUP_FAMILY_AGREEMENT_SQL = f"""
            WITH mh AS MATERIALIZED (
                SELECT doc_a, doc_b FROM ({dedup.minhash_lsh_pairs_sql()})
            ), sh AS MATERIALIZED (
                SELECT doc_a, doc_b FROM ({dedup.simhash_near_pairs_sql()})
            ), j AS (
                SELECT coalesce(m.doc_a, s.doc_a) AS doc_a,
                       m.doc_a IS NOT NULL AS in_mh,
                       s.doc_a IS NOT NULL AS in_sh
                FROM mh m
                FULL OUTER JOIN sh s
                  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
            )
            SELECT CAST(count(*) AS BIGINT) AS n_union,
                   CAST(sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_both,
                   CAST(sum(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_minhash_only,
                   CAST(sum(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_simhash_only,
                   floor(
                       sum(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END)::DOUBLE
                       / count(*)::DOUBLE * 1e6 + 0.5
                   ) / 1e6 AS pair_jaccard
            FROM j
        """
register("dedup_family_agreement", q_dedup_family_agreement, DEDUP_FAMILY_AGREEMENT_SQL)


def q_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster purity profile: assign every embedding to its
    trained k-means centroid (similarity.kmeans_fit — the same Lloyd's
    codebook the IVF index uses), then report per cluster the member
    count, the majority class label, and the purity (majority share) —
    the standard clustering-quality readout a curation pipeline uses to
    decide whether embedding clusters are clean enough to drive
    stratified sampling or topic-balanced mixtures.

    Scale shape: assignment is map-only against the broadcast k×dim
    literal codebook; the profile is two partial-aggregated groupBys
    over (cid, label) — bounded by k×n_labels rows after the first
    combine, so the shuffle is constant-size regardless of corpus rows.

    Determinism: member counts are exact integers; the majority pick is
    a lexicographic struct max — (n, −label), so ties break on the LOWER
    label exactly like the oracle's ORDER BY n DESC, label; purity uses
    the floor(x·1e6 + 0.5) fixed-point rounding both engines share."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb)
    labeled = similarity.kmeans_assign(emb, cents).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    # k × n_labels bounded; checkpointed so the assignment pass runs once
    # instead of once per consumer (tot + maj)
    pl = (
        labeled.groupBy("cid", "label")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = pl.groupBy("cid").agg(F.sum("n").alias("n_vectors"))
    m = F.max(
        F.struct(F.col("n").alias("n"), (-F.col("label")).alias("neg"))
    )
    maj = pl.groupBy("cid").agg(m.alias("m")).select(
        "cid",
        (-F.col("m.neg")).alias("majority_label"),
        F.col("m.n").alias("n_major"),
    )
    purity = (
        F.floor(
            F.col("n_major").cast("double")
            / F.col("n_vectors").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        tot.join(maj, "cid")
        .select("cid", "n_vectors", "majority_label", purity.alias("purity"))
    )


# trained-codebook replay (kmeans_cent_rel: same init, 6-dp
# centroid rounding, (dist, cid) ties) + one assignment pass;
# majority pick ORDER BY n DESC, label = Spark's (n, -label)
# struct max; purity floor-fixed-pointed like the Spark side
CLUSTER_PROFILE_SQL = f"""
            WITH ev AS MATERIALIZED (
                SELECT vec_id, label,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), ce AS MATERIALIZED (
                SELECT vec_id AS cid,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                FROM {similarity.kmeans_cent_rel()}
            ), asg AS (
                SELECT vec_id, label, cid FROM (
                    SELECT d.*, row_number() OVER (
                        PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM (
                        SELECT e.vec_id, e.label, c.cid,
                               list_sum(list_transform(
                                   range(1, {similarity.EMB_DIM} + 1),
                                   j -> (e.v[j] - c.cv[j])
                                        * (e.v[j] - c.cv[j])
                               )) AS dist
                        FROM ev e, ce c
                    ) d
                ) WHERE rn = 1
            ), pl AS MATERIALIZED (
                SELECT cid, label, CAST(count(*) AS BIGINT) AS n
                FROM asg GROUP BY 1, 2
            ), tot AS (
                SELECT cid, CAST(sum(n) AS BIGINT) AS n_vectors
                FROM pl GROUP BY 1
            ), maj AS (
                SELECT cid, label AS majority_label, n AS n_major FROM (
                    SELECT pl.*, row_number() OVER (
                        PARTITION BY cid ORDER BY n DESC, label) AS rn
                    FROM pl
                ) WHERE rn = 1
            )
            SELECT t.cid, t.n_vectors, m.majority_label,
                   floor(m.n_major::DOUBLE / t.n_vectors::DOUBLE * 1e6 + 0.5)
                       / 1e6 AS purity
            FROM tot t JOIN maj m USING (cid)
            ORDER BY t.cid
        """
register("cluster_profile", q_cluster_profile, CLUSTER_PROFILE_SQL)


def q_ann_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: recall@k of exact
    cosine top-k computed on only the FIRST 16 / 32 of the 64 embedding
    dims, against the full-dim ground truth — the measurement behind the
    cheapest vector-storage lever there is (keep a prefix, drop the rest:
    4× / 2× smaller with zero re-encoding).  Production pipelines run
    exactly this audit before committing to a truncated index tier.

    Composition mirrors ann_ivf_trained_recall: ground truth persisted
    once, each truncated variant joined per query; all cosine arithmetic
    is the shared left-to-right double accumulation, truncation is
    F.slice / list-slice so both engines score identical prefixes."""
    emb = load_table(spark, sf_dir, "embeddings")
    # full-dim ground truth from the shared per-generation cache; the
    # truncated variants below are the op under audit and re-rank live
    exact = similarity.ann_bruteforce_gt_cached(emb).select(
        "query_id", F.col("neighbor_id").alias("exact_n")
    )
    out = exact.groupBy("query_id").agg(F.count("*").alias("k"))
    for d in (16, 32):
        approx = similarity.ann_bruteforce(
            emb.withColumn("embedding", F.slice("embedding", 1, d))
        ).select("query_id", F.col("neighbor_id").alias("approx_n"))
        hits = (
            exact.join(
                approx,
                (exact.query_id == approx.query_id)
                & (exact.exact_n == approx.approx_n),
            )
            .groupBy(exact.query_id)
            .agg(F.count("*").alias(f"h_{d}"))
        )
        out = out.join(hits, "query_id", "left").withColumn(
            f"recall_d{d}",
            F.round(
                F.coalesce(F.col(f"h_{d}"), F.lit(0)) / F.col("k"), 6
            ),
        )
    return out.select(
        "query_id", "recall_d16", "recall_d32"
    )


# truncated-prefix recall vs full-dim exact top-k; list slicing
# embedding[1:d] mirrors Spark's F.slice(embedding, 1, d)
ANN_TRUNCATED_RECALL_SQL = f"""
            WITH exact AS MATERIALIZED (
                SELECT query_id, neighbor_id
                FROM ({similarity.ann_bruteforce_sql()})
            ), tot AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS k
                FROM exact GROUP BY 1
            ), a16 AS MATERIALIZED (
                SELECT query_id, neighbor_id
                FROM ({similarity.ann_bruteforce_sql_over(
                    q_rel=("(SELECT vec_id, embedding[1:16] AS embedding "
                           f"FROM embeddings WHERE vec_id < {similarity.N_QUERIES})"),
                    e_rel="(SELECT vec_id, embedding[1:16] AS embedding "
                          "FROM embeddings)")})
            ), a32 AS MATERIALIZED (
                SELECT query_id, neighbor_id
                FROM ({similarity.ann_bruteforce_sql_over(
                    q_rel=("(SELECT vec_id, embedding[1:32] AS embedding "
                           f"FROM embeddings WHERE vec_id < {similarity.N_QUERIES})"),
                    e_rel="(SELECT vec_id, embedding[1:32] AS embedding "
                          "FROM embeddings)")})
            ), h16 AS (
                SELECT e.query_id, CAST(count(*) AS BIGINT) AS h
                FROM exact e JOIN a16 a
                  ON e.query_id = a.query_id
                 AND e.neighbor_id = a.neighbor_id
                GROUP BY 1
            ), h32 AS (
                SELECT e.query_id, CAST(count(*) AS BIGINT) AS h
                FROM exact e JOIN a32 a
                  ON e.query_id = a.query_id
                 AND e.neighbor_id = a.neighbor_id
                GROUP BY 1
            )
            SELECT t.query_id,
                   round(coalesce(h16.h, 0) / t.k, 6) AS recall_d16,
                   round(coalesce(h32.h, 0) / t.k, 6) AS recall_d32
            FROM tot t
            LEFT JOIN h16 ON t.query_id = h16.query_id
            LEFT JOIN h32 ON t.query_id = h32.query_id
            ORDER BY t.query_id
        """
register("ann_truncated_recall", q_ann_truncated_recall, ANN_TRUNCATED_RECALL_SQL)


_VERBATIM_K = 13
# odd 64-bit multiplier (FNV-1a prime) for the rolling gram hash; uint64
# wraparound in numpy is the intended modular arithmetic
_VERBATIM_HASH_P = 0x100000001B3
# Engage the hashed-candidate prefilter only when the corpus is big
# enough for the saved gram-string work to beat the prefilter's fixed
# costs (two extra jobs: the bench-hash collect and the candidate kernel
# pass + Python workers ≈ 0.9 s flat).  Measured: at sf0.1 (0.6 MB of
# documents) the prefilter LOSES 1.7 → 2.6 s; at sf1 (5 MB) it wins
# modestly; at sf10 (64 MB) ×1.9 and at sf100 (3.4 GB) ×2.3.  4 MB of
# compressed documents ≈ the break-even; below it the original
# single-pass string-gram join is optimal.  Scale-adaptive per guide §2:
# derived from input bytes, no constant tuned to one deployment.
_VERBATIM_PREFILTER_MIN_BYTES = 4 * 1024 * 1024


def _verbatim_gram_hashes(doc_ids, th_lists):
    """Vectorized rolling 13-gram hashes over per-doc token-hash lists
    (one Arrow list<int64> column).  Returns (gram_doc_ids, hashes) as
    numpy arrays.  The hash is a pure function of the 13-token window
    (polynomial over per-token xxhash64 in uint64 arithmetic), so equal
    grams ALWAYS collide — false negatives are impossible, which is what
    makes the candidate prefilter in q_contamination_verbatim exact."""
    import numpy as np

    offsets = np.asarray(th_lists.offsets, dtype=np.int64)
    flat = th_lists.values.to_numpy(zero_copy_only=False).astype(np.uint64)
    lens = np.diff(offsets)
    g = np.maximum(lens - (_VERBATIM_K - 1), 0)
    total = int(g.sum())
    if total == 0:
        return np.empty(0, np.int64), np.empty(0, np.uint64)
    starts = np.repeat(offsets[:-1], g)
    cum = np.concatenate(([0], np.cumsum(g)[:-1]))
    idx = np.arange(total, dtype=np.int64) - np.repeat(cum, g) + starts
    h = np.zeros(total, np.uint64)
    p = np.uint64(_VERBATIM_HASH_P)
    for j in range(_VERBATIM_K):
        h = h * p + flat[idx + np.int64(j)]
    gdoc = np.repeat(np.asarray(doc_ids, dtype=np.int64), g)
    return gdoc, h


def _verbatim_token_hashes(docs_side: DataFrame) -> DataFrame:
    """(doc_id, th) with th = per-token xxhash64 list — ONE cheap lambda
    per token (measured 1.7 s warm for 22M tokens at sf10, vs 13.7 s for
    building the concat_ws gram strings the old corpus pass paid)."""
    from marketstream_etl_spark.functions.hashing import tokens

    toks = tokens(F.col("text"))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    return docs_side.select("doc_id", th.alias("th"))


def q_contamination_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-span verbatim contamination: word-13-gram exact overlap
    between corpus documents and the held-out benchmark slice — the
    GPT-3-style decontamination rule that catches COPIED eval text, the
    complement of q_contamination's fuzzier 3-gram overlap score (3-grams
    flag topical similarity; an exact 13-gram is essentially proof of
    verbatim duplication).

    Scale shape (r14, guide §3.2/§4.2/§8): the old single-pass form built
    every corpus 13-gram STRING (concat_ws of 13 tokens — measured as
    ~85% of the whole query: 13.7 s of a 15-20 s corpus pass at sf10;
    223 s at the sf100 decade) only to discover almost none of them hit
    the benchmark set.  The pass is now split so heavy gram strings are
    built ONLY for docs that can possibly be contaminated:

      1. per-token xxhash64 in the JVM (cheap: one lambda per token);
      2. a vectorized numpy mapInArrow kernel folds the token hashes
         into rolling 13-gram hashes (uint64 polynomial — 13 fused
         array ops per batch, no per-gram allocation) and emits the
         doc_ids with >=1 hash hit against the broadcast benchmark
         gram-hash set — hash equality is implied by gram equality, so
         the candidate set has NO false negatives and the prefilter is
         exact; false positives only cost exact re-checking;
      3. the exact string pass (unchanged arithmetic: array_distinct
         gram strings, broadcast inner join, per-doc counts) runs on
         candidate docs only — a tiny fraction of the corpus.

    Also new vs the old form: n_13grams rides the explode as size(_s)
    instead of being counted row-by-row in the aggregate, and the
    benchmark join is INNER (hit rows only reach the aggregation; the
    trailing n_hits > 0 filter is the join itself).  Interleaved sf10
    A/B: 23.6-24.2 s -> 12.4-14.3 s, identical 1496-row output; sf100
    413-441 s -> 182-188 s (×2.3); sf0.1 output bit-identical (17 rows).
    13-grams stay uncached (no sibling shares them); the benchmark side
    stays distinct-compressed and broadcast exactly as before.

    The prefilter is SCALE-ADAPTIVE (guide §2): below
    _VERBATIM_PREFILTER_MIN_BYTES of compressed documents its two fixed
    jobs cost more than the gram strings it avoids (measured at sf0.1),
    so small corpora take the original single-pass form — identical
    results either way."""
    import os

    from marketstream_etl_spark.functions.hashing import h32, shingles, tokens
    # small-file corpora arrive as ONE scan partition and the 13-gram
    # work is CPU-bound — spread before the heavy map (measured 4.6 s
    # single-threaded vs sub-second across the cluster at sf0.1; at scale
    # the scan is already parallel and this is a cheap (id, text) shuffle)
    docs = spread(load_table(spark, sf_dir, "documents"))
    is_bench = h32(F.col("doc_id").cast("string")) % 20 == 0
    bench_docs = docs.filter(is_bench)
    corpus_docs = docs.filter(~is_bench)

    try:
        doc_bytes = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        doc_bytes = None
    if doc_bytes is None or doc_bytes >= _VERBATIM_PREFILTER_MIN_BYTES:
        # benchmark gram-hash set -> driver -> broadcast.  The benchmark
        # side is bounded by construction (the old form already broadcast
        # its gram STRINGS; the hash set is strictly smaller — 8 bytes
        # per gram).
        import numpy as np
        import pyarrow as pa

        def _emit_hashes(it):
            for b in it:
                _, h = _verbatim_gram_hashes(
                    b.column("doc_id"), b.column("th")
                )
                u = np.unique(h)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(u.astype(np.int64))], ["h"]
                )

        bench_rows = (
            _verbatim_token_hashes(bench_docs)
            .mapInArrow(_emit_hashes, "h long")
            .select("h")
            .distinct()
            .collect()
        )
        bench_hashes = np.sort(
            np.array([r.h for r in bench_rows], dtype=np.int64).astype(
                np.uint64
            )
        )
        bh_b = spark.sparkContext.broadcast(bench_hashes)

        def _candidates(it):
            ref = bh_b.value
            for b in it:
                gdoc, h = _verbatim_gram_hashes(
                    b.column("doc_id"), b.column("th")
                )
                hit = np.isin(h, ref)
                c = np.unique(gdoc[hit])
                yield pa.RecordBatch.from_arrays([pa.array(c)], ["doc_id"])

        cand = (
            _verbatim_token_hashes(corpus_docs)
            .mapInArrow(_candidates, "doc_id long")
            .distinct()
        )
        # exact pass runs on candidate docs only (a broadcast semi-set)
        corpus_docs = corpus_docs.join(F.broadcast(cand), "doc_id")
    # else: below the break-even the single-pass string-gram join IS the
    # optimum — the prefilter's two extra jobs cost more than the gram
    # strings it avoids (see _VERBATIM_PREFILTER_MIN_BYTES).  Results are
    # identical either way: the prefilter only removes docs whose n_hits
    # would be 0.

    # checkpoint barriers before BOTH explodes (r8 GenerateExec
    # projection-collapse fix): without them the 13-gram chain
    # re-evaluates once per emitted gram
    def grams13(frame: DataFrame, *keep: str) -> DataFrame:
        return frame.select(*keep, tokens(F.col("text")).alias("_toks")).select(
            *keep, F.array_distinct(shingles("_toks", _VERBATIM_K)).alias("_s")
        )

    bench = (
        grams13(bench_docs)
        .localCheckpoint(eager=False)
        .select(F.explode("_s").alias("s"))
        .distinct()
    )
    corpus = (
        grams13(corpus_docs, "doc_id")
        .localCheckpoint(eager=False)
        .select(
            "doc_id",
            F.size("_s").alias("n_13grams"),
            F.explode("_s").alias("s"),
        )
    )
    frac = (
        F.floor(
            F.col("n_hits").cast("double")
            / F.col("n_13grams").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "n_13grams")
        .agg(F.count("*").alias("n_hits"))
        .select("doc_id", "n_13grams", "n_hits", frac.alias("verbatim_frac"))
    )


# 13-gram verbatim decontamination; floor fixed-point like Spark
CONTAMINATION_VERBATIM_SQL = f"""
            WITH sh AS MATERIALIZED (
                SELECT doc_id,
                       {h32_sql("CAST(doc_id AS VARCHAR)")} % 20 = 0
                           AS is_bench,
                       unnest(list_distinct(
                           {shingles_sql(tokens_sql("text"), 13)}
                       )) AS s
                FROM documents
            ), b AS (
                SELECT DISTINCT s FROM sh WHERE is_bench
            ), agg AS (
                SELECT c.doc_id,
                       CAST(count(*) AS BIGINT) AS n_13grams,
                       CAST(count(b.s) AS BIGINT) AS n_hits
                FROM (SELECT doc_id, s FROM sh WHERE NOT is_bench) c
                LEFT JOIN b ON c.s = b.s
                GROUP BY 1
            )
            SELECT doc_id, n_13grams, n_hits,
                   floor(n_hits::DOUBLE / n_13grams::DOUBLE * 1e6 + 0.5)
                       / 1e6 AS verbatim_frac
            FROM agg WHERE n_hits > 0
            ORDER BY doc_id
        """
register("contamination_verbatim", q_contamination_verbatim, CONTAMINATION_VERBATIM_SQL)


def q_contamination_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate contamination linkage: corpus documents that are
    MinHash-LSH near-dups OF a benchmark-slice document — the fuzzy
    decontamination rule (labs dedup training data AGAINST eval sets with
    the same near-dup machinery used within the corpus, because verbatim
    n-gram rules miss lightly-edited copies).

    Pure composition: the family's cached LSH pair frame + the
    deterministic bench flag; per corpus doc, the number of bench
    neighbors and the strongest Jaccard link.  Costs nothing beyond the
    dedup pass itself (pairs come from the generation cache)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    from marketstream_etl_spark.functions.hashing import h32

    def bench(col: str):
        return h32(F.col(col).cast("string")) % 20 == 0

    # a pair is (doc_a < doc_b); either side may be the bench doc
    a_side = pairs.filter(bench("doc_b") & ~bench("doc_a")).select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("bench_id"),
        "jaccard",
    )
    b_side = pairs.filter(bench("doc_a") & ~bench("doc_b")).select(
        F.col("doc_b").alias("doc_id"),
        F.col("doc_a").alias("bench_id"),
        "jaccard",
    )
    return (
        a_side.unionByName(b_side)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bench_neighbors"),
            F.max("jaccard").alias("max_jaccard"),
            F.min("bench_id").alias("first_bench_id"),
        )
    )


# fuzzy decontamination: LSH pairs where exactly one side is bench
CONTAMINATION_NEARDUP_SQL = f"""
            WITH pairs AS MATERIALIZED (
                SELECT * FROM ({dedup.minhash_lsh_pairs_sql()})
            ), flagged AS (
                SELECT doc_a, doc_b, jaccard,
                       {h32_sql("CAST(doc_a AS VARCHAR)")} % 20 = 0
                           AS bench_a,
                       {h32_sql("CAST(doc_b AS VARCHAR)")} % 20 = 0
                           AS bench_b
                FROM pairs
            ), linked AS (
                SELECT doc_a AS doc_id, doc_b AS bench_id, jaccard
                FROM flagged WHERE bench_b AND NOT bench_a
                UNION ALL
                SELECT doc_b AS doc_id, doc_a AS bench_id, jaccard
                FROM flagged WHERE bench_a AND NOT bench_b
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bench_neighbors,
                   max(jaccard) AS max_jaccard,
                   min(bench_id) AS first_bench_id
            FROM linked
            GROUP BY 1
            ORDER BY doc_id
        """
register("contamination_neardup", q_contamination_neardup, CONTAMINATION_NEARDUP_SQL)


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: predicted language (the marker-
    stopword classifier every doc already gets in text_analysis) against
    the table's recorded lang column — per (lang, lang_pred) cell counts
    plus the per-cell share of the true-language row.  The accuracy
    readout that tells a pipeline owner whether the cheap classifier is
    good enough to drive per-language routing.

    Derives from the generation-cached analyzed frame, so after any text
    pass this matrix costs one k×k aggregation."""
    analyzed = text.analyzed_documents_cached(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "lang_pred")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cells = (
        docs.join(analyzed, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )
    row_tot = cells.groupBy(F.col("lang").alias("r_lang")).agg(
        F.sum("n").alias("row_n")
    )
    share = (
        F.floor(
            F.col("n").cast("double")
            / F.col("row_n").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("double")
        / F.lit(1e6)
    )
    return (
        cells.join(row_tot, cells["lang"] == row_tot["r_lang"])
        .select("lang", "lang_pred", "n", share.alias("row_share"))
    )


LANGID_CONFUSION_SQL = f"""
            WITH pred AS MATERIALIZED (
                SELECT doc_id, lang,
                       {text.lang_id_sql("text")} AS lang_pred
                FROM documents
            ), cells AS MATERIALIZED (
                SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                FROM pred GROUP BY 1, 2
            ), row_tot AS (
                SELECT lang AS r_lang, CAST(sum(n) AS BIGINT) AS row_n
                FROM cells GROUP BY 1
            )
            SELECT c.lang, c.lang_pred, c.n,
                   floor(c.n::DOUBLE / t.row_n::DOUBLE * 1e6 + 0.5) / 1e6
                       AS row_share
            FROM cells c JOIN row_tot t ON c.lang = t.r_lang
            ORDER BY c.lang, c.lang_pred
        """
register("langid_confusion", q_langid_confusion, LANGID_CONFUSION_SQL)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: MinHash-LSH near-dup pairs that STRADDLE
    the deterministic train/val/test split — the eval-hygiene check every
    training pipeline needs (a test doc with a near-dup in train inflates
    eval).  One row per (split_a, split_b) pair of DIFFERENT splits:
    leaked pair count and the strongest Jaccard link.

    Pure composition: the family's cached LSH pairs + the same md5-bucket
    split rule as q_train_test_split — zero new heavy passes."""
    from marketstream_etl_spark.functions.hashing import h32

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)

    def split_of(col: str):
        bucket = F.pmod(h32(F.col(col).cast("string")), F.lit(100))
        return (
            F.when(bucket < 80, F.lit("train"))
            .when(bucket < 90, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    tagged = pairs.select(
        "jaccard",
        split_of("doc_a").alias("sa"),
        split_of("doc_b").alias("sb"),
    ).select(
        "jaccard",
        F.least("sa", "sb").alias("split_a"),
        F.greatest("sa", "sb").alias("split_b"),
    )
    return (
        tagged.filter(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_leaked_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


SPLIT_LEAKAGE_SQL = f"""
            WITH pairs AS MATERIALIZED (
                SELECT * FROM ({dedup.minhash_lsh_pairs_sql()})
            ), tagged AS (
                SELECT jaccard,
                       CASE WHEN {h32_sql("CAST(doc_a AS VARCHAR)")} % 100 < 80
                                THEN 'train'
                            WHEN {h32_sql("CAST(doc_a AS VARCHAR)")} % 100 < 90
                                THEN 'val'
                            ELSE 'test' END AS sa,
                       CASE WHEN {h32_sql("CAST(doc_b AS VARCHAR)")} % 100 < 80
                                THEN 'train'
                            WHEN {h32_sql("CAST(doc_b AS VARCHAR)")} % 100 < 90
                                THEN 'val'
                            ELSE 'test' END AS sb
                FROM pairs
            ), norm AS (
                SELECT jaccard, least(sa, sb) AS split_a,
                       greatest(sa, sb) AS split_b
                FROM tagged
            )
            SELECT split_a, split_b,
                   CAST(count(*) AS BIGINT) AS n_leaked_pairs,
                   max(jaccard) AS max_jaccard
            FROM norm WHERE split_a <> split_b
            GROUP BY 1, 2 ORDER BY 1, 2
        """
register("split_leakage", q_split_leakage, SPLIT_LEAKAGE_SQL)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot corpus reconciliation: diff the CURRENT documents
    snapshot against the fixed baseline snapshot (sf0.001) by doc_id —
    rows added, removed, and content-changed (md5 of text), the audit an
    incremental-ingest pipeline runs after every crawl merge to prove the
    delta is what it claims to be.

    Scale shape: a single full-outer join on the key with md5 content
    fingerprints computed map-side, then one aggregation — no row-by-row
    driver comparison; at 100 TB this is the standard two-snapshot
    anti-join reconciliation, one shuffle per side."""
    cur = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("text")).alias("h_cur")
    )
    base = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", F.md5(F.col("text")).alias("h_base"))
    )
    j = cur.join(base, "doc_id", "full_outer")
    return j.agg(
        F.count("*").alias("n_union"),
        F.sum(
            (F.col("h_base").isNull()).cast("long")
        ).alias("n_added"),
        F.sum(
            (F.col("h_cur").isNull()).cast("long")
        ).alias("n_removed"),
        F.sum(
            (
                F.col("h_cur").isNotNull()
                & F.col("h_base").isNotNull()
                & (F.col("h_cur") != F.col("h_base"))
            ).cast("long")
        ).alias("n_changed"),
        F.sum(
            (F.col("h_cur") == F.col("h_base")).cast("long")
        ).alias("n_identical"),
    )


# two-snapshot reconciliation vs the fixed sf0.001 baseline
SNAPSHOT_DIFF_SQL = """
            WITH cur AS (
                SELECT doc_id, md5(text) AS h_cur FROM documents
            ), base AS (
                SELECT doc_id, md5(text) AS h_base
                FROM '/root/testdata/sf0.001/documents.parquet'
            ), j AS (
                SELECT coalesce(c.doc_id, b.doc_id) AS doc_id,
                       c.h_cur, b.h_base
                FROM cur c FULL OUTER JOIN base b ON c.doc_id = b.doc_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_union,
                   CAST(sum(CASE WHEN h_base IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_added,
                   CAST(sum(CASE WHEN h_cur IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed,
                   CAST(sum(CASE WHEN h_cur IS NOT NULL
                                  AND h_base IS NOT NULL
                                  AND h_cur <> h_base
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                   CAST(sum(CASE WHEN h_cur = h_base THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_identical
            FROM j
        """
register("snapshot_diff", q_snapshot_diff, SNAPSHOT_DIFF_SQL)


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused by reciprocal-rank fusion
    (operators/fusion.py::hybrid_search_rrf): BM25 inverted-index ranking
    and brute-force cosine ranking, fused with exact-integer RRF scores
    over bounded per-system candidate lists."""
    return fusion.hybrid_search_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


register("hybrid_search_rrf", q_hybrid_search_rrf, fusion.hybrid_search_rrf_sql())


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty + cumulative coverage curve
    (operators/novelty.py::ngram_novelty): first-occurrence attribution
    over the shared shingle cache and a bucketed two-phase prefix sum —
    no global single-partition window at any corpus size."""
    return novelty.ngram_novelty(load_table(spark, sf_dir, "documents"))


register("ngram_novelty", q_ngram_novelty, novelty.ngram_novelty_sql())


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch deterministic HyperLogLog (operators/sketch.py::
    hll_cardinality): per-source distinct-shingle estimates plus the
    cell-wise-MAX merged corpus sketch, audited against exact counts —
    the mergeable cardinality twin of the CMS heavy-hitter sketch."""
    return sketch.hll_cardinality(load_table(spark, sf_dir, "documents"))


register("hll_cardinality", q_hll_cardinality, sketch.HLL_CARDINALITY_SQL)


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe (operators/sketch.py::
    bloom_contamination): per-doc benchmark overlap flagged through a
    fixed 2^16-bit membership sketch and audited against the exact join —
    the broadcast-a-filter (not the raw benchmark) shape that n-gram
    decontamination takes at 100 TB."""
    return sketch.bloom_contamination(load_table(spark, sf_dir, "documents"))


register("bloom_contamination", q_bloom_contamination, sketch.bloom_contamination_sql())


def q_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (operators/winnow.py): per-doc
    window-min k-gram fingerprint sets with the shared-substring
    guarantee, paired on shared fingerprints through a DF-capped inverted
    index — the robust-fingerprinting member of the dedup family."""
    return winnow.winnowing_pairs(load_table(spark, sf_dir, "documents"))


register("winnowing_pairs", q_winnowing_pairs, winnow.winnowing_pairs_sql())


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (operators/similarity.py::
    semantic_dedup): cluster-assign embeddings, drop every vector with a
    higher-priority within-cluster cosine near-duplicate (keep rule: least
    centroid-similar survives), one relational pass — the embedding-space
    member of the dedup family's collapse stage."""
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"),
        approx_rows=table_row_count(sf_dir, "embeddings"),
    )


register(
    "semantic_dedup",
    q_semantic_dedup,
    lambda: similarity.semantic_dedup_sql(approx_rows=_gate_rows()),
)


def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch/Kincaid readability per document (operators/text.py::
    readability): exact integer counts, fixed-point scores, integer-banded
    difficulty labels — map-only inside the scan."""
    return text.readability(load_table(spark, sf_dir, "documents"))


register("readability_scores", q_readability_scores, text.readability_sql())


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier gate: median / MAD of n_chars per
    source, flag docs with robust z = 0.6745·|x−med|/MAD > 3.5 (the
    Iglewicz-Hoberg modified z rule) — the outlier filter that, unlike
    mean/stddev gates, is not dragged by the outliers it hunts.

    Cross-engine determinism: medians of INTEGERS interpolate to exact
    half-units in IEEE doubles (k or k+0.5) in both engines, so 2·median
    is an exact BIGINT.  With m2 = 2·med, d = |2x − m2| (BIGINT),
    m4 = 2·median(d) = 4·MAD (BIGINT), the flag is the EXACT integer test
        13490·d > 35000·m4
    (the z>3.5 inequality cleared of all divisions).  Reported z_max is
    IEEE from the same integers, NULL when m4 = 0 (integer guard).

    Scale: two tiny per-source aggregates broadcast-joined back onto the
    scan — exact medians per group need a shuffle of (source, n_chars)
    pairs only; at 100 TB swap the exact percentile for the HDR sketch
    (operators/sketch.py) without changing the flag contract."""
    base = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    med = base.groupBy("source").agg(
        (F.expr("percentile(n_chars, 0.5)") * 2)
        .cast("long")
        .alias("m2")
    )
    d = base.join(F.broadcast(med), "source").select(
        "source",
        "m2",
        F.abs(F.col("n_chars") * 2 - F.col("m2")).alias("d"),
    )
    mad = d.groupBy("source").agg(
        (F.expr("percentile(d, 0.5)") * 2).cast("long").alias("m4")
    )
    flagged = d.join(F.broadcast(mad), "source").select(
        "source",
        "m2",
        "m4",
        "d",
        (
            (F.col("d") * 13490 > F.col("m4") * 35000)
            & (F.col("m4") > 0)
        ).cast("long").alias("is_out"),
    )
    zmax = F.when(
        F.col("m4") > 0,
        F.lit(1.349) * F.col("d_max").cast("double")
        / F.col("m4").cast("double"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("m2").alias("m2"),
            F.max("m4").alias("m4"),
            F.sum("is_out").alias("n_outliers"),
            F.max("d").alias("d_max"),
        )
        .select(
            "source",
            "n_docs",
            (F.col("m2").cast("double") / F.lit(2.0)).alias("med_chars"),
            (F.col("m4").cast("double") / F.lit(4.0)).alias("mad_chars"),
            "n_outliers",
            F.round(zmax, 6).alias("z_max"),
        )
    )


# robust per-source outlier gate: integer-cleared z>3.5 test
# (13490·d > 35000·m4), medians exact in half-units
MAD_OUTLIERS_SQL = """
            WITH base AS (
                SELECT source, n_chars FROM documents
            ),
            med AS MATERIALIZED (
                SELECT source,
                       CAST(median(n_chars) * 2 AS BIGINT) AS m2
                FROM base GROUP BY source
            ),
            d AS MATERIALIZED (
                SELECT b.source, med.m2,
                       abs(b.n_chars * 2 - med.m2) AS d
                FROM base b JOIN med USING (source)
            ),
            mad AS MATERIALIZED (
                SELECT source, CAST(median(d) * 2 AS BIGINT) AS m4
                FROM d GROUP BY source
            ),
            flagged AS (
                SELECT d.source, d.m2, mad.m4, d.d,
                       CASE WHEN d.d * 13490 > mad.m4 * 35000
                                 AND mad.m4 > 0
                            THEN 1 ELSE 0 END AS is_out
                FROM d JOIN mad USING (source)
            )
            SELECT source, count(*) AS n_docs,
                   max(m2)::DOUBLE / 2.0 AS med_chars,
                   max(m4)::DOUBLE / 4.0 AS mad_chars,
                   CAST(sum(is_out) AS BIGINT) AS n_outliers,
                   round(CASE WHEN max(m4) > 0 THEN
                       CAST('1.349' AS DOUBLE) * max(d)::DOUBLE
                       / max(m4)::DOUBLE END, 6) AS z_max
            FROM flagged GROUP BY source ORDER BY source
        """
register("mad_outliers", q_mad_outliers, MAD_OUTLIERS_SQL)


KFOLD_K = 5


def q_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (k=5) with a
    stratification audit: fold = h32(doc_id) mod k — stable across runs,
    machines, and engines, the property sklearn-style RNG splits lack —
    and per (fold, lang) cell counts with each cell's chi-square
    contribution against the uniform expectation, the balance check that
    certifies the folds are usable for stratified eval.

    Determinism: cell/lang counts are integers; the chi term
    (n − T/k)²/(T/k) is cleared to ((k·n − T)²)/(k·T) — an exact BIGINT
    numerator over one double division, identical trees both engines.

    Scale: one groupBy on (fold, lang) — pre-aggregated map-side — plus a
    broadcast join of per-lang totals; no shuffle of raw docs."""
    from marketstream_etl_spark.functions.hashing import h32

    k = KFOLD_K
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    cells = (
        docs.select(
            (h32(F.col("doc_id").cast("string")) % k).alias("fold"), "lang"
        )
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"))
    )
    totals = cells.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    d = F.col("n_docs") * k - F.col("lang_total")
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "fold",
            "lang",
            "n_docs",
            "lang_total",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("lang_total").cast("double"),
                6,
            ).alias("share"),
            F.round(
                (d * d).cast("double")
                / (F.col("lang_total") * k).cast("double"),
                6,
            ).alias("chi_term"),
        )
    )


# deterministic hash k-fold + stratification chi audit
KFOLD_ASSIGN_SQL = f"""
            WITH cells AS MATERIALIZED (
                SELECT {h32_sql("CAST(doc_id AS VARCHAR)")} % 5 AS fold,
                       lang, count(*) AS n_docs
                FROM documents GROUP BY 1, 2
            ),
            totals AS (
                SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
                FROM cells GROUP BY lang
            )
            SELECT c.fold, c.lang, c.n_docs, t.lang_total,
                   round(c.n_docs::DOUBLE / t.lang_total::DOUBLE, 6)
                       AS share,
                   round(((c.n_docs * 5 - t.lang_total)
                          * (c.n_docs * 5 - t.lang_total))::DOUBLE
                         / (t.lang_total * 5)::DOUBLE, 6) AS chi_term
            FROM cells c JOIN totals t USING (lang)
            ORDER BY c.fold, c.lang
        """
register("kfold_assign", q_kfold_assign, KFOLD_ASSIGN_SQL)


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (operators/sketch.py::hll_set_ops): pairwise
    source union/intersection/Jaccard from register-max sketch merges
    with integer inclusion-exclusion, audited against exact overlap."""
    return sketch.hll_set_ops(load_table(spark, sf_dir, "documents"))


register("hll_set_ops", q_hll_set_ops, sketch.hll_set_ops_sql())


ZIPF_TOP_K = 500


def q_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus token frequencies: the log-log
    rank/frequency regression a corpus-quality screen runs next to the
    Benford audit — natural text fits ln(freq) ≈ a + slope·ln(rank) with
    slope near −1 and high R²; template spam, boilerplate floods, and
    synthetic filler bend the tail.

    Output: one row — n_terms, the fitted slope/intercept/R² (rounded),
    and the frequency mass the top-K carries.

    Scale shape: token counts are ONE partial-aggregated groupBy; the
    top-K selection compiles to TakeOrderedAndProject (no global sort);
    ranks are assigned by a broadcast non-equi self-join on the K-row
    frame (no single-partition window); the regression is a built-in
    linear-moment aggregate over K rows."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    # vocab-bounded frame feeding the total agg AND the top-K select —
    # checkpoint so the corpus explode+aggregate runs once
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt").alias("n_tokens"))
    top = counts.orderBy(F.desc("cnt"), "token").limit(ZIPF_TOP_K)
    other = top.select(
        F.col("token").alias("t2"), F.col("cnt").alias("c2")
    )
    ranked = (
        top.join(
            F.broadcast(other),
            (F.col("c2") > F.col("cnt"))
            | ((F.col("c2") == F.col("cnt")) & (F.col("t2") < F.col("token"))),
            "left",
        )
        .groupBy("token", "cnt")
        .agg((F.count("t2") + F.lit(1)).alias("rank"))
    )
    return (
        ranked.agg(
            F.count("*").alias("n_terms"),
            F.sum("cnt").alias("topk_tokens"),
            F.round(
                F.regr_slope(F.log("cnt"), F.log("rank")), 6
            ).alias("zipf_slope"),
            F.round(
                F.regr_intercept(F.log("cnt"), F.log("rank")), 6
            ).alias("zipf_intercept"),
            F.round(F.regr_r2(F.log("cnt"), F.log("rank")), 6).alias(
                "zipf_r2"
            ),
        )
        .join(F.broadcast(total))
        .select(
            "n_terms",
            "topk_tokens",
            "n_tokens",
            F.round(
                F.col("topk_tokens").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("topk_mass"),
            "zipf_slope",
            "zipf_intercept",
            "zipf_r2",
        )
    )


def zipf_audit_sql() -> str:
    """DuckDB replay: identical counts, TakeOrdered top-K, broadcast-rank
    self-join, and regr_* moments."""
    return f"""
        WITH counts AS MATERIALIZED (
            SELECT t AS token, count(*) AS cnt
            FROM (SELECT unnest({tokens_sql("text")}) AS t FROM documents)
            GROUP BY t
        ),
        total AS (SELECT sum(cnt) AS n_tokens FROM counts),
        top AS MATERIALIZED (
            SELECT token, cnt FROM counts
            ORDER BY cnt DESC, token LIMIT {ZIPF_TOP_K}
        ),
        ranked AS (
            SELECT a.token, a.cnt, count(b.token) + 1 AS rank
            FROM top a
            LEFT JOIN top b
              ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.token < a.token)
            GROUP BY a.token, a.cnt
        )
        -- scalar subqueries (not CROSS JOIN + GROUP BY): a degenerate
        -- empty corpus must still emit ONE row, matching Spark's global agg
        SELECT count(*) AS n_terms,
               CAST(sum(cnt) AS BIGINT) AS topk_tokens,
               CAST((SELECT n_tokens FROM total) AS BIGINT) AS n_tokens,
               round(sum(cnt)::DOUBLE
                     / (SELECT n_tokens FROM total)::DOUBLE, 6) AS topk_mass,
               round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
               round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
               round(regr_r2(ln(cnt), ln(rank)), 6) AS zipf_r2
        FROM ranked
    """


register("zipf_audit", q_zipf_audit, zipf_audit_sql())


def q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical diversity: Shannon entropy of the token
    distribution, normalized entropy (H / ln(vocab)), and type-token
    ratio — the mixture-design diagnostic that separates diverse prose
    sources from template mills before source weights are chosen.

    Determinism: each term's −p·ln(p) contribution is fixed-pointed
    (floor(x·1e9 + 0.5)) BEFORE the per-source sum, so the total is an
    order-independent BIGINT sum — the token_drift discipline.

    Scale: one (source, token) partial-aggregated groupBy, then a
    per-source roll-up; nothing is broadcast, nothing is collected."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("cnt"))
    )
    totals = tok.groupBy("source").agg(F.sum("cnt").alias("n_tokens"))
    p = F.col("cnt").cast("double") / F.col("n_tokens").cast("double")
    contrib = F.floor(-p * F.log(p) * F.lit(1e9) + F.lit(0.5)).cast("long")
    per_src = (
        tok.join(totals, "source")
        .select("source", "n_tokens", contrib.alias("h_fp"))
        .groupBy("source", "n_tokens")
        .agg(F.sum("h_fp").alias("h_fp"), F.count("*").alias("n_terms"))
    )
    ent = F.col("h_fp").cast("double") / F.lit(1e9)
    return per_src.select(
        "source",
        "n_tokens",
        "n_terms",
        F.round(ent, 6).alias("entropy"),
        # single-term source: H/ln(1) is 0/0 — surfaced as NULL in BOTH
        # engines (ANSI mode would throw, DuckDB would return inf)
        F.when(
            F.col("n_terms") > 1,
            F.round(ent / F.log(F.col("n_terms").cast("double")), 6),
        ).alias("norm_entropy"),
        F.round(
            F.col("n_terms").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("type_token_ratio"),
    )


def source_entropy_sql() -> str:
    """DuckDB replay: identical fixed-point per-term contributions and
    BIGINT summation."""
    return f"""
        WITH tok AS (
            SELECT source, t, count(*) AS cnt
            FROM (SELECT source, unnest({tokens_sql("text")}) AS t
                  FROM documents)
            GROUP BY source, t
        ),
        totals AS (SELECT source, sum(cnt) AS n_tokens FROM tok GROUP BY source),
        per_src AS (
            SELECT tok.source, n_tokens,
                   sum(CAST(floor(
                       -(cnt::DOUBLE / n_tokens::DOUBLE)
                       * ln(cnt::DOUBLE / n_tokens::DOUBLE)
                       * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS h_fp,
                   count(*) AS n_terms
            FROM tok JOIN totals USING (source)
            GROUP BY tok.source, n_tokens
        )
        SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, n_terms,
               round(h_fp::DOUBLE / 1e9, 6) AS entropy,
               CASE WHEN n_terms > 1
                    THEN round((h_fp::DOUBLE / 1e9) / ln(n_terms::DOUBLE), 6)
               END AS norm_entropy,
               round(n_terms::DOUBLE / n_tokens::DOUBLE, 6)
                   AS type_token_ratio
        FROM per_src ORDER BY source
    """


register("source_entropy", q_source_entropy, source_entropy_sql())


PAD_BUCKETS = (128, 256, 512, 1024)


def q_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: assign each document to the
    smallest power-of-two context bucket that holds its token count
    (docs over the top bucket are truncated to it) and report per bucket
    the doc count, real tokens, padded slots, pad waste, truncated
    tokens, and packing efficiency — the numbers that decide bucket
    boundaries before large-scale batch assembly (sequence_packing's
    planning twin).

    Scale: token counts are a map-side size(split) inside the scan; the
    report is one bounded-key hash aggregate."""
    from marketstream_etl_spark.functions.hashing import tokens

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    bucket = F.when(F.lit(False), F.lit(0))
    for b in PAD_BUCKETS:
        bucket = bucket.when(n_tok <= b, F.lit(b))
    bucket = bucket.otherwise(F.lit(PAD_BUCKETS[-1]))
    kept = F.least(n_tok, F.lit(PAD_BUCKETS[-1]))
    per = (
        docs.select(
            bucket.alias("bucket"),
            n_tok.alias("n_tok"),
            kept.alias("kept"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("real_tokens"),
            F.sum(F.col("n_tok") - F.col("kept")).alias("truncated_tokens"),
        )
    )
    slots = F.col("bucket").cast("long") * F.col("n_docs")
    return per.select(
        "bucket",
        "n_docs",
        "real_tokens",
        "truncated_tokens",
        slots.alias("padded_slots"),
        (slots - F.col("real_tokens")).alias("pad_waste"),
        F.round(
            F.col("real_tokens").cast("double") / slots.cast("double"), 6
        ).alias("efficiency"),
    )


def padding_efficiency_sql() -> str:
    """DuckDB replay: identical bucket CASE chain and integer accounting."""
    cases = " ".join(
        f"WHEN n_tok <= {b} THEN {b}" for b in PAD_BUCKETS
    )
    return f"""
        WITH counted AS (
            SELECT len({tokens_sql("text")}) AS n_tok FROM documents
        ),
        assigned AS (
            SELECT CASE {cases} ELSE {PAD_BUCKETS[-1]} END AS bucket,
                   n_tok,
                   least(n_tok, {PAD_BUCKETS[-1]}) AS kept
            FROM counted
        ),
        per AS (
            SELECT bucket, count(*) AS n_docs,
                   CAST(sum(kept) AS BIGINT) AS real_tokens,
                   CAST(sum(n_tok - kept) AS BIGINT) AS truncated_tokens
            FROM assigned GROUP BY bucket
        )
        SELECT bucket, n_docs, real_tokens, truncated_tokens,
               bucket * n_docs AS padded_slots,
               bucket * n_docs - real_tokens AS pad_waste,
               round(real_tokens::DOUBLE / (bucket * n_docs)::DOUBLE, 6)
                   AS efficiency
        FROM per ORDER BY bucket
    """


register("padding_efficiency", q_padding_efficiency, padding_efficiency_sql())


# --- classifier evaluation: ROC-AUC + calibration ----------------------------
# The quality classifier (q_quality_classifier) scores every document; a
# training pipeline that gates on that score needs to know (a) how well it
# RANKS the class it proxies (AUC) and (b) whether its probabilities are
# honest (calibration/ECE).  Ground-truth label: lang = 'en' — the quality
# model's stop-word feature is English-stopword-based, so the English
# subset is the class the score should separate.
#
# Scale discipline (both ops): the per-document score is one map-side
# projection over the generation-cached analysis frame plus a doc_id join
# for the label; everything downstream is GRID-BOUNDED — scores are e6
# fixed-pointed then binned (1000 ROC buckets / 10 calibration bins), so
# state is <= 1001 rows no matter the corpus size, the cumulative is the
# repo's bounded triangular join (never an unpartitioned window), and the
# statistics are order-independent BIGINT sums.  AUC on the e3-binned
# scores is the exact midrank AUC of the discretized score — the estimator
# a 100 TB pipeline uses (exact distinct-score AUC needs a global sort).

ROC_N_BUCKETS = 1000  # e3 probability grid
# e6 score units per ROC bucket — derived so changing ROC_N_BUCKETS keeps
# the grid width and the ROC_N_BUCKETS-1 clamp in sync (in both engines)
ROC_BUCKET_WIDTH_E6 = 1_000_000 // ROC_N_BUCKETS
CAL_N_BINS = 10  # reliability-diagram bins
CAL_ECE_THRESH_E6 = 100_000  # conventional "well calibrated" line: 0.1


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_e6, pos) — e6 fixed-point classifier score + binary
    label; shared input frame of roc_auc and calibration_ece."""
    docs = load_table(spark, sf_dir, "documents")
    a = text.analyzed_documents_cached(docs)
    z = (
        F.lit(-1.5)
        + F.lit(4.0) * F.col("stop_ratio")
        - F.lit(6.0) * F.col("punct_ratio")
        + F.lit(0.01) * F.least(F.col("n_tokens"), F.lit(200))
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    scored = a.select(
        "doc_id",
        F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "score_e6"
        ),
    )
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("pos")
    )
    return scored.join(labels, "doc_id")


def scored_from_raw(docs: DataFrame) -> DataFrame:
    """(doc_id, score_e6, pos) straight from raw (doc_id, text, lang)
    rows — the STREAM-SAFE scorer (one map-only projection, no batch
    cache): features are rounded to 6 exactly as analyze_documents
    rounds them before scoring, so the score is bit-identical to
    _quality_scored's cached-frame path and the streaming twin shares
    the batch oracle.

    The batch (micro- or otherwise) is SPREAD before the scoring
    expressions: a file-source micro-batch arrives as ONE partition and
    would otherwise score on a single thread (the r8 in-stream shingle
    lesson; measured 22.4 s -> ~6 s for the streaming IV monitor at the
    520K-doc sf10 replay).

    VECTORIZED COUNT SHAPE (r10): the hot path never materializes the
    token array — n_tokens is regexp_count of maximal [a-z0-9] runs
    (== size of the filtered split, tokens are exactly those runs),
    stop_hits is one longest-first whole-token alternation scan
    (lookarounds pin run boundaries, so each disjoint token matches at
    most one alternative — == the list_filter hit count), and the punct
    count is the regex-free text.punct_count translate.  All three are
    the SAME integers as the quality_features array path (checksum-equal
    over the 520K-doc corpus; property-locked in tests/test_text.py), so
    the score stays bit-identical to _quality_scored and the batch
    oracle; measured 20.8 s -> ~2 s per 520K-doc replay."""
    from marketstream_etl_spark.sources.tables import spread

    docs = spread(docs)
    low = F.lower(F.col("text"))
    n_tokens = F.regexp_count(low, F.lit("[a-z0-9]+"))
    # regex-escape each word: all current stopwords are pure [a-z]+, but a
    # future metacharacter-bearing entry must not silently change the
    # pattern semantics vs the list_filter hit count it is locked against
    alt = "|".join(
        re.escape(w) for w in sorted(text.STOPWORDS, key=len, reverse=True)
    )
    stop_hits = F.regexp_count(
        low, F.lit(f"(?<![a-z0-9])(?:{alt})(?![a-z0-9])")
    )
    n_chars = F.length(F.col("text"))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(
        n_chars > 0, text.punct_count(F.col("text")) / n_chars
    ).otherwise(F.lit(0.0))
    z = (
        F.lit(-1.5)
        + F.lit(4.0) * F.round(stop_ratio, 6)
        - F.lit(6.0) * F.round(punct_ratio, 6)
        + F.lit(0.01) * F.least(n_tokens, F.lit(200))
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    return docs.select(
        "doc_id",
        F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "score_e6"
        ),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )


_QUALITY_SCORED_SQL = """
    SELECT a.doc_id,
           CAST(floor((0.5 + 0.5 * z / (1.0 + abs(z))) * 1e6
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_e6,
           CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM (
        SELECT doc_id,
               (-1.5 + 4.0 * stop_ratio - 6.0 * punct_ratio
                + 0.01 * LEAST(n_tokens, 200)) AS z
        FROM ({analyzed})
    ) a JOIN documents d USING (doc_id)
"""


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact midrank ROC-AUC of the quality score against the lang='en'
    label, on the e3-binned score grid (ROC_N_BUCKETS buckets).

    AUC == P(score_pos > score_neg) + 0.5*P(tie) == U1/(n1*n2), computed
    through the SAME exact-BIGINT midrank identity as mannwhitney_drift:
      m2(b)  = 2*cum_t(b-1) + t_b + 1     (2x the bucket midrank)
      2*R1   = sum_b a_b * m2(b)          (BIGINT, exact)
      2*U1   = 2*R1 - n1*(n1+1)           (BIGINT, exact)
    so the only double is the one final division, e6 fixed-pointed with
    the identical expression in the oracle; Gini = 2*AUC - 1 is derived
    in INTEGER e6 units from the same fixed point.  Nonempty buckets
    only (empty buckets carry no rank mass): the cumulative triangular
    join touches <= 1000 rows at any corpus size.

    On the synthetic corpus the illustrative weights land near chance
    (AUC ~0.507 at sf0.01) — the generator draws stop-words uniformly
    across languages, so the honest verdict IS near-zero separation;
    the operator is the measuring instrument a real pipeline points at
    trained weights."""
    return roc_from_counts(spark, _roc_counts(_quality_scored(spark, sf_dir)))


def _roc_counts(scored: DataFrame) -> DataFrame:
    """(bucket, a, c) positive/negative counts on the e3 score grid from
    a (score_e6, pos) frame — the only corpus-sized work, so it doubles
    as the streaming twin's complete-mode state (<= ROC_N_BUCKETS+1 rows)."""
    return (
        scored.select(
            F.least(
                F.expr(f"score_e6 DIV {ROC_BUCKET_WIDTH_E6}"),
                F.lit(ROC_N_BUCKETS - 1),
            ).cast("int").alias("bucket"),
            "pos",
        )
        .groupBy("bucket")
        .agg(
            F.sum("pos").cast("long").alias("a"),
            F.sum(F.lit(1) - F.col("pos")).cast("long").alias("c"),
        )
    )


def roc_from_counts(spark: SparkSession, counts: DataFrame) -> DataFrame:
    """AUC report from a (bucket, a, c) counts frame — same shared-core
    contract as calibration_from_counts, so a streaming twin's drained
    state reuses it verbatim."""
    grp = (
        counts.withColumn("t", F.col("a") + F.col("c"))
        .localCheckpoint(eager=False)  # grid-bounded, two consumers
    )
    lower = grp.select(F.col("bucket").alias("b2"), F.col("t").alias("t2"))
    cum_prev = (
        grp.select("bucket")
        .join(lower, F.col("b2") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.coalesce(F.sum("t2"), F.lit(0)).cast("long").alias("cum_prev"))
    )
    agg = (
        grp.join(cum_prev, "bucket")
        .select(
            "a",
            "c",
            (
                F.col("a")
                * (F.lit(2) * F.col("cum_prev") + F.col("t") + F.lit(1))
            ).alias("am2"),
        )
        .agg(
            F.sum("a").cast("long").alias("n_pos"),
            F.sum("c").cast("long").alias("n_neg"),
            F.sum("am2").cast("long").alias("r1_2"),
        )
    )
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    u1_2 = F.col("r1_2") - F.col("n_pos") * (F.col("n_pos") + F.lit(1))
    auc_e6 = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        fp(
            u1_2.cast("double")
            / (
                F.lit(2.0)
                * (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
            )
        ),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        auc_e6.alias("auc_e6"),
    ).select(
        "n_pos",
        "n_neg",
        (F.col("auc_e6").cast("double") / F.lit(1e6)).alias("auc"),
        (
            (F.lit(2) * F.col("auc_e6") - F.lit(1_000_000)).cast("double")
            / F.lit(1e6)
        ).alias("gini"),
    )


def roc_auc_sql() -> str:
    """DuckDB replay: identical score fixed-point, e3 grid, BIGINT
    midranks (window cumulative — DuckDB is the oracle, not the scale
    path), identical-op-order final division."""
    scored = _QUALITY_SCORED_SQL.format(analyzed=text.analyze_documents_sql())
    return f"""
        WITH scored AS ({scored}),
        grp AS (
            SELECT CAST(least(score_e6 // {ROC_BUCKET_WIDTH_E6},
                              {ROC_N_BUCKETS - 1})
                        AS INTEGER) AS bucket,
                   CAST(sum(pos) AS BIGINT) AS a,
                   CAST(sum(1 - pos) AS BIGINT) AS c
            FROM scored GROUP BY 1
        ),
        per AS (
            SELECT a, c,
                   a * (2 * CAST(coalesce(sum(a + c) OVER (
                                ORDER BY bucket
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS BIGINT)
                        + (a + c) + 1) AS am2
            FROM grp
        ),
        agg AS (
            SELECT CAST(sum(a) AS BIGINT) AS n_pos,
                   CAST(sum(c) AS BIGINT) AS n_neg,
                   CAST(sum(am2) AS BIGINT) AS r1_2
            FROM per
        ),
        fixed AS (
            SELECT n_pos, n_neg,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                       CAST(floor((r1_2 - n_pos * (n_pos + 1))::DOUBLE
                                  / (2.0 * (n_pos::DOUBLE * n_neg::DOUBLE))
                                  * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END AS auc_e6
            FROM agg
        )
        SELECT n_pos, n_neg,
               auc_e6::DOUBLE / 1e6 AS auc,
               (2 * auc_e6 - 1000000)::DOUBLE / 1e6 AS gini
        FROM fixed
    """


ROC_AUC_SQL = roc_auc_sql()
register("roc_auc", q_roc_auc, ROC_AUC_SQL)


def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Expected Calibration Error of the quality
    score against the lang='en' label: CAL_N_BINS equal-width probability
    bins; per bin the mean predicted probability (confidence) vs the
    observed positive rate (accuracy).

    Exact integer core: per-bin |acc - conf| * n_b * 1e6
    == |pos_b * 1e6 - sum(score_e6)| is a BIGINT identity (no float gap
    per bin), so ECE = sum_b gap_fp_b / (N * 1e6) and
    MCE = max_b gap_fp_b / (n_b * 1e6) each take exactly ONE double
    division, e6 fixed-pointed identically in the oracle.  State is the
    10-bin histogram at any corpus size; full spine emitted (empty bins
    surface as n=0 rows, the shape a dashboard plots)."""
    return calibration_from_counts(
        spark, _calibration_counts(_quality_scored(spark, sf_dir))
    )


def _calibration_counts(scored: DataFrame) -> DataFrame:
    """(bin, n, n_pos, conf_sum_e6) histogram from a (score_e6, pos)
    frame — the aggregation is the ONLY corpus-sized work, so it doubles
    as the streaming twin's complete-mode state (bounded CAL_N_BINS
    rows)."""
    return (
        scored.select(
            F.least(
                F.expr(f"score_e6 DIV {1_000_000 // CAL_N_BINS}"),
                F.lit(CAL_N_BINS - 1),
            ).cast("int").alias("bin"),
            "pos",
            "score_e6",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("score_e6").cast("long").alias("conf_sum_e6"),
        )
    )


def calibration_from_counts(spark: SparkSession, per: DataFrame) -> DataFrame:
    """Calibration report from a (bin, n, n_pos, conf_sum_e6) counts
    frame — same shared-core contract as the drift family's
    *_from_counts, so a streaming twin's drained state reuses it
    verbatim."""
    spine = spark.range(CAL_N_BINS).select(
        F.col("id").cast("int").alias("bin")
    )
    per = (
        spine.join(per, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("n_pos"), F.lit(0)).alias("n_pos"),
            F.coalesce(F.col("conf_sum_e6"), F.lit(0)).alias("conf_sum_e6"),
        )
        .withColumn(
            "gap_fp",
            F.abs(F.col("n_pos") * F.lit(1_000_000) - F.col("conf_sum_e6")),
        )
        .localCheckpoint(eager=False)  # grid-bounded, two consumers
    )
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    nd = F.col("n").cast("double")
    bin_gap_e6 = F.when(
        F.col("n") > 0,
        fp(F.col("gap_fp").cast("double") / (nd * F.lit(1e6))),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("gap_fp").cast("long").alias("gap_total_fp"),
        F.max(bin_gap_e6).alias("mce_e6"),
    ).select(
        "n_total",
        "mce_e6",
        F.when(
            F.col("n_total") > 0,
            fp(
                F.col("gap_total_fp").cast("double")
                / (F.col("n_total").cast("double") * F.lit(1e6))
            ),
        ).alias("ece_e6"),
    )
    conf = F.when(
        F.col("n") > 0,
        F.round(F.col("conf_sum_e6").cast("double") / (nd * F.lit(1e6)), 6),
    )
    acc = F.when(
        F.col("n") > 0, F.round(F.col("n_pos").cast("double") / nd, 6)
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            conf.alias("confidence"),
            acc.alias("accuracy"),
            (bin_gap_e6.cast("double") / F.lit(1e6)).alias("bin_gap"),
            (F.col("ece_e6").cast("double") / F.lit(1e6)).alias("ece"),
            (F.col("mce_e6").cast("double") / F.lit(1e6)).alias("mce"),
            F.coalesce(
                F.col("ece_e6") <= F.lit(CAL_ECE_THRESH_E6), F.lit(False)
            ).alias("well_calibrated"),
        )
    )


def calibration_ece_sql() -> str:
    """DuckDB replay: identical score fixed-point, 10-bin spine, BIGINT
    gap identity, identical-op-order ECE/MCE divisions."""
    scored = _QUALITY_SCORED_SQL.format(analyzed=text.analyze_documents_sql())
    w = 1_000_000 // CAL_N_BINS
    return f"""
        WITH scored AS ({scored}),
        grp AS (
            SELECT CAST(least(score_e6 // {w}, {CAL_N_BINS - 1})
                        AS INTEGER) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(score_e6) AS BIGINT) AS conf_sum_e6
            FROM scored GROUP BY 1
        ),
        per AS (
            SELECT s.bin,
                   coalesce(n, 0) AS n,
                   coalesce(n_pos, 0) AS n_pos,
                   coalesce(conf_sum_e6, 0) AS conf_sum_e6,
                   abs(coalesce(n_pos, 0) * 1000000
                       - coalesce(conf_sum_e6, 0)) AS gap_fp
            FROM (SELECT unnest(range(0, {CAL_N_BINS}))::INTEGER AS bin) s
            LEFT JOIN grp USING (bin)
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS n_total,
                   max(CASE WHEN n > 0 THEN
                       CAST(floor(gap_fp::DOUBLE / (n::DOUBLE * 1e6) * 1e6
                                  + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END) AS mce_e6,
                   CASE WHEN sum(n) > 0 THEN
                       CAST(floor(CAST(sum(gap_fp) AS BIGINT)::DOUBLE
                                  / (CAST(sum(n) AS BIGINT)::DOUBLE * 1e6)
                                  * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END AS ece_e6
            FROM per
        )
        SELECT bin, n, n_pos,
               CASE WHEN n > 0
                    THEN round(conf_sum_e6::DOUBLE / (n::DOUBLE * 1e6), 6)
               END AS confidence,
               CASE WHEN n > 0 THEN round(n_pos::DOUBLE / n::DOUBLE, 6)
               END AS accuracy,
               CASE WHEN n > 0 THEN
                   CAST(floor(gap_fp::DOUBLE / (n::DOUBLE * 1e6) * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT)::DOUBLE / 1e6
               END AS bin_gap,
               ece_e6::DOUBLE / 1e6 AS ece,
               mce_e6::DOUBLE / 1e6 AS mce,
               coalesce(ece_e6 <= {CAL_ECE_THRESH_E6}, FALSE)
                   AS well_calibrated
        FROM per CROSS JOIN tot
        ORDER BY bin
    """


CALIBRATION_ECE_SQL = calibration_ece_sql()
register("calibration_ece", q_calibration_ece, CALIBRATION_ECE_SQL)


# Siddiqi's conventional IV predictiveness bands, e6 fixed-point:
# < 0.02 useless, < 0.1 weak, < 0.3 medium, else strong.
IV_CLAMP = 1e-4  # same share-smoothing discipline as the PSI family
IV_BANDS_FP = ((20_000, "useless"), (100_000, "weak"), (300_000, "medium"))


def q_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information Value audit of the quality score
    against the lang='en' label — the third member of the classifier-
    evaluation family: AUC measures RANKING, calibration measures
    probability HONESTY, IV measures per-bin SIGNAL (which score regions
    separate the classes, and how much predictive power the binned
    feature carries overall).  Algebraically IV is the PSI between the
    two class-conditional score distributions, so this reuses the PSI
    family's exact discipline: clamped shares, per-bin e6 fixed-point
    contributions, order-independent BIGINT total, conventional
    (Siddiqi) banding.

    Scale shape: one map-side projection over the generation-cached
    scored frame, one (bin) hash aggregate; everything downstream is
    bounded by the CAL_N_BINS grid (spine join, 1-row totals broadcasts).
    Output per bin: (bin, share_pos, share_neg, woe, iv_part) plus the
    iv_total and predictiveness band on every row."""
    return iv_from_counts(
        spark, _iv_counts(_quality_scored(spark, sf_dir))
    )


def _iv_counts(scored: DataFrame) -> DataFrame:
    """(bin, a, c) class counts per score bin from a (score_e6, pos)
    frame — the only corpus-sized work; doubles as the streaming twin's
    complete-mode state (bounded CAL_N_BINS rows)."""
    return (
        scored.select(
            F.least(
                F.expr(f"score_e6 DIV {1_000_000 // CAL_N_BINS}"),
                F.lit(CAL_N_BINS - 1),
            ).cast("int").alias("bin"),
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.sum("pos").cast("long").alias("a"),
            F.sum(F.lit(1) - F.col("pos")).cast("long").alias("c"),
        )
    )


def iv_from_counts(spark: SparkSession, grp: DataFrame) -> DataFrame:
    """WoE/IV report from a (bin, a, c) counts frame — same shared-core
    contract as the family's other *_from_counts."""
    grp = grp.localCheckpoint(eager=False)  # bounded, four consumers
    spine = spark.range(CAL_N_BINS).select(
        F.col("id").cast("int").alias("bin")
    )
    share = F.when(
        F.col("n_cls") > 0,
        F.coalesce(F.col("x"), F.lit(0)).cast("double")
        / F.col("n_cls").cast("double"),
    ).otherwise(F.lit(0.0))
    clamped = F.greatest(share, F.lit(IV_CLAMP))

    def _side(col: str, alias: str) -> DataFrame:
        part = grp.select("bin", F.col(col).alias("x"))
        tot = grp.agg(F.coalesce(F.sum(col), F.lit(0)).alias("n_cls"))
        return spine.join(part, "bin", "left").join(
            F.broadcast(tot)
        ).select("bin", clamped.alias(alias))

    both = _side("a", "p_pos").join(_side("c", "p_neg"), "bin")
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    woe = F.log(F.col("p_pos") / F.col("p_neg"))
    contrib = (F.col("p_pos") - F.col("p_neg")) * woe
    fixed = both.select(
        "bin",
        F.round("p_pos", 6).alias("share_pos"),
        F.round("p_neg", 6).alias("share_neg"),
        fp(woe).alias("woe_fp"),
        fp(contrib).alias("iv_fp"),
    ).localCheckpoint(eager=False)  # bounded, two consumers
    total = fixed.agg(F.sum("iv_fp").cast("long").alias("iv_total_fp"))
    band = (
        F.when(F.col("iv_total_fp") < IV_BANDS_FP[0][0], IV_BANDS_FP[0][1])
        .when(F.col("iv_total_fp") < IV_BANDS_FP[1][0], IV_BANDS_FP[1][1])
        .when(F.col("iv_total_fp") < IV_BANDS_FP[2][0], IV_BANDS_FP[2][1])
        .otherwise("strong")
    )
    return (
        fixed.join(F.broadcast(total))
        .select(
            "bin",
            "share_pos",
            "share_neg",
            (F.col("woe_fp").cast("double") / F.lit(1e6)).alias("woe"),
            (F.col("iv_fp").cast("double") / F.lit(1e6)).alias("iv_part"),
            (F.col("iv_total_fp").cast("double") / F.lit(1e6)).alias(
                "iv_total"
            ),
            band.alias("predictiveness"),
        )
    )


def information_value_sql() -> str:
    """DuckDB replay: identical score fixed-point, bins, clamped shares,
    e6 fixed-point WoE/contributions, Siddiqi banding."""
    scored = _QUALITY_SCORED_SQL.format(analyzed=text.analyze_documents_sql())
    w = 1_000_000 // CAL_N_BINS
    side = f"""
        SELECT s.bin,
               greatest(CASE WHEN n_cls > 0
                             THEN coalesce(x, 0)::DOUBLE / n_cls::DOUBLE
                             ELSE CAST(0.0 AS DOUBLE) END,
                        CAST({IV_CLAMP} AS DOUBLE)) AS {{alias}}
        FROM (SELECT unnest(range(0, {CAL_N_BINS}))::INTEGER AS bin) s
        LEFT JOIN (
            SELECT CAST(least(score_e6 // {w}, {CAL_N_BINS - 1})
                        AS INTEGER) AS bin,
                   CAST(sum({{x}}) AS BIGINT) AS x
            FROM scored GROUP BY 1
        ) c USING (bin)
        CROSS JOIN (
            SELECT CAST(coalesce(sum({{x}}), 0) AS BIGINT) AS n_cls
            FROM scored
        ) t
    """
    a = side.format(alias="p_pos", x="pos")
    b = side.format(alias="p_neg", x="1 - pos")
    bands = (
        f"WHEN iv_total_fp < {IV_BANDS_FP[0][0]} THEN '{IV_BANDS_FP[0][1]}' "
        f"WHEN iv_total_fp < {IV_BANDS_FP[1][0]} THEN '{IV_BANDS_FP[1][1]}' "
        f"WHEN iv_total_fp < {IV_BANDS_FP[2][0]} THEN '{IV_BANDS_FP[2][1]}' "
    )
    return f"""
        WITH scored AS ({scored}),
        fixed AS (
            SELECT a.bin,
                   round(p_pos, 6) AS share_pos,
                   round(p_neg, 6) AS share_neg,
                   CAST(floor(ln(p_pos / p_neg) * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS woe_fp,
                   CAST(floor((p_pos - p_neg) * ln(p_pos / p_neg) * 1e6
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS iv_fp
            FROM ({a}) a JOIN ({b}) b USING (bin)
        ),
        total AS (
            SELECT CAST(sum(iv_fp) AS BIGINT) AS iv_total_fp FROM fixed
        )
        SELECT bin, share_pos, share_neg,
               woe_fp::DOUBLE / 1e6 AS woe,
               iv_fp::DOUBLE / 1e6 AS iv_part,
               iv_total_fp::DOUBLE / 1e6 AS iv_total,
               CASE {bands} ELSE 'strong' END AS predictiveness
        FROM fixed CROSS JOIN total
        ORDER BY bin
    """


INFORMATION_VALUE_SQL = information_value_sql()
register("information_value", q_information_value, INFORMATION_VALUE_SQL)


# --- embedding drift ---------------------------------------------------------
# Train/serve skew detection for vector features: per-DIMENSION PSI between
# two embedding snapshots (even vec_ids = baseline, odd = candidate — the
# deterministic stand-in for "yesterday's index vs today's crawl").  A
# centroid-cosine check misses axis-aligned variance shifts; per-dim PSI
# localizes WHICH coordinates moved, the report an embedding pipeline
# alarms on before ANN recall silently degrades.

EMB_DRIFT_LO = -0.5  # synthetic embeddings live in ~[-0.5, 0.5]
EMB_DRIFT_W = 0.1
EMB_DRIFT_BUCKETS = 10
EMB_DRIFT_CLAMP = 1e-4  # PSI-family share smoothing
EMB_DRIFT_FP = 250_000  # per-dim drift line (the PSI 'drifted' band)


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension PSI drift between embedding snapshots.

    Scale shape: ONE posexplode projection (dim x rows, map-side) into
    one (snap, dim, bucket) hash aggregate; everything downstream is
    bounded by dims x buckets (the spine is a broadcast nested-loop of
    two bounded frames, never a scale-growing cross).  Per-dim PSI uses
    the family's exact discipline: clamped shares, e6 fixed-point
    contributions, order-independent BIGINT per-dim totals.  Output per
    dimension: (dim, psi, dim_drifted) plus corpus-level max_psi /
    n_drifted_dims on every row."""
    return emb_drift_from_counts(
        spark, _emb_drift_counts(load_table(spark, sf_dir, "embeddings"))
    )


def _emb_drift_counts(emb: DataFrame) -> DataFrame:
    """(snap, dim, bucket, n) histogram from an embeddings frame — the
    posexplode + hash aggregate is the only input-sized work, so it
    doubles as the streaming twin's complete-mode state (bounded
    2 x dims x EMB_DRIFT_BUCKETS rows)."""
    dims = emb.select(
        (F.col("vec_id") % 2).cast("int").alias("snap"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    bucket = F.least(
        F.greatest(
            F.floor(
                (F.col("val").cast("double") - F.lit(EMB_DRIFT_LO))
                / F.lit(EMB_DRIFT_W)
            ),
            F.lit(0),
        ),
        F.lit(EMB_DRIFT_BUCKETS - 1),
    ).cast("int")
    return dims.groupBy("snap", "dim", bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n")
    )


def emb_drift_from_counts(spark: SparkSession, cnt: DataFrame) -> DataFrame:
    """Per-dim PSI report from a (snap, dim, bucket, n) counts frame —
    same shared-core contract as the drift family's *_from_counts."""
    cnt = cnt.localCheckpoint(eager=False)  # bounded, 4 readers
    spine = (
        cnt.select("dim").distinct()
        .join(
            F.broadcast(
                spark.range(EMB_DRIFT_BUCKETS).select(
                    F.col("id").cast("int").alias("bucket")
                )
            )
        )
    )
    share = F.when(
        F.col("n_sd") > 0,
        F.coalesce(F.col("n"), F.lit(0)).cast("double")
        / F.col("n_sd").cast("double"),
    ).otherwise(F.lit(0.0))
    clamped = F.greatest(share, F.lit(EMB_DRIFT_CLAMP))

    def _side(snap: int, alias: str) -> DataFrame:
        part = cnt.filter(F.col("snap") == snap).drop("snap")
        tot = (
            cnt.filter(F.col("snap") == snap)
            .groupBy("dim")
            .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_sd"))
        )
        return (
            spine.join(part, ["dim", "bucket"], "left")
            .join(F.broadcast(tot), "dim", "left")
            .select("dim", "bucket", clamped.alias(alias))
        )

    both = _side(0, "p_a").join(_side(1, "p_b"), ["dim", "bucket"])
    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    contrib = (F.col("p_a") - F.col("p_b")) * F.log(
        F.col("p_a") / F.col("p_b")
    )
    per_dim = (
        both.select("dim", fp(contrib).alias("c_fp"))
        .groupBy("dim")
        .agg(F.sum("c_fp").cast("long").alias("psi_fp"))
        .localCheckpoint(eager=False)  # bounded (dims), two consumers
    )
    glob = per_dim.agg(
        F.max("psi_fp").alias("max_psi_fp"),
        F.sum(
            F.when(F.col("psi_fp") > EMB_DRIFT_FP, 1).otherwise(0)
        ).cast("int").alias("n_drifted_dims"),
    )
    return (
        per_dim.join(F.broadcast(glob))
        .select(
            "dim",
            (F.col("psi_fp").cast("double") / F.lit(1e6)).alias("psi"),
            (F.col("psi_fp") > EMB_DRIFT_FP).alias("dim_drifted"),
            (F.col("max_psi_fp").cast("double") / F.lit(1e6)).alias(
                "max_psi"
            ),
            "n_drifted_dims",
        )
    )


def embedding_drift_sql() -> str:
    """DuckDB replay: parallel-unnest dim zip, identical buckets/clamps/
    fixed-point contributions and per-dim integer totals."""
    return f"""
        WITH dims AS (
            SELECT CAST(vec_id % 2 AS INTEGER) AS snap,
                   unnest(range(len(embedding))) AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        cnt AS (
            SELECT snap, dim,
                   CAST(least(greatest(floor((val - CAST({EMB_DRIFT_LO}
                                   AS DOUBLE)) / CAST({EMB_DRIFT_W}
                                   AS DOUBLE)), 0),
                              {EMB_DRIFT_BUCKETS - 1}) AS INTEGER)
                       AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM dims GROUP BY 1, 2, 3
        ),
        spine AS (
            SELECT DISTINCT dim, b.bucket
            FROM cnt CROSS JOIN (
                SELECT unnest(range(0, {EMB_DRIFT_BUCKETS}))::INTEGER
                    AS bucket
            ) b
        ),
        side AS (
            SELECT s.dim, s.bucket, c0.n AS n0, c1.n AS n1
            FROM spine s
            LEFT JOIN (SELECT dim, bucket, n FROM cnt WHERE snap = 0) c0
                USING (dim, bucket)
            LEFT JOIN (SELECT dim, bucket, n FROM cnt WHERE snap = 1) c1
                USING (dim, bucket)
        ),
        tots AS (
            SELECT dim,
                   CAST(sum(CASE WHEN snap = 0 THEN n ELSE 0 END)
                        AS BIGINT) AS na,
                   CAST(sum(CASE WHEN snap = 1 THEN n ELSE 0 END)
                        AS BIGINT) AS nc
            FROM cnt GROUP BY dim
        ),
        shares AS (
            SELECT side.dim, bucket,
                   greatest(CASE WHEN na > 0
                                 THEN coalesce(n0, 0)::DOUBLE / na::DOUBLE
                                 ELSE CAST(0.0 AS DOUBLE) END,
                            CAST({EMB_DRIFT_CLAMP} AS DOUBLE)) AS p_a,
                   greatest(CASE WHEN nc > 0
                                 THEN coalesce(n1, 0)::DOUBLE / nc::DOUBLE
                                 ELSE CAST(0.0 AS DOUBLE) END,
                            CAST({EMB_DRIFT_CLAMP} AS DOUBLE)) AS p_b
            FROM side JOIN tots USING (dim)
        ),
        per_dim AS (
            SELECT dim,
                   CAST(sum(CAST(floor((p_a - p_b) * ln(p_a / p_b) * 1e6
                                       + CAST(0.5 AS DOUBLE)) AS BIGINT))
                        AS BIGINT) AS psi_fp
            FROM shares GROUP BY dim
        ),
        corpus AS (
            SELECT max(psi_fp) AS max_psi_fp,
                   CAST(sum(CASE WHEN psi_fp > {EMB_DRIFT_FP}
                                 THEN 1 ELSE 0 END) AS INTEGER)
                       AS n_drifted_dims
            FROM per_dim
        )
        SELECT dim,
               psi_fp::DOUBLE / 1e6 AS psi,
               psi_fp > {EMB_DRIFT_FP} AS dim_drifted,
               max_psi_fp::DOUBLE / 1e6 AS max_psi,
               n_drifted_dims
        FROM per_dim CROSS JOIN corpus
        ORDER BY dim
    """


EMBEDDING_DRIFT_SQL = embedding_drift_sql()
register("embedding_drift", q_embedding_drift, EMBEDDING_DRIFT_SQL)


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (operators/dedup.py::snm_pairs)
    — the ninth dedup family: Hernandez-Stolfo SNM with EXACT global sort
    positions computed scalably (partitioned per-block row_number +
    bounded triangular block offsets, never a global window), banded
    self-join candidates (n*(w-1) volume), levenshtein verify on
    candidates only."""
    return dedup.snm_pairs(load_table(spark, sf_dir, "documents"))


register(
    "dedup_sorted_neighborhood", q_dedup_sorted_neighborhood, dedup.snm_pairs_sql()
)
