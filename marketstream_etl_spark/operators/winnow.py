"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
— the MOSS algorithm — and near-duplicate pairing on shared fingerprints.

Reference parity note: the reference engine has no fingerprinting operator;
this is part of the beyond-reference training-data-pipeline surface (same
family as operators/dedup.py's minhash/simhash), added because winnowing
gives the GUARANTEE the other families lack: any shared substring of at
least w + k - 1 tokens produces at least one shared fingerprint, while
storing only ~2/(w+1) of the k-gram hashes.  That density/guarantee
trade-off is why large plagiarism/near-dup systems (MOSS, newspaper
dedup) winnow instead of sampling hashes mod p.

Algorithm, relationally:
  1. positional word k-grams per doc (posexplode — the SEQUENCE with
     duplicates, unlike the dedup family's distinct shingle SET);
  2. combined sort key c = h32(gram) * 2^POS_BITS + (2^POS_BITS - 1 - pos)
     so that min(c) picks the minimum hash and breaks ties by the
     RIGHTMOST position (the paper's robust-winnowing tie rule), in one
     integer min — h32 < 2^32 and POS_BITS = 24 keep c < 2^56, inside
     ANSI-safe int64;
  3. per window start: min(c) over a w-row forward frame (a bounded
     per-doc window sort — at 100 TB this range-partitions by doc and
     never shuffles grams across docs); window starts are pos <=
     max(0, n - w), and the frame truncating at the partition tail makes
     short docs (n < w) yield exactly one fingerprint, min over all;
  4. fingerprints = DISTINCT selected values; matching identity is the
     hash part only (c DIV 2^POS_BITS).
  5. pairing: inverted index on fingerprint hash with a document-
     frequency cap (boilerplate fingerprints shared by > DF_CAP docs are
     dropped, the same hot-key guard as the edit-distance/jaccard
     families — no quadratic blowup on a viral n-gram), then a
     self-join keyed on the fingerprint, doc_a < doc_b, shared count
     >= MIN_SHARED.

Determinism: md5-derived h32, integer min, and a fixed-point similarity
(floor(shared * 1e6 / min(na, nb) + 0.5) — HALF_UP spelled out in both
engines) make the DuckDB oracle replay bit-identical.

Cap: POS_BITS = 24 bounds docs at 16.7 M k-grams (a ~100 MB single text);
training corpora chunk long docs well below that (see chunk_documents).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.cachegen import memo
from marketstream_etl_spark.functions.hashing import (
    h32,
    h32_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from marketstream_etl_spark.operators.dedup import SHINGLE_K
from marketstream_etl_spark.sources.tables import spread

WINNOW_W = 8  # window size: guarantee threshold = w + k - 1 tokens
POS_BITS = 24
DF_CAP = 100  # drop fingerprints shared by more docs (boilerplate guard)
MIN_SHARED = 2


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, fp_pos): the winnowed fingerprint set per document."""
    # small-file corpora arrive as ONE scan partition; the tokenize +
    # posexplode is CPU-bound, so spread before the heavy map (at scale
    # the scan is already parallel and this is a cheap (id, text) shuffle)
    docs = spread(docs)
    # checkpoint barrier before posexplode — same GenerateExec projection
    # collapse as the dedup family's shingle pairs (r8): without it the
    # gram-sequence chain re-evaluates once per emitted gram
    arrs = (
        docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
        .select("doc_id", shingles("_toks", SHINGLE_K).alias("_grams"))
        .localCheckpoint(eager=False)
    )
    grams = arrs.select(
        "doc_id",
        F.posexplode("_grams").alias("pos", "gram"),
    )
    c = (
        h32(F.col("gram")) * F.lit(1 << POS_BITS).cast("long")
        + (F.lit((1 << POS_BITS) - 1) - F.col("pos"))
    ).alias("c")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    sel = (
        grams.select("doc_id", "pos", c)
        .withColumn("sel", F.min("c").over(frame))
        .withColumn("n", F.count("*").over(per_doc))
        .filter(
            F.col("pos")
            <= F.greatest(F.lit(0), F.col("n") - F.lit(WINNOW_W))
        )
    )
    return sel.select(
        "doc_id",
        (F.col("sel") / F.lit(1 << POS_BITS)).cast("long").alias("fp"),
        (
            F.lit((1 << POS_BITS) - 1)
            - (F.col("sel") % F.lit(1 << POS_BITS))
        ).alias("fp_pos"),
    ).distinct()


def winnow_fps_cached(docs: DataFrame) -> DataFrame:
    """ONE persisted (doc_id, fp) fingerprint index per input generation —
    the MOSS artifact a production pipeline materializes once and reuses
    for every pairing / containment / search pass over the same corpus.
    Before this cache every winnowing_pairs call re-paid the full
    posexplode + window upstream (~5 s of the op's 6.9 s at sf0.1);
    generation-keyed like the dedup family's shingle cache, so a
    rewritten corpus can never serve stale fingerprints."""
    return memo(
        "winnow_fps",
        docs,
        lambda: winnow_fingerprints(docs)
        .select("doc_id", "fp")
        .distinct()
        .persist(),
    )


def winnowing_pairs(docs: DataFrame) -> DataFrame:
    """Near-duplicate candidate pairs sharing >= MIN_SHARED winnowed
    fingerprints: (doc_a, doc_b, shared_fps, na, nb, sim_e6) where sim_e6
    = floor(shared / min(na, nb) * 1e6 + 0.5) — the MOSS report score."""
    # the fingerprint frame feeds FOUR consumers (sizes, the DF cap, and
    # both self-join legs) — served from the generation cache so repeat
    # calls and sibling consumers share one materialization.
    fps = winnow_fps_cached(docs)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    kept = fps.join(
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("fp"),
        "fp",
    )
    a = kept.alias("a")
    b = kept.alias("b")
    shared = (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    sim = F.floor(
        F.col("shared_fps")
        * F.lit(1000000.0)
        / F.least("na", "nb").cast("double")
        + F.lit(0.5)
    ).cast("long")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "shared_fps", "na", "nb", sim.alias("sim_e6"))
    )


def winnowing_pairs_sql() -> str:
    """DuckDB replay: parallel unnest zips (gram, pos), identical combined
    key, identical forward-frame min, identical DF cap and HALF_UP score."""
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    unit = 1 << POS_BITS
    return f"""
        WITH grams AS (
            SELECT doc_id,
                   unnest(arr) AS gram,
                   unnest(range(len(arr))) AS pos
            FROM (SELECT doc_id, {sh} AS arr FROM documents)
        ),
        keyed AS (
            SELECT doc_id, pos,
                   {h32_sql('gram')} * CAST({unit} AS BIGINT)
                       + ({unit - 1} - pos) AS c
            FROM grams
        ),
        sel AS (
            SELECT doc_id, pos,
                   min(c) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {WINNOW_W - 1} FOLLOWING) AS sel,
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM keyed
        ),
        fps AS MATERIALIZED (
            SELECT DISTINCT doc_id, sel // {unit} AS fp
            FROM sel WHERE pos <= greatest(0, n - {WINNOW_W})
        ),
        sizes AS MATERIALIZED (
            SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id
        ),
        kept AS MATERIALIZED (
            SELECT doc_id, fp FROM fps
            WHERE fp IN (SELECT fp FROM fps GROUP BY fp
                         HAVING count(*) <= {DF_CAP})
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_fps
            FROM kept a JOIN kept b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= {MIN_SHARED}
        )
        SELECT doc_a, doc_b, shared_fps, sa.n AS na, sb.n AS nb,
               CAST(floor(shared_fps * CAST(1000000.0 AS DOUBLE)
                   / CAST(least(sa.n, sb.n) AS DOUBLE)
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS sim_e6
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        ORDER BY doc_a, doc_b
    """
