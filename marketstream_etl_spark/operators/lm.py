"""Statistical language-model quality scoring: corpus bigram model →
per-document perplexity.

The north-star use case (public CCNet/C4-style pipelines): score every
document by how well a cheap n-gram model of the corpus predicts it —
gibberish, boilerplate, and wrong-language text land in the high-
perplexity tail, which the curation step then drops or downweights.
This is the statistical stand-in for the neural-perplexity filter; the
plumbing (train counts corpus-wide, score per doc, threshold on the
tail) is identical.

Model: add-one-smoothed bigram conditionals over whitespace tokens,
p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V).  Per doc: mean ln p over its
bigrams (docs with < 2 tokens have no bigrams and are excluded, mirrored
in the oracle); perplexity = exp(−mean), computed from the ROUNDED mean
so both engines exponentiate the identical double.

Scale design (100 TB posture):
- Training is two partial-aggregated groupBys (unigram + bigram counts)
  — the same shuffle profile as vocab_topk, nothing quadratic.
- Scoring joins each doc bigram against the count tables on (w1, w2) /
  (w1): plain equi-joins on uniformly-distributed token keys; the vocab
  size V is a 1-row broadcast.
- Bigrams are built in-array (zip_with over two slices) before ONE
  explode — no window functions, no self-join, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.cachegen import memo
from marketstream_etl_spark.functions.hashing import tokens, tokens_sql


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per bigram occurrence.

    The bigram array is checkpoint-pinned before the explode (r8
    GenerateExec projection-collapse fix): the zip_with-over-slices
    chain is O(tokens) per evaluation, so re-evaluating it per emitted
    bigram — which the collapsed plan does — is O(tokens^2) per doc."""
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    pairs = F.zip_with(
        F.slice(F.col("tk"), 1, F.size("tk") - 1),
        F.slice(F.col("tk"), 2, F.size("tk") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    arrs = tk.select("doc_id", pairs.alias("_bg")).localCheckpoint(
        eager=False
    )
    return arrs.select("doc_id", F.explode("_bg").alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )


def _token_streams(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(toks, bi) — the corpus token and bigram streams, materialized ONCE
    per input generation (functions/cachegen.memo): every consumer reads
    both ≥2 times, and without a persistence point the regexp tokenize
    pass re-runs per subtree (the DuckDB oracles MATERIALIZE the same two
    CTEs for the same reason)."""
    return memo(
        "lm_token_streams",
        docs,
        lambda: (
            docs.select(
                "doc_id", F.explode(tokens(F.col("text"))).alias("w")
            ).persist(),
            _doc_bigrams(docs).persist(),
        ),
    )


def lm_perplexity(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob, perplexity) under the corpus's
    add-one bigram model, ordered by doc_id."""
    toks, bi = _token_streams(docs)
    uni = toks.groupBy(F.col("w").alias("w1")).agg(
        F.count("*").alias("cu")
    )
    vocab = toks.agg(F.countDistinct("w").alias("v"))
    bic = bi.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    lp = F.log(
        (F.col("cb") + F.lit(1)).cast("double")
        / (F.col("cu") + F.col("v")).cast("double")
    )
    scored = (
        bi.join(bic, ["w1", "w2"])
        .join(uni, "w1")
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 4).alias("perplexity"),
    )


def lm_perplexity_sql() -> str:
    """DuckDB replay: same token stream, counts, smoothing, and the same
    round-then-exponentiate contract."""
    tk = tokens_sql("text")
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest({tk}) AS w FROM documents
        ),
        uni AS (SELECT w AS w1, count(*) AS cu FROM toks GROUP BY w),
        vocab AS (SELECT count(DISTINCT w) AS v FROM toks),
        tkarr AS (
            SELECT doc_id, {tk} AS tk FROM documents
            WHERE len({tk}) >= 2
        ),
        bi AS MATERIALIZED (
            SELECT doc_id, tk[i.i] AS w1, tk[i.i + 1] AS w2
            FROM tkarr, unnest(range(1, len(tk))) AS i(i)
        ),
        bic AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2),
        scored AS (
            SELECT b.doc_id, count(*) AS n_bigrams,
                   round(avg(ln(
                       CAST(c.cb + 1 AS DOUBLE)
                       / CAST(u.cu + (SELECT v FROM vocab) AS DOUBLE)
                   )), 6) AS avg_logprob
            FROM bi b
            JOIN bic c USING (w1, w2)
            JOIN uni u USING (w1)
            GROUP BY b.doc_id
        )
        SELECT doc_id, n_bigrams, avg_logprob,
               round(exp(-avg_logprob), 4) AS perplexity
        FROM scored ORDER BY doc_id
    """


PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def top_pmi_bigrams(
    docs: DataFrame, min_count: int = PMI_MIN_COUNT, k: int = PMI_TOP_K
) -> DataFrame:
    """Collocation discovery: the k bigrams with the highest pointwise
    mutual information, PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with
    p(w1,w2) = c(w1,w2)/N_bigrams and p(w) = c(w)/N_tokens — the
    word2vec-era statistic that surfaces multi-word units ("new york")
    a tokenizer or phrase-merger should treat as one symbol.

    Same two count groupBys as lm_perplexity (the token streams share
    its generation cache); the probability ratio is computed on rounded
    inputs only at the final 6-dp rounding, and ranking uses the rounded
    PMI with a (w1, w2) tie-break so both engines order identically.
    Low-count bigrams are floored out (min_count) — classic PMI blows up
    on hapax pairs."""
    toks, bi = _token_streams(docs)
    uni = toks.groupBy(F.col("w")).agg(F.count("*").alias("cu"))
    n_tok = toks.agg(F.count("*").alias("n_tok"))
    bic = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .filter(F.col("cb") >= min_count)
    )
    n_bi = bi.agg(F.count("*").alias("n_bi"))
    pmi = F.log(
        (F.col("cb").cast("double") / F.col("n_bi"))
        / (
            (F.col("cu1").cast("double") / F.col("n_tok"))
            * (F.col("cu2").cast("double") / F.col("n_tok"))
        )
    )
    scored = (
        bic.join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .join(F.broadcast(n_tok))
        .join(F.broadcast(n_bi))
        .select(
            "w1", "w2", "cb", F.round(pmi, 6).alias("pmi")
        )
    )
    return scored.orderBy(
        F.desc("pmi"), "w1", "w2"
    ).limit(k)


def top_pmi_bigrams_sql() -> str:
    """DuckDB replay: identical counts, ratio, rounding, and tie-break."""
    tk = tokens_sql("text")
    return f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, unnest({tk}) AS w FROM documents
        ),
        uni AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
        ntok AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM toks),
        tkarr AS (
            SELECT doc_id, {tk} AS tk FROM documents
            WHERE len({tk}) >= 2
        ),
        bi AS MATERIALIZED (
            SELECT doc_id, tk[i.i] AS w1, tk[i.i + 1] AS w2
            FROM tkarr, unnest(range(1, len(tk))) AS i(i)
        ),
        nbi AS (SELECT CAST(count(*) AS DOUBLE) AS n_bi FROM bi),
        bic AS (
            SELECT w1, w2, count(*) AS cb FROM bi GROUP BY w1, w2
            HAVING count(*) >= {PMI_MIN_COUNT}
        )
        SELECT b.w1, b.w2, b.cb,
               round(ln(
                   (b.cb / (SELECT n_bi FROM nbi))
                   / ((u1.cu / (SELECT n_tok FROM ntok))
                      * (u2.cu / (SELECT n_tok FROM ntok)))
               ), 6) AS pmi
        FROM bic b
        JOIN uni u1 ON u1.w = b.w1
        JOIN uni u2 ON u2.w = b.w2
        ORDER BY pmi DESC, b.w1, b.w2
        LIMIT {PMI_TOP_K}
    """
