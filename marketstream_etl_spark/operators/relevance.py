"""Text relevance scoring: BM25 search over the document corpus.

North-star surface extension (the reference has no text-retrieval
operator): BM25 is the standard lexical ranking function a training-data
pipeline uses for corpus search, retrieval-based decontamination, and
hard-negative mining.  Queries here are the token sets of the first
`N_QUERIES` documents (self excluded) — the deterministic stand-in for a
user query set, the same convention the ANN operators use for their
query vectors.

Scale design (100 TB posture):
- The scoring join is an INVERTED-INDEX equi-join on term: query terms
  (tiny — broadcast) against the (doc, term, tf) postings frame, so no
  document is touched unless it shares a term with the query.  The same
  DF-cap discipline as n-gram Jaccard applies upstream at real scale
  (stop terms carry ~zero idf anyway, so dropping them changes little).
- Corpus statistics (N, avgdl) are a 1-row broadcast; document length
  and document frequency are plain partial-aggregated groupBys.
- Scores are ranked after rounding to 6 dp with a doc_id tie-break, the
  repo-wide convention that keeps cross-engine float noise out of
  orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.cachegen import memo
from marketstream_etl_spark.functions.hashing import tokens, tokens_sql
from marketstream_etl_spark.functions.topk import top_k_per_key

BM25_K1 = 1.2
BM25_B = 0.75
N_QUERIES = 3
TOP_K = 10


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) postings list — one explode + one groupBy."""
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def _bm25_index(docs: DataFrame) -> tuple[DataFrame, ...]:
    """Generation-cached lexical index: postings PLUS the corpus
    statistics every consumer previously re-aggregated per run — doc
    length `dl(doc_id, dl)`, document frequency `dfreq(term, df)`, and
    the 1-row `(n_docs, avgdl)` stats frame.  These are exactly the
    static structures a real inverted index stores next to the postings
    (Lucene: norms + term dictionary df + segment stats), derived from
    the input alone — never from a query — so they belong to the same
    generation cache as the postings themselves (guide §2.4: two full
    postings shuffles per steady-state search removed).

    r14: the postings frame carries `dl` as a column (the norms live IN
    the index, as in Lucene), so scoring never shuffle-joins the corpus
    by doc_id; `dl` is still returned for stats derivation and any
    aggregate consumer."""
    return memo("bm25_postings", docs, lambda: _build_bm25_index(docs))


def _build_bm25_index(docs: DataFrame) -> tuple[DataFrame, ...]:
    from pyspark import StorageLevel

    post0 = _postings(docs)
    dl = post0.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
    # dl is stored NEXT TO the postings (the Lucene-norms layout): the
    # old split layout made every steady-state search re-join dl on
    # doc_id — a corpus-sized shuffle join per query batch.  Attaching it
    # once at index build (one extra long per posting) removes that join
    # from both bm25_search and tfidf_keywords; measured interleaved A/B,
    # raw-equal outputs: sf10 4.4-5.7 -> 3.8-5.0 s, sf100 26.3 -> 22.6 s.
    #
    # The cached postings are additionally CLUSTERED BY TERM (one
    # build-time shuffle + in-partition sort per generation): Spark's
    # in-memory columnar cache keeps min/max stats per ~10K-row batch,
    # so bm25_search's literal IN-list term filter prunes every batch
    # whose term range misses the query vocabulary — the index-seek
    # analog of a term-partitioned inverted index, instead of scanning
    # the whole corpus-sized postings frame per search.  Measured
    # interleaved, raw-equal: sf100 scoring 26.5-31.4 -> 4.4 s (×6-7).
    post = (
        post0.join(dl, "doc_id")
        .repartition("term")
        .sortWithinPartitions("term")
        .persist()
    )
    # dfreq is the full-vocabulary (term, df) frame — multi-GB at the
    # 100 TB posture and read ONCE per search via a broadcast semi-join,
    # so it rides on disk instead of competing with executor memory
    dfreq = (
        post.groupBy("term")
        .agg(F.count("*").alias("df"))
        .persist(StorageLevel.DISK_ONLY)
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).persist()
    return post, dl, dfreq, stats


def bm25_search(
    docs: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Top-k documents per query document by BM25.

    score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf(t,d)·(k1+1)
                                / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    with idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5)).

    Output: (query_id, doc_id, bm25, rank) — rank by score desc, doc_id
    asc tie-break; the query document itself is excluded."""
    from marketstream_etl_spark.functions.hashing import tokens

    # the full lexical index (postings + dl + dfreq + stats) lives in the
    # shared per-generation rotation cache (bounded LRU, stale-proof
    # keying); a steady-state search touches only slim cached frames
    post, dl, df_, stats = _bm25_index(docs)
    # query terms come from the PARQUET-PRUNED docs prefix, not from a
    # full scan of the term-clustered postings cache (whose batch stats
    # cannot prune a doc_id predicate).  Row-identical to the old
    # post.filter(doc_id < n) projection: postings are distinct per
    # (doc, term) and scoring never reads the query side's tf.
    # distinct after the explode, not array_distinct inside it: the plan
    # manifest forbids an explode over an array_distinct build (the
    # collapsed-Generate class)
    qterms = (
        docs.filter(F.col("doc_id") < n_queries)
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    # the bounded query vocabulary is collected once per search (the same
    # driver-side class as the codebook collect: a query parse, not data)
    # and applied as a LITERAL IN filter, which the in-memory columnar
    # scan turns into per-batch min/max pruning over the term-clustered
    # postings — the guide §3 semi-join prune, landed where the bytes
    # are.  The same list prunes the DISK_ONLY dfreq scan.
    terms = sorted(
        {r["term"] for r in qterms.select("term").distinct().collect()}
    )
    post = post.filter(F.col("term").isin(terms))
    df_ = df_.filter(F.col("term").isin(terms))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    # dl rides on the postings frame (attached at index build), so the
    # scoring path is broadcast-joins + one partial-aggregated groupBy —
    # no corpus-sized shuffle join remains
    scored = (
        post.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_.join(stats)), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    out = top_k_per_key(
        scored,
        key="query_id",
        order_by=[F.desc("bm25"), F.col("doc_id")],
        k=k,
    ).select("query_id", "doc_id", "bm25", "rank")
    return out


def bm25_search_sql(n_queries: int = N_QUERIES, k: int = TOP_K) -> str:
    """DuckDB replay: identical postings, statistics, idf/tf formulas, and
    (rounded score, doc_id) ranking."""
    return f"""
        WITH post AS MATERIALIZED (
            SELECT doc_id, t AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS t
                  FROM documents)
            GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
        dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
            FROM dl
        ),
        qterms AS (
            SELECT doc_id AS query_id, term FROM post
            WHERE doc_id < {n_queries}
        ),
        scored AS (
            SELECT q.query_id, p.doc_id,
                   -- every literal CAST AS DOUBLE: DuckDB parses bare
                   -- decimals as exact DECIMAL, which diverges from the
                   -- Spark side's IEEE doubles (e.g. DECIMAL 1.2 != double 1.2)
                   round(sum(
                       ln(CAST(1.0 AS DOUBLE)
                          + (s.n_docs - f.df + CAST(0.5 AS DOUBLE))
                            / (f.df + CAST(0.5 AS DOUBLE)))
                       * (p.tf * CAST({BM25_K1 + 1.0} AS DOUBLE))
                         / (p.tf + CAST({BM25_K1} AS DOUBLE)
                            * (CAST({1.0 - BM25_B} AS DOUBLE)
                               + CAST({BM25_B} AS DOUBLE) * d.dl / s.avgdl))
                   ), 6) AS bm25
            FROM post p
            JOIN qterms q USING (term)
            JOIN dfreq f USING (term)
            JOIN dl d ON d.doc_id = p.doc_id
            CROSS JOIN stats s
            WHERE p.doc_id <> q.query_id
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT query_id, doc_id, bm25,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id) AS rank
            FROM scored
        )
        SELECT query_id, doc_id, bm25, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


# --- TF-IDF keyword extraction ----------------------------------------------
# Per-document top-k salient terms — the standard corpus-summarization /
# topic-tagging primitive next to BM25's query-time ranking.  Smoothed
# sklearn-style idf: idf(t) = ln((1 + N) / (1 + df(t))) + 1, score =
# (tf / dl) * idf, rounded to 6 dp with a term tie-break before ranking
# (the repo-wide convention that keeps cross-engine float noise out of
# orderings).

TFIDF_TOP_K = 5


def tfidf_keywords(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k keywords per document by smoothed TF-IDF.

    Output: (doc_id, term, tfidf, rank), rank by score desc / term asc.

    Scale: postings are ONE explode + groupBy (shared with BM25 through
    the rotation cache, so a pipeline running both pays the tokenize
    once); df is a term-keyed partial agg; N is a 1-row broadcast; the
    idf attach is a shuffle equi-join on term (the full vocabulary is
    NOT broadcast — at the 100 TB posture it is multi-GB); top-k per doc
    is limited to k rows per (map task, doc) before its exchange."""
    post, dl, df_, stats = _bm25_index(docs)
    # n_docs = count over dl, the same definition the cached stats frame
    # holds (docs with >= 1 token) — one shared 1-row broadcast
    n_docs = stats.select("n_docs")
    idf = (
        F.log(
            (F.lit(1.0) + F.col("n_docs"))
            / (F.lit(1.0) + F.col("df").cast("double"))
        )
        + F.lit(1.0)
    )
    # dl rides on the postings frame (attached at index build) — the
    # per-run doc_id shuffle join is gone, same as bm25_search
    scored = (
        post.join(df_, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("tf").cast("double") / F.col("dl").cast("double"))
                * idf,
                6,
            ).alias("tfidf"),
        )
    )
    return (
        top_k_per_key(
            scored,
            key="doc_id",
            order_by=[F.desc("tfidf"), F.col("term")],
            k=k,
        )
        .select("doc_id", "term", "tfidf", "rank")
    )


def tfidf_keywords_sql() -> str:
    """DuckDB replay: identical postings, smoothed idf, rounding, and
    (score, term) ranking."""
    return f"""
        WITH post AS MATERIALIZED (
            SELECT doc_id, t AS term, count(*) AS tf
            FROM (SELECT doc_id, unnest({tokens_sql("text")}) AS t
                  FROM documents)
            GROUP BY doc_id, t
        ),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM post GROUP BY doc_id),
        dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
        scored AS (
            SELECT p.doc_id, p.term,
                   round((p.tf::DOUBLE / d.dl::DOUBLE)
                         * (ln((CAST(1.0 AS DOUBLE) + s.n_docs)
                                / (CAST(1.0 AS DOUBLE) + f.df::DOUBLE))
                            + CAST(1.0 AS DOUBLE)), 6) AS tfidf
            FROM post p
            JOIN dfreq f USING (term)
            JOIN dl d USING (doc_id)
            CROSS JOIN stats s
        ),
        ranked AS (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term) AS rank
            FROM scored
        )
        SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TFIDF_TOP_K}
        ORDER BY doc_id, rank
    """
