"""Hybrid retrieval: reciprocal-rank fusion (RRF) of lexical BM25 and
dense cosine rankings.

North-star surface extension (the reference has no retrieval operator at
all): production corpus search / decontamination / hard-negative mining
runs BOTH a lexical index and a vector index and fuses the ranked lists.
RRF (Cormack et al., SIGIR'09) is the standard parameter-light fusion:

    rrf(d) = Σ_systems 1 / (K + rank_system(d)),  K = 60

Cross-engine determinism: the RRF contribution is computed in PURE
INTEGER arithmetic — ``1_000_000 DIV (K + rank)`` — so the fused scores
are exact BIGINTs in both Spark and DuckDB; no float sum-order or
rounding-mode divergence is possible (see the repo-wide fixed-point
convention in operators/graph.py pagerank).

Scale design (100 TB posture):
- Each system retrieves its own bounded top-K_EACH candidate list per
  query (BM25 via the inverted-index join, cosine via the broadcast-query
  scan — both already top-k bounded).  Fusion then joins two
  frames of at most ``n_queries × K_EACH`` rows — bounded by
  construction, independent of corpus size.
- The full-outer join on (query_id, item_id) is the textbook RRF shape:
  an item ranked by only one system keeps that single contribution.

The item id space is the shared key: ``doc_id`` (documents) ≡ ``vec_id``
(embeddings) identify the same corpus item, the convention the driver
testdata uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.topk import top_k_per_key
from marketstream_etl_spark.operators.relevance import bm25_search, bm25_search_sql
from marketstream_etl_spark.operators.similarity import (
    ann_bruteforce,
    ann_bruteforce_sql,
)

RRF_K = 60
RRF_NUM = 1_000_000  # contribution = RRF_NUM DIV (RRF_K + rank), exact BIGINT
N_QUERIES = 3
TOP_K = 10
K_EACH = 20  # per-system candidate depth before fusion


def _contrib(rank_col: str) -> F.Column:
    """Integer RRF contribution: RRF_NUM DIV (RRF_K + rank), 0 when the
    system did not rank the item (NULL rank after the outer join)."""
    return F.coalesce(
        F.expr(f"{RRF_NUM} DIV ({RRF_K} + {rank_col})"), F.lit(0).cast("long")
    )


def hybrid_search_rrf(
    docs: DataFrame, emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Fused top-k per query: BM25 (lexical) + brute-force cosine (dense).

    Output: (query_id, item_id, rrf_score, lex_rank, vec_rank, rank) —
    rrf_score is an exact BIGINT; rank by rrf_score desc, item_id asc.
    lex_rank / vec_rank are NULL when that system did not retrieve the
    item within its top-K_EACH.
    """
    lex = bm25_search(docs, n_queries=n_queries, k=K_EACH).select(
        "query_id",
        F.col("doc_id").alias("item_id"),
        F.col("rank").alias("lex_rank"),
    )
    vec = ann_bruteforce(emb, n_queries=n_queries, k=K_EACH).select(
        "query_id",
        F.col("neighbor_id").alias("item_id"),
        F.col("rank").alias("vec_rank"),
    )
    fused = (
        lex.join(vec, ["query_id", "item_id"], "full_outer")
        .select(
            "query_id",
            "item_id",
            "lex_rank",
            "vec_rank",
            (_contrib("lex_rank") + _contrib("vec_rank")).alias("rrf_score"),
        )
    )
    out = top_k_per_key(
        fused,
        key="query_id",
        order_by=[F.desc("rrf_score"), F.col("item_id")],
        k=k,
    )
    return out.select(
        "query_id",
        "item_id",
        "rrf_score",
        "lex_rank",
        "vec_rank",
        "rank",
    )


def hybrid_search_rrf_sql() -> str:
    """DuckDB replay: the component oracles verbatim as CTEs, then the
    identical integer-division fusion (`//` is DuckDB's DIV)."""
    return f"""
        WITH lex_full AS MATERIALIZED ({bm25_search_sql(N_QUERIES, K_EACH)}),
        vec_full AS MATERIALIZED ({ann_bruteforce_sql(N_QUERIES, K_EACH)}),
        l AS (SELECT query_id, doc_id AS item_id, rank AS lex_rank
              FROM lex_full),
        v AS (SELECT query_id, neighbor_id AS item_id, rank AS vec_rank
              FROM vec_full),
        fused AS (
            SELECT coalesce(l.query_id, v.query_id) AS query_id,
                   coalesce(l.item_id, v.item_id) AS item_id,
                   l.lex_rank, v.vec_rank,
                   coalesce(CAST({RRF_NUM} // ({RRF_K} + l.lex_rank)
                                 AS BIGINT), 0)
                   + coalesce(CAST({RRF_NUM} // ({RRF_K} + v.vec_rank)
                                   AS BIGINT), 0) AS rrf_score
            FROM l FULL OUTER JOIN v
              ON l.query_id = v.query_id AND l.item_id = v.item_id
        ),
        ranked AS (
            SELECT query_id, item_id, rrf_score, lex_rank, vec_rank,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_score DESC, item_id) AS rank
            FROM fused
        )
        SELECT query_id, item_id, rrf_score, lex_rank, vec_rank,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """
