"""Similarity search over embedding columns (north-star surface):
brute-force cosine top-k (the correctness baseline) and an IVF-bucketed
variant (the scale path), plus embedding-cosine near-duplicate pairs.

Scale design (100 TB posture):
- The query set is small → `F.broadcast` it; the big side streams through a
  map-side cosine, then a top-k per query (functions/topk.py) whose
  map-side limit ships at most k rows per (map task, query) to the
  exchange, so 8 query keys never serialize a 100M-vector scored set
  through 8 tasks.
- IVF: centroids are a deterministic sample (first C vec_ids — a stand-in
  for a k-means codebook the pipeline would train offline).  Every vector is
  assigned to its nearest centroid once (map-side vs broadcast centroids);
  queries probe the nearest N_PROBE centroid buckets only, turning a full
  scan into a partition-pruned scan of ~N_PROBE/C of the data.
- All dot products run in double via zip_with + aggregate — built-in higher-
  order functions, JVM-side, no Python boundary.
"""

from __future__ import annotations

from math import sqrt as math_sqrt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.cachegen import memo
from marketstream_etl_spark.functions.topk import top_k_per_key
from marketstream_etl_spark.sources.tables import spread

N_QUERIES = 8  # vec_id < 8 are the benchmark query vectors
TOP_K = 5
N_CENTROIDS = 16
N_PROBE = 4
NEARDUP_COSINE = 0.30  # testdata embeddings are near-orthogonal; 0.95 in prod


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


FX = 1_000_000  # 1e-6 fixed-point quantum (the repo-wide exact-sum scale)


def favg_fx(col: Column) -> Column:
    """Order-independent mean of a double column.

    Quantize each value to BIGINT fixed point (round-half-up), sum
    exactly — integer addition is associative/commutative, so partition
    count and partial-merge order cannot change the result — then divide
    once in double space.  The plain ``F.avg`` it replaces merges
    per-partition double partial sums in nondeterministic order, which
    can flip the last decimal at a ``round()`` boundary once the input
    is multi-partition (the r8 spread of the embedding scan made it
    so).  Same discipline as the PSI/CUSUM families; the DuckDB oracles
    mirror the identical expression so both engines see bit-identical
    doubles.
    """
    s = float(FX)
    return (
        F.sum(F.floor(col * F.lit(s) + F.lit(0.5))).cast("double")
        / F.count(F.lit(1))
        / F.lit(s)
    )


def fsum_fx(col: Column, scale: int = FX) -> Column:
    """Order-independent sum of a double column (see favg_fx)."""
    s = float(scale)
    return F.sum(F.floor(col * F.lit(s) + F.lit(0.5))).cast("double") / F.lit(s)


def avg_fx_sql(expr: str) -> str:
    """DuckDB twin of favg_fx — identical op order, identical doubles."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {FX} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / count(*) / {FX}"
    )


def sum_fx_sql(expr: str, scale: int = FX) -> str:
    """DuckDB twin of fsum_fx."""
    return (
        f"CAST(sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {scale}"
    )


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, left-to-right (deterministic accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB twin: parallel unnest zips value+index; double casts mirror _dvec.
# `{q}`/`{e}` are relation aliases exposing (vec_id, embedding).
_COSINE_PAIR_SQL = """
    SELECT qq.vec_id AS query_id, ee.vec_id AS neighbor_id,
           sum(qq.v * ee.v)
             / (sqrt(sum(qq.v * qq.v)) * sqrt(sum(ee.v * ee.v))) AS cos
    FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 unnest(range(len(embedding))) AS i FROM {q}) qq
    JOIN (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 unnest(range(len(embedding))) AS i FROM {e}) ee
      ON qq.i = ee.i
    GROUP BY 1, 2
"""


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, vec array<double>): the spread embedding scan every
    vector operator scores."""
    return spread(emb).select(
        "vec_id", _dvec(F.col("embedding")).alias("vec")
    )


def ann_bruteforce(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self excluded).

    Output: (query_id, neighbor_id, cos, rank) — rank by cosine desc,
    neighbor_id asc tie-break.
    """
    # norms once per VECTOR, not per pair (the semantic_dedup r10 lesson:
    # the generic cosine() helper re-folds both 64-dim norms per pair —
    # ~2/3 of all per-pair HOF work).  The per-pair expression stays
    # dot/(qn·nn), the identical double association as cosine(), so every
    # cos value is the same double bit-for-bit.
    base = _vectors(emb).withColumn("nrm", norm(F.col("vec")))
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos_raw"),
        )
    )
    topk = top_k_per_key(
        scored,
        key="query_id",
        order_by=[F.desc("cos_raw"), F.col("neighbor_id")],
        k=k,
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 6).alias("cos"),
        "rank",
    )


def ann_bruteforce_gt_cached(emb: DataFrame) -> DataFrame:
    """Exact-top-k GROUND TRUTH (query_id, neighbor_id) persisted once
    per corpus generation — the recall probes' shared setup artifact
    (functions/cachegen.memo).

    Every recall probe (ann_ivf_recall, ann_ivf_trained_recall,
    ann_pq_recall-style audits) joins its approximate ranking against
    the SAME exact ranking; before this cache each probe re-paid the
    full brute-force scan per call via a per-call localCheckpoint.  The
    frame is bounded (n_queries x k rows), so persisting it is the
    production posture: ground truth is computed once per corpus and
    reused for every index-quality audit."""
    return memo(
        "ann_gt",
        emb,
        lambda: ann_bruteforce(emb).select("query_id", "neighbor_id").persist(),
    )


def ann_bruteforce_sql_over(q_rel: str, e_rel: str) -> str:
    """ann_bruteforce's oracle over ARBITRARY (vec_id, embedding)
    relations — lets composed audits (dimension truncation, re-ranking)
    replay the exact top-k against transformed embedding views."""
    pair = _COSINE_PAIR_SQL.format(q=q_rel, e=e_rel)
    return f"""
        WITH scored AS ({pair}),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def ann_bruteforce_sql(n_queries: int = N_QUERIES, k: int = TOP_K) -> str:
    pair = _COSINE_PAIR_SQL.format(
        q=f"(SELECT * FROM embeddings WHERE vec_id < {n_queries})",
        e="embeddings",
    )
    return f"""
        WITH scored AS ({pair}),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored WHERE query_id <> neighbor_id
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _centroids(base: DataFrame, n_centroids: int) -> DataFrame:
    """Coarse-quantizer codebook: deterministic sample (first C vec_ids) —
    the stand-in for a k-means codebook trained offline."""
    return base.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cvec")
    )


def _rebuild_codebook_handle(bc):
    """Unpickle hook: executor-side handles carry only the broadcast."""
    h = _CodebookHandle.__new__(_CodebookHandle)
    h._centroids = None
    h._bc = bc
    return h


class _CodebookHandle:
    """Lazy driver-side codebook for the map-only assignment kernel
    (_rank_codebook).

    Three properties, each an r11 ADVICE fix:

    - LAZY (as lazy as mapInPandas allows): the bounded centroid frame is
      collected only when the first kernel closure is PICKLED
      (``__reduce__``).  Classic PySpark serializes a mapInPandas command
      at DataFrame CONSTRUCTION, so a build-vs-execute harness still sees
      one bounded collect job during the first consumer's plan build —
      full deferral past build is not expressible for a mapInPandas
      closure (the command must be self-contained when the plan node is
      created).  What laziness buys: constructing the handle itself runs
      nothing, and per query build at most ONE collect fires no matter
      how many consumers share the handle.
    - BROADCAST: the collected codebook is packed into two numpy arrays
      (int64 ids + a float64 (C, dim) matrix — raw doubles, not boxed
      Python floats) and shipped via ``sc.broadcast``, so at the
      CODEBOOK_MAX_CENTROIDS cap the ~34 MB payload rides the torrent
      once per executor instead of being re-pickled into every task
      command.
    - SHARED: every consumer in one query build (ann_ivfpq_served's
      index build and its per-batch probes) passes ONE handle, so each
      query build collects and broadcasts the codebook once.
    """

    def __init__(self, centroids: DataFrame):
        self._centroids = centroids
        self._bc = None

    def _materialize(self):
        import numpy as np

        rows = self._centroids.orderBy("centroid_id").collect()
        cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
        cmat = (
            np.array([list(r["cvec"]) for r in rows], dtype=np.float64)
            if rows
            else np.zeros((0, 0), dtype=np.float64)
        )
        return cids, cmat

    def arrays(self):
        """(cids int64[C], cmat float64[C, dim]); collects + broadcasts on
        first driver-side use, reads the broadcast executor-side."""
        if self._bc is None:
            sc = self._centroids.sparkSession.sparkContext
            self._bc = sc.broadcast(self._materialize())
        return self._bc.value

    def __reduce__(self):
        self.arrays()  # ensure the broadcast exists before shipping
        return (_rebuild_codebook_handle, (self._bc,))


def _rank_codebook(
    df: DataFrame,
    codebook: _CodebookHandle,
    id_col: str,
    vec_col: str,
    depth: int,
    emit,
    schema: str,
) -> DataFrame:
    """The one IVF assignment kernel: every row's codebook centroids
    ranked by cosine, map-only, with SPARK-EXACT arithmetic and order —
    every double matches the declarative cosine() +
    row_number(desc ccos, asc centroid_id) plan it replaced:

    - dot accumulates in an ascending-dimension loop (acc += v_i·c_i,
      IEEE two-step, no FMA), the identical left-associated order as the
      dot() aggregate fold; vector and centroid norms use the identical
      ascending x·x fold + sqrt as norm(), and ccos = dot/(vnorm·cnorm)
      with the same product-then-divide shape as cosine();
    - the order is a STABLE argsort by (desc ccos, asc centroid_id) over
      centroid columns already in ascending-id order, with NaN ranked
      greatest (Spark's double order puts NaN first under desc).  Its
      first column is therefore also the max(struct(ccos, -centroid_id))
      argmax: ties go to the lower id, NaN ranks first, and ±0.0 compare
      equal (stable → lower centroid_id, where Java's Double.compare
      orders -0.0 < 0.0).  At depth 1 the kernel takes that column as
      the first-occurrence argmax, which skips the N×C sort.  On a
      zero-norm vector or centroid the declarative plan under ANSI mode
      would raise DIVIDE_BY_ZERO while this kernel's 0/0 yields NaN and
      ranks it first.  Embeddings here are nonzero, so neither case is
      reachable; the gate-SF hash checks pin the equivalence on real
      data.

    Per Arrow batch the work is dim vectorized (rows×C) fused rounds.
    The r1-r10 shape (broadcast-join the codebook, score N×C slim rows,
    window-shuffle them for the per-id rank) materialized and SHUFFLED
    an N×C frame: 5.7 BILLION rows at the sf100 decade probe (2M vectors
    × 2,829 corpus-adaptive centroids), which failed the probe outright.
    This kernel never materializes N×C rows off-core: the codebook rides
    into each task (bounded ≤ CODEBOOK_MAX_CENTROIDS by construction at
    every call site) and only what `emit` keeps leaves the batch.

    `emit(ids, ranked, top_cos)` receives the batch's int64 ids, each
    row's best min(depth, C) centroid ids best-first, and each row's best
    cosine; it returns the output batch's columns, typed by `schema`."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        cids, C = codebook.arrays()
        if C.size == 0:
            return
        nc, dim = C.shape
        cn = np.zeros(nc, dtype=np.float64)
        for i in range(dim):
            cn += C[:, i] * C[:, i]
        cn = np.sqrt(cn)
        for pdf in batches:
            nr = len(pdf)
            if nr == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vn = np.zeros(nr, dtype=np.float64)
            D = np.zeros((nr, nc), dtype=np.float64)
            for i in range(dim):
                vn += V[:, i] * V[:, i]
                D += V[:, i : i + 1] * C[None, :, i]
            vn = np.sqrt(vn)
            with np.errstate(divide="ignore", invalid="ignore"):
                cc = D / (vn[:, None] * cn[None, :])
            key = np.where(np.isnan(cc), np.inf, cc)
            if depth == 1:  # the stable order's first column, unsorted
                order = key.argmax(axis=1)[:, None]
            else:
                order = np.argsort(-key, axis=1, kind="stable")
            yield pd.DataFrame(
                emit(
                    pdf[id_col].to_numpy(dtype=np.int64),
                    cids[order[:, :depth]],
                    cc[np.arange(nr), order[:, 0]],
                )
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def _nearest_buckets(
    df: DataFrame,
    codebook: _CodebookHandle,
    id_col: str,
    vec_col: str,
    n: int,
    out: str,
) -> DataFrame:
    """Each row's `n` nearest centroid buckets as the SLIM (id, out)
    frame, n rows per id (see _rank_codebook).  Callers that need the
    vector (or its precomputed norm) re-attach it with one N-row
    equi-join; callers that only need the bucket (the served code index)
    skip that join entirely."""
    import numpy as np

    def emit(ids, ranked, top_cos):
        return {id_col: np.repeat(ids, ranked.shape[1]), out: ranked.ravel()}

    return _rank_codebook(
        df, codebook, id_col, vec_col, n, emit, f"{id_col} long, {out} long"
    )


def _assign_and_probe(
    df: DataFrame,
    codebook: _CodebookHandle,
    id_col: str,
    vec_col: str,
    n_queries: int,
    nprobe: int,
) -> tuple[DataFrame, DataFrame]:
    """(assigned, probes) from ONE kernel pass over the corpus: every
    row's top-1 bucket, plus the top-nprobe probe list of the query rows
    (queries are the id < n_queries prefix of the corpus).  Halves the
    JVM→Python Arrow roundtrips and job count of two separate passes
    (guide §4.1: the boundary itself is the cost at small batches).  The
    combined slim output (N + Q·nprobe rows, tagged probe=0/1) is
    truncated behind a non-eager localCheckpoint so its two filtered
    consumers share a single materialization instead of each re-running
    the Arrow pass."""
    import numpy as np

    def emit(ids, ranked, top_cos):
        q = ids < n_queries
        probes = ranked[q, :nprobe]
        return {
            id_col: np.concatenate([ids, np.repeat(ids[q], probes.shape[1])]),
            "bucket": np.concatenate([ranked[:, 0], probes.ravel()]),
            "probe": np.concatenate(
                [np.zeros(len(ids), np.int32), np.ones(probes.size, np.int32)]
            ),
        }

    combined = _rank_codebook(
        df,
        codebook,
        id_col,
        vec_col,
        max(nprobe, 1),
        emit,
        f"{id_col} long, bucket long, probe int",
    ).localCheckpoint(eager=False)
    assigned = combined.filter(F.col("probe") == 0).select(id_col, "bucket")
    probes = combined.filter(F.col("probe") == 1).select(id_col, "bucket")
    return assigned, probes


def ann_ivf(emb: DataFrame, centroids: DataFrame | None = None) -> DataFrame:
    """IVF-style approximate top-k: assign vectors to their nearest centroid
    (coarse quantizer), probe only the N_PROBE centroid buckets nearest to
    each query.  Same output shape as ann_bruteforce; recall < 1 by design.

    `centroids` swaps in an externally trained codebook, (centroid_id,
    cvec array<double>)-shaped — e.g. kmeans_fit's output — in place of
    the deterministic sample."""
    # norm once per vector (see ann_bruteforce: same doubles, 1/3 the
    # per-pair fold work)
    base = _vectors(emb).withColumn("nrm", norm(F.col("vec")))
    if centroids is None:
        centroids = _centroids(base, N_CENTROIDS)
    codebook = _CodebookHandle(centroids)

    # ONE kernel pass over the corpus yields the top-1 assignment AND the
    # query probe lists (queries are the id < n_queries prefix of the
    # same corpus) — see _assign_and_probe; the slim (id, bucket)
    # outputs re-attach vector + norm with one N-row join
    a_slim, p_slim = _assign_and_probe(
        base, codebook, "vec_id", "vec", N_QUERIES, N_PROBE
    )
    assigned = a_slim.join(base, "vec_id")
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    probes = p_slim.withColumnRenamed("vec_id", "query_id").join(
        queries, "query_id"
    )

    # every vector lives in exactly ONE bucket (n=1 assignment) and the
    # nprobe probe buckets per query are distinct centroid ids, so the
    # bucket equi-join emits each (query, neighbor) candidate at most
    # once — the old .distinct() here was a full Exchange + dedup pass
    # over the candidate set for rows that were already unique (guide
    # §2.4; ann_ivfpq's cand path documents the same invariant)
    scored = (
        assigned.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos_raw"),
        )
    )
    topk = top_k_per_key(
        scored,
        key="query_id",
        order_by=[F.desc("cos_raw"), F.col("neighbor_id")],
        k=TOP_K,
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_raw", 6).alias("cos"),
        "rank",
    )


def ann_ivf_sql(cent_rel: str | None = None) -> str:
    cent = cent_rel or (
        f"(SELECT * FROM embeddings WHERE vec_id < {N_CENTROIDS})"
    )
    all_to_cent = _COSINE_PAIR_SQL.format(q="embeddings", e=cent)
    return f"""
        WITH a2c AS ({all_to_cent}),
        assigned AS (
            SELECT query_id AS vec_id, neighbor_id AS bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
            ) WHERE r = 1
        ),
        probes AS (
            SELECT query_id, neighbor_id AS bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
                WHERE query_id < {N_QUERIES}
            ) WHERE r <= {N_PROBE}
        ),
        pairs AS (
            SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
            FROM probes p JOIN assigned a ON p.bucket = a.bucket
            WHERE a.vec_id <> p.query_id
        ),
        cos_all AS ({_COSINE_PAIR_SQL.format(
            q=f"(SELECT * FROM embeddings WHERE vec_id < {N_QUERIES})",
            e="embeddings")}),
        scored AS (
            SELECT c.query_id, c.neighbor_id, c.cos
            FROM cos_all c JOIN pairs p
              ON c.query_id = p.query_id AND c.neighbor_id = p.neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, round(cos, 6) AS cos,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


NEARDUP_BLOCK = 64  # vectors in embedding_neardup_pairs' all-pairs block


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_COSINE,
    n_queries: int = NEARDUP_BLOCK,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs among the first `n_queries`
    vectors (bounded block so the demo stays quadratic-in-small-n; the scale
    path is ann_ivf with a threshold filter)."""
    base = (
        _vectors(emb)
        .filter(F.col("vec_id") < n_queries)
        # norm once per vector, dot/(na·nb) per pair — identical doubles
        # as cosine() (see ann_bruteforce / semantic_dedup)
        .withColumn("nrm", norm(F.col("vec")))
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_neardup_pairs_sql() -> str:
    sub = f"(SELECT * FROM embeddings WHERE vec_id < {NEARDUP_BLOCK})"
    pair = _COSINE_PAIR_SQL.format(q=sub, e=sub)
    return f"""
        WITH scored AS ({pair})
        SELECT query_id AS id_a, neighbor_id AS id_b, round(cos, 6) AS cos
        FROM scored
        WHERE query_id < neighbor_id AND round(cos, 6) >= {NEARDUP_COSINE}
        ORDER BY id_a, id_b
    """


CODEBOOK_MAX_CENTROIDS = 65_536
NEARDUP_NASSIGN = 2  # buckets each vector joins in embedding_neardup_ivf


def neardup_centroid_count(
    approx_rows: int | None, nassign: int = NEARDUP_NASSIGN
) -> int:
    """Corpus-adaptive codebook size, C = min(nassign·√rows, 65,536) —
    the classic IVF balance: assignment costs rows·C cosines and
    within-bucket verify costs ≈ rows²·nassign²/C, which are EQUAL at
    C = nassign·√rows, so both stages scale ~rows^1.5 (vs verify going
    quadratic under a fixed tiny C — measured 84 s at 10k vectors — or
    assignment going quadratic under a per-bucket-size target,
    C ∝ rows).  Shared by the DuckDB oracle so both engines bucket
    identically.

    The CODEBOOK_MAX_CENTROIDS cap (r10 VERDICT item 4) bounds the one
    driver-resident artifact that otherwise grows with data — the
    codebook collect is ≤ 65,536 rows × dim doubles (~34 MB at 64 dims,
    vs ~160 MB uncapped at 10¹¹ vectors).  Quality/cost note: the cap
    binds only past rows ≈ (C_MAX/nassign)² — 4.3×10⁹ vectors at
    nassign=1 — beyond which verify grows as rows²·nassign²/C_MAX
    instead of rows^1.5; candidate generation stays within-bucket (no
    recall change, near-dup groups only get cheaper to witness), so the
    trade is compute balance, not result quality.  Gate SFs sit far
    below the cap, so all oracle hashes are unchanged."""
    if approx_rows is None:
        return N_CENTROIDS
    return max(
        N_CENTROIDS,
        min(int(nassign * approx_rows ** 0.5) + 1, CODEBOOK_MAX_CENTROIDS),
    )


def embedding_neardup_ivf(
    emb: DataFrame, approx_rows: int | None = None
) -> DataFrame:
    """CORPUS-WIDE embedding near-dup — the scale path the bounded
    embedding_neardup_pairs block documents: multi-assign every vector to
    its NEARDUP_NASSIGN nearest centroid buckets (multi-probe indexing raises
    recall across bucket boundaries), generate candidates as WITHIN-BUCKET
    pairs only, verify with the exact cosine.  The IVF analog of LSH
    banding: with the corpus-adaptive codebook (neardup_centroid_count)
    candidate count stays linear in the corpus, never quadratic, and every
    stage is an equi-join / window over the broadcast codebook.
    `approx_rows` is the parquet-footer row count (no Spark job)."""
    n_centroids = neardup_centroid_count(approx_rows, NEARDUP_NASSIGN)
    base = _vectors(emb).withColumn("vnorm", norm(F.col("vec")))
    codebook = _CodebookHandle(_centroids(base, n_centroids))
    # slim (vec_id, bucket) assignment (map-only kernel), then ONE N-row
    # join re-attaches vector + precomputed norm.  Norms computed once per
    # ROW, not re-folded twice per PAIR: the verify cosine below stays
    # dot/(na·nb) — the identical double association as cosine() — so
    # every cos is the same double (the semantic_dedup r10 proof; hashes
    # pinned by the oracle at both gate SFs).  At the sf100 decade the
    # per-pair norm folds were ~2/3 of 2.8B pair scorings.
    # the slim assignment feeds BOTH legs of the bucket self-join below;
    # without truncation the Arrow kernel pass executes once per leg
    # (identical-subtree reuse only applies to exchanges, and the legs
    # project different columns).  The checkpointed frame is the bounded
    # (vec_id, bucket) pairs — N·NEARDUP_NASSIGN slim rows, never the
    # vectors.
    assigned = (
        _nearest_buckets(
            base, codebook, "vec_id", "vec", NEARDUP_NASSIGN, "bucket"
        )
        .localCheckpoint(eager=False)
        .join(base, "vec_id")
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("vnorm").alias("na"),
        "bucket",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("vnorm").alias("nb"),
        "bucket",
    )
    # a pair sharing several buckets scores identically each time, so the
    # distinct() after scoring dedups without re-joining vectors
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= NEARDUP_COSINE)
        .distinct()
    )


def embedding_neardup_ivf_sql(approx_rows: int | None = None) -> str:
    n_centroids = neardup_centroid_count(approx_rows, NEARDUP_NASSIGN)
    cent = f"(SELECT * FROM embeddings WHERE vec_id < {n_centroids})"
    a2c = _COSINE_PAIR_SQL.format(q="embeddings", e=cent)
    return f"""
        WITH a2c AS ({a2c}),
        assigned AS (
            SELECT query_id AS vec_id, neighbor_id AS bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
            ) WHERE r <= {NEARDUP_NASSIGN}
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM assigned x JOIN assigned y
              ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        ),
        verify AS (
            SELECT c.id_a, c.id_b,
                   sum(ua.v * ub.v)
                     / (sqrt(sum(ua.v * ua.v)) * sqrt(sum(ub.v * ub.v)))
                       AS cos
            FROM cand c
            JOIN (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                         unnest(range(len(embedding))) AS i
                  FROM embeddings) ua ON ua.vec_id = c.id_a
            JOIN (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                         unnest(range(len(embedding))) AS i
                  FROM embeddings) ub
              ON ub.vec_id = c.id_b AND ub.i = ua.i
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, round(cos, 6) AS cos FROM verify
        WHERE round(cos, 6) >= {NEARDUP_COSINE}
        ORDER BY id_a, id_b
    """


NEARDUP_MAX_PAIRS_PER_DOC = 4


def embedding_neardup_ivf_capped(
    emb: DataFrame, approx_rows: int | None = None
) -> DataFrame:
    """BOUNDED-OUTPUT corpus near-dup (the 100 TB posture for
    embedding_neardup_ivf, r12 VERDICT item 4): every doc keeps at most
    its NEARDUP_MAX_PAIRS_PER_DOC strongest pairs, so the emitted pair set is
    <= N·cap rows — LINEAR in the corpus — where the uncapped audit's
    output grows with true duplication density (326M pairs at the sf100
    probe).  A pair survives if EITHER endpoint ranks it inside its own
    top-cap (rank by cos desc, partner id asc over the ROUNDED cos — the
    repo's cross-engine ranking convention), so every doc retains its
    strongest witnesses and no doc's dup evidence is silently dropped by
    a partner's popularity.  The uncapped query remains declared and
    oracle-checked; this is the variant a downstream collapse/report
    materializes at scale.

    Cost note: candidate generation and exact verification are the SAME
    work as the uncapped audit (the cap bounds the OUTPUT, which is what
    downstream shuffles/writes) plus one top-k over the surviving pairs,
    limited map-side by functions/topk.py."""
    pairs = embedding_neardup_ivf(emb, approx_rows)
    sides = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("partner"), "cos"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("partner"),
            "cos",
        )
    )
    kept = top_k_per_key(
        sides,
        key="doc_id",
        order_by=[F.desc("cos"), F.col("partner")],
        k=NEARDUP_MAX_PAIRS_PER_DOC,
    )
    return (
        kept.select(
            F.least("doc_id", "partner").alias("id_a"),
            F.greatest("doc_id", "partner").alias("id_b"),
            "cos",
        )
        .distinct()
    )


def embedding_neardup_ivf_capped_sql(approx_rows: int | None = None) -> str:
    """DuckDB replay: the uncapped pair set, each pair doubled to both
    endpoints, per-doc rank (cos desc, partner asc), cap, canonicalize."""
    uncapped = embedding_neardup_ivf_sql(approx_rows)
    return f"""
        WITH pairs AS MATERIALIZED ({uncapped}),
        sides AS (
            SELECT id_a AS doc_id, id_b AS partner, cos FROM pairs
            UNION ALL
            SELECT id_b AS doc_id, id_a AS partner, cos FROM pairs
        ),
        kept AS (
            SELECT doc_id, partner, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY cos DESC, partner) AS r
                FROM sides
            ) WHERE r <= {NEARDUP_MAX_PAIRS_PER_DOC}
        )
        SELECT DISTINCT least(doc_id, partner) AS id_a,
               greatest(doc_id, partner) AS id_b, cos
        FROM kept ORDER BY id_a, id_b
    """


def embedding_stats(emb: DataFrame) -> DataFrame:
    """Per-label corpus statistics: vector count, mean L2 norm, and the L2
    norm of the label centroid (elementwise mean) — the health metrics an
    IVF/clustering deployment watches (collapsed centroids, norm drift).

    Scale: per-vector norms are map-side array HOFs; the centroid is a
    (label, dim) exploded aggregation — shuffle rows = labels × dims, not
    vectors × dims, thanks to map-side partial sums."""
    base = spread(emb).select(
        "label", norm(_dvec(F.col("embedding"))).alias("vnorm")
    )
    stats = base.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(favg_fx(F.col("vnorm")), 6).alias("avg_norm"),
    )
    # fixed-point sums throughout (favg_fx/fsum_fx): both aggregation
    # layers merge multi-partition double partials, so plain avg/sum
    # would be order-nondeterministic at the round() boundary.  cmean²
    # values are O(1e-2), so the squared layer uses a 1e-12 quantum.
    cent = (
        spread(emb).select("label", _dvec(F.col("embedding")).alias("_v"))
        # barrier before posexplode: _dvec is an O(dim) transform that
        # would re-evaluate per emitted (pos, val) row (r8 collapse fix)
        .localCheckpoint(eager=False)
        .select("label", F.posexplode("_v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(favg_fx(F.col("val")).alias("cmean"))
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(
                    fsum_fx(F.col("cmean") * F.col("cmean"), scale=10**12)
                ),
                6,
            ).alias("centroid_norm")
        )
    )
    return stats.join(cent, "label")


def embedding_stats_sql() -> str:
    return f"""
        WITH norms AS (
            SELECT label,
                   sqrt(list_aggregate(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                       AS vnorm
            FROM embeddings
        ),
        stats AS (
            SELECT label, count(*) AS n_vectors,
                   round({avg_fx_sql("vnorm")}, 6) AS avg_norm
            FROM norms GROUP BY label
        ),
        dims AS (
            SELECT label,
                   CAST(unnest(embedding) AS DOUBLE) AS val,
                   unnest(range(len(embedding))) AS pos
            FROM embeddings
        ),
        cmeans AS (
            SELECT label, pos, {avg_fx_sql("val")} AS cmean
            FROM dims GROUP BY 1, 2
        ),
        cents AS (
            SELECT label,
                   round(sqrt({sum_fx_sql("cmean * cmean", 10**12)}), 6)
                       AS centroid_norm
            FROM cmeans GROUP BY label
        )
        SELECT s.label, s.n_vectors, s.avg_norm, c.centroid_norm
        FROM stats s JOIN cents c USING (label) ORDER BY s.label
    """


# ---------------------------------------------------------------------------
# K-means codebook training (Lloyd's) — the offline trainer the IVF
# quantizer's docstring assumes.  Reference has no clustering; this is
# north-star surface (SemDeDup-style semantic bucketing needs it).
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
EMB_DIM = 64  # driver testdata embedding width (all SFs)


def _sqdist(vec: Column, centroid: list[float]) -> Column:
    """Σ (vᵢ-cᵢ)² in double, left-to-right — same accumulation shape as the
    DuckDB oracle's list_sum(list_transform(...))."""
    lit = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(base: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Nearest-centroid assignment: map-only vs the broadcast (literal)
    codebook; argmin via array_min over (dist, cid) structs — struct
    comparison is lexicographic, so ties break on the lower cid exactly
    like the oracle's ORDER BY dist, cid."""
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _sqdist(F.col("v"), c).alias("dist"),
                    F.lit(cid).alias("cid"),
                )
                for cid, c in sorted(cents.items())
            ]
        )
    )
    return base.select(
        "vec_id", "v", best["cid"].alias("cid"), best["dist"].alias("dist")
    )


def kmeans_train(emb: DataFrame, iters: int = KMEANS_ITERS) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus.

    Per iteration: one map-only assignment pass against the broadcast
    codebook (k×dim literals — bytes, not a join), then one partial-
    aggregated groupBy(cid) whose shuffle carries k×dim doubles per map
    partition regardless of corpus size; the k-row result is collected to
    the driver (bounded — the codebook IS driver-sized by construction,
    the same contract as the IVF centroids).  Centroid means are rounded
    to 6 decimals each round so the iteration trajectory is bit-stable
    across engines (the DuckDB oracle replays the identical rounds).

    Deterministic init: the first k vectors by vec_id.  Output: one row
    per surviving cluster with member count, within-cluster inertia, and
    the final centroid L2 norm."""
    base = spread(emb).select("vec_id", _dvec(F.col("embedding")).alias("v"))
    cents = kmeans_fit(emb, iters=iters)
    final = _assign(base, cents)
    norm_map = F.create_map(
        *[
            F.lit(x)
            for cid, c in sorted(cents.items())
            for x in (cid, round(math_sqrt(sum(v * v for v in c)), 4))
        ]
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(fsum_fx(F.col("dist")), 4).alias("inertia"),
        )
        .withColumn("centroid_norm", norm_map[F.col("cid")])
    )


def kmeans_assign(
    emb: DataFrame, cents: dict[int, list[float]]
) -> DataFrame:
    """Public nearest-centroid assignment over raw embedding rows:
    (vec_id, cid) via the same broadcast-literal argmin as training
    (_assign), so downstream profiling ops never reach into the
    module's privates."""
    base = spread(emb).select("vec_id", _dvec(F.col("embedding")).alias("v"))
    return _assign(base, cents).select("vec_id", "cid")


def kmeans_fit(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> dict[int, list[float]]:
    """Run the Lloyd's rounds and return the final codebook as
    {cid: centroid} — the fitting core shared by kmeans_train (which adds
    the summary pass) and ann_ivf's trained-codebook path.

    The trained codebook is a bounded driver-side artifact (k x dim
    floats) that is a deterministic function of (corpus identity, k,
    iters, dim), so it is generation-cached (functions/cachegen.memo,
    r7): every consumer of the SAME corpus generation (kmeans_train,
    ann_ivf's trained path, cluster_profile, recall probes) shares one
    training run instead of each re-paying iters x (assign + agg)
    passes (~6.7 s at sf0.1).  A rewritten corpus lands on a new
    generation key, so stale codebooks are never served.  The memo
    holds its own copy: callers may mutate what they get back."""
    cents = memo(
        f"kmeans_codebook[{k},{iters},{EMB_DIM}]",
        emb,
        lambda: _lloyd(emb, k, iters),
    )
    return {cid: list(c) for cid, c in cents.items()}


def _lloyd(emb: DataFrame, k: int, iters: int) -> dict[int, list[float]]:
    base = spread(emb).select("vec_id", _dvec(F.col("embedding")).alias("v"))
    # init = first k vec_ids; the k-row frame is collected anyway, so the
    # cid numbering happens driver-side — no window exec at all (a
    # no-partition Window here is bounded at k rows but still logs the
    # single-partition warning on every bench run)
    init = base.orderBy("vec_id").limit(k).collect()
    cents = {i: list(r["v"]) for i, r in enumerate(init)}
    for _ in range(iters):
        assigned = _assign(base, cents)
        new_rows = (
            assigned.groupBy("cid")
            .agg(
                *[
                    F.round(favg_fx(F.col("v")[d]), 6).alias(f"c{d}")
                    for d in range(EMB_DIM)
                ]
            )
            .collect()
        )
        cents = {
            r["cid"]: [r[f"c{d}"] for d in range(EMB_DIM)] for r in new_rows
        }
    return cents


def kmeans_cent_rel(k: int = KMEANS_K) -> str:
    """Parenthesized DuckDB relation of the TRAINED codebook, shaped
    (vec_id, embedding) for splicing into ann_ivf_sql's `cent_rel` — the
    SQL twin of kmeans_fit().  Self-contained (own WITH scope)."""
    parts = [
        f"""(WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
            FROM e ORDER BY vec_id LIMIT {k}
        )"""
    ]
    for i in range(1, KMEANS_ITERS + 1):
        prev = f"c{i - 1}"
        parts.append(
            f""", a{i} AS (
            SELECT vec_id, cid, dist FROM (
                SELECT d.*, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM (
                    SELECT e.vec_id, c.cid,
                           list_sum(list_transform(range(1, {EMB_DIM} + 1),
                               j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])
                           )) AS dist
                    FROM e, {prev} c
                ) d
            ) WHERE rn = 1
        ), c{i} AS (
            SELECT cid, list(cd ORDER BY dm) AS c FROM (
                SELECT a.cid, u.dm AS dm,
                       round({avg_fx_sql("e.v[u.dm]")}, 6) AS cd
                FROM a{i} a JOIN e USING (vec_id),
                     unnest(range(1, {EMB_DIM} + 1)) AS u(dm)
                GROUP BY a.cid, u.dm
            ) GROUP BY cid
        )"""
        )
    parts.append(
        f" SELECT cid AS vec_id, c AS embedding FROM c{KMEANS_ITERS})"
    )
    return "".join(parts)


def kmeans_sql() -> str:
    """DuckDB replay of kmeans_train: identical init, per-round 6-decimal
    centroid rounding, and (dist, cid) tie-breaking."""
    parts = [
        f"""WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), c0 AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
            FROM e ORDER BY vec_id LIMIT {KMEANS_K}
        )"""
    ]
    # KMEANS_ITERS updates + one final assignment
    for i in range(1, KMEANS_ITERS + 2):
        prev = f"c{i - 1}"
        parts.append(
            f""", a{i} AS (
            SELECT vec_id, cid, dist FROM (
                SELECT d.*, row_number() OVER (
                    PARTITION BY vec_id ORDER BY dist, cid) AS rn
                FROM (
                    SELECT e.vec_id, c.cid,
                           list_sum(list_transform(range(1, {EMB_DIM} + 1),
                               j -> (e.v[j] - c.c[j]) * (e.v[j] - c.c[j])
                           )) AS dist
                    FROM e, {prev} c
                ) d
            ) WHERE rn = 1
        )"""
        )
        if i <= KMEANS_ITERS:
            parts.append(
                f""", c{i} AS (
            SELECT cid, list(cd ORDER BY dm) AS c FROM (
                SELECT a.cid, u.dm AS dm,
                       round({avg_fx_sql("e.v[u.dm]")}, 6) AS cd
                FROM a{i} a JOIN e USING (vec_id),
                     unnest(range(1, {EMB_DIM} + 1)) AS u(dm)
                GROUP BY a.cid, u.dm
            ) GROUP BY cid
        )"""
            )
    parts.append(
        f"""
        SELECT a.cid, count(*) AS n_vectors,
               round({sum_fx_sql("a.dist")}, 4) AS inertia,
               round(sqrt(list_sum(list_transform(c.c, x -> x * x))), 4)
                   AS centroid_norm
        FROM a{KMEANS_ITERS + 1} a JOIN c{KMEANS_ITERS} c USING (cid)
        GROUP BY a.cid, c.c ORDER BY a.cid"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# LSH-bucketed ANN: signed-random-projection (cosine) hashing with banded
# OR-amplification — the second scale path next to IVF.  24 md5-derived ±1
# Rademacher hyperplanes give each vector a 24-bit sign signature split
# into 4 bands of 6 bits; candidate pairs share AT LEAST ONE band (the
# same (band_id, band_key) equi-join shape as MinHash-LSH dedup), and the
# exact cosine runs on candidates only.  The oracle regenerates the
# hyperplanes bit-for-bit from the same md5 strings.
# ---------------------------------------------------------------------------

LSH_BANDS = 4
LSH_BAND_BITS = 6
LSH_BITS = LSH_BANDS * LSH_BAND_BITS


def lsh_hyperplanes(bits: int = LSH_BITS) -> list[list[int]]:
    """±1 hyperplane matrix from md5("lsh{b}:{d}") parity — deterministic,
    engine-independent, and regenerable inline in oracle SQL."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"lsh{b}:{d}".encode()).hexdigest()[:8], 16
            )
            % 2
            == 0
            else -1
            for d in range(EMB_DIM)
        ]
        for b in range(bits)
    ]


def lsh_band_keys(vec: Column, hp: list[list[int]], band_bits: int) -> Column:
    """Array of per-band packed sign keys — one map-only expression, the
    hyperplanes enter the plan as literals (bytes, not a join)."""
    keys = []
    for band_start in range(0, len(hp), band_bits):
        key = F.lit(0).cast("long")
        for j, row in enumerate(hp[band_start : band_start + band_bits]):
            d = dot(vec, F.array(*[F.lit(float(x)) for x in row]))
            key = key + F.when(d >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        keys.append(key)
    return F.array(*keys)


def ann_lsh(emb: DataFrame) -> DataFrame:
    """Approximate top-k via banded cosine LSH: signature pass (map-only),
    candidate generation by (band_id, band_key) equi-join — a pair is a
    candidate iff it agrees on all LSH_BAND_BITS hyperplane signs of at
    least one band — then exact cosine verification on candidates only.
    Output adds n_candidates per query: the measured pruning factor vs
    the brute-force full scan.

    At 100 TB: the corpus side explodes ×bands into (band_id, band_key)
    rows joined against the broadcast query bands; no pair of vectors
    that never collides is ever scored, and the per-bucket population is
    capped by the 2^LSH_BAND_BITS keyspace per band (LSH_BAND_BITS tunes the
    recall/pruning trade exactly like MinHash-LSH's band width)."""
    hp = lsh_hyperplanes(LSH_BANDS * LSH_BAND_BITS)
    # checkpoint barrier before the posexplode (r8 GenerateExec
    # projection-collapse fix): lsh_band_keys is O(bands x band_bits x
    # dim) of dot products per evaluation and would otherwise
    # re-evaluate once per emitted band row
    base = _vectors(emb).withColumn(
        # norm once per vector, materialized in the checkpoint (see
        # ann_bruteforce: dot/(qn·nn) is the identical double association)
        "nrm", norm(F.col("vec"))
    ).withColumn(
        "bkeys", lsh_band_keys(F.col("vec"), hp, LSH_BAND_BITS)
    ).localCheckpoint(eager=False)
    corpus_bands = base.select(
        "vec_id",
        "vec",
        "nrm",
        F.posexplode("bkeys").alias("band_id", "band_key"),
    )
    query_bands = corpus_bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
        F.col("band_id").alias("qband_id"),
        F.col("band_key").alias("qband_key"),
    )
    cand = (
        corpus_bands.join(
            F.broadcast(query_bands),
            (F.col("band_id") == F.col("qband_id"))
            & (F.col("band_key") == F.col("qband_key"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        # cosine is computed map-side AT the banded match (a pair hitting
        # 2+ bands re-scores ≤bands-1 extra times — bounded), so the
        # dedup groupBy shuffles slim (query_id, neighbor_id, cos) rows,
        # never the two 64-dim vectors — the same carry-nothing-wide rule
        # the IVF assignment learned the hard way at 100k vectors.
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot(F.col("qvec"), F.col("vec"))
                / (F.col("qn") * F.col("nrm"))
            ).alias("cos_pair"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("cos_pair").alias("cos_raw"))
        # cand feeds TWO consumers (the n_candidates audit and the top-k
        # ranking); without truncation the banded join + cosine + dedup
        # subtree executes once per consumer (the repo's reused-frame
        # plan-audit lesson).  The frame is slim (query_id, neighbor_id,
        # cos) and candidate-bounded at any scale.
        .localCheckpoint(eager=False)
    )
    n_cand = cand.groupBy("query_id").agg(
        F.count("*").alias("n_candidates")
    )
    topk = top_k_per_key(
        cand,
        key="query_id",
        order_by=[F.desc("cos_raw"), F.col("neighbor_id")],
        k=TOP_K,
    )
    return (
        topk.join(F.broadcast(n_cand), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos"),
            "rank",
            "n_candidates",
        )
    )


def ann_lsh_sql() -> str:
    """DuckDB replay: same md5 hyperplanes, banded sign keys, ≥1-shared-
    band candidates, candidate-only cosine, (cos desc, neighbor_id) rank."""
    bits = LSH_BANDS * LSH_BAND_BITS
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), hp AS (
            SELECT b.b AS b, d.d AS d,
                   CASE WHEN CAST(('0x' || substr(
                            md5('lsh' || b.b || ':' || d.d), 1, 8))
                        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS r
            FROM unnest(range(0, {bits})) b(b),
                 unnest(range(0, {EMB_DIM})) d(d)
        ), dots AS (
            SELECT e.vec_id, hp.b, sum(e.v[hp.d + 1] * hp.r) AS dotv
            FROM e, hp GROUP BY e.vec_id, hp.b
        ), bkeys AS (
            SELECT vec_id, b // {LSH_BAND_BITS} AS band_id,
                   CAST(sum(CASE WHEN dotv >= 0
                        THEN (1::BIGINT << (b % {LSH_BAND_BITS}))
                        ELSE 0 END) AS BIGINT) AS band_key
            FROM dots GROUP BY vec_id, b // {LSH_BAND_BITS}
        ), cand AS (
            SELECT DISTINCT q.vec_id AS query_id, s.vec_id AS neighbor_id
            FROM bkeys q
            JOIN bkeys s ON s.band_id = q.band_id
                        AND s.band_key = q.band_key
            WHERE q.vec_id < {N_QUERIES} AND s.vec_id <> q.vec_id
        ), uv AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                   unnest(range(len(embedding))) AS i
            FROM embeddings
        ), scored AS (
            SELECT c.query_id, c.neighbor_id,
                   sum(q.v * n.v)
                     / (sqrt(sum(q.v * q.v)) * sqrt(sum(n.v * n.v))) AS cos
            FROM cand c
            JOIN uv q ON q.vec_id = c.query_id
            JOIN uv n ON n.vec_id = c.neighbor_id AND n.i = q.i
            GROUP BY 1, 2
        ), counts AS (
            SELECT query_id, count(*) AS n_candidates
            FROM cand GROUP BY query_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT r.query_id, r.neighbor_id, round(r.cos, 6) AS cos,
               CAST(r.rank AS INTEGER) AS rank, c.n_candidates
        FROM ranked r JOIN counts c USING (query_id)
        WHERE r.rank <= {TOP_K}
        ORDER BY r.query_id, r.rank
    """


# ---------------------------------------------------------------------------
# Product-quantization ANN (asymmetric distance computation) — the
# memory-compression scale path next to IVF (partition pruning) and LSH
# (candidate pruning).  A 64-dim float vector (256 B) compresses to M=8
# sub-space code ids (8 B at K≤256): the corpus side of the index stores
# ONLY (vec_id, m, code), so a 100M-vector index shrinks from ~26 GB of
# floats to ~1 GB of codes — the difference between "fits in executor
# memory" and "re-scans parquet per query batch" at the 100 TB posture.
#
# Shape per Jégou et al. (2011, public IVF-PQ literature), Spark-first:
#   1. codebook   — sub-space m's K centroids are the m-th slices of the
#                   first K vec_ids (the same deterministic-sample stand-in
#                   for offline k-means that ann_ivf uses; kmeans_fit can
#                   swap in trained sub-codebooks identically).  M×K tiny
#                   rows → F.broadcast.
#   2. encode     — argmin over the broadcast codebook per (vector,
#                   sub-space): one map-side join + one partial-aggregated
#                   groupBy(vec_id, m) of min(struct(dist, code)) — slim
#                   rows, combinable, one shuffle.
#   3. ADC tables — each query's distance to every (m, code) centroid:
#                   Q×M×K rows, computed map-side and broadcast.
#   4. scan       — encoded corpus ⋈ broadcast tables on (m, code), then
#                   groupBy(query, vec) sums the M partial distances.
#                   All rows of one vector sit in one input partition, so
#                   map-side combine collapses the shuffle to ~|Q|×|N|
#                   slim rows; the raw vectors never move.
# Distances are rounded (9 dp at encode, 6 dp at rank) in BOTH engines so
# accumulation-order float noise can never flip an argmin or a rank.
# ---------------------------------------------------------------------------

PQ_M = 8                       # sub-spaces
PQ_SUB_DIM = EMB_DIM // PQ_M   # 8 dims per sub-space
PQ_K = 16                      # codes per sub-space codebook


def _subvectors(base: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, m, sub) — posexplode the M contiguous sub-space slices.
    Arrays pinned behind a checkpoint before the posexplode (r8
    GenerateExec projection-collapse fix: the M-slice array build is
    O(dim) per evaluation and re-evaluates per emitted row otherwise)."""
    arrs = base.select(
        id_col,
        F.array(
            *[
                F.slice(F.col(vec_col), m * PQ_SUB_DIM + 1, PQ_SUB_DIM)
                for m in range(PQ_M)
            ]
        ).alias("_subs"),
    ).localCheckpoint(eager=False)
    return arrs.select(
        id_col,
        F.posexplode("_subs").alias("m", "sub"),
    )


def _subdist(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² over one sub-space, left-to-right, rounded to 9 dp (the
    oracle rounds identically, so argmin ties break the same way)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )


def _pq_codebook(subs: DataFrame, n_codes: int) -> DataFrame:
    """(m, code, csub) sub-space codebook — the m-th slices of the first
    `n_codes` vec_ids (the deterministic-sample stand-in; kmeans_fit
    sub-codebooks can be swapped in here and every consumer follows)."""
    return subs.filter(F.col("vec_id") < n_codes).select(
        F.col("m"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sub").alias("csub"),
    )


def _adc_tables(queries: DataFrame, cb: DataFrame) -> DataFrame:
    """(query_id, m, code, qdist) — each query's distance to every
    codebook centroid; Q×M×K rows, built map-side for broadcasting.
    `queries` holds the (vec_id, vec) rows of one query set: the
    id < n_queries prefix, or one serve batch's id range."""
    return (
        _subvectors(
            queries.select(F.col("vec_id").alias("query_id"), "vec"),
            "query_id",
            "vec",
        )
        .join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            "code",
            _subdist(F.col("sub"), F.col("csub")).alias("qdist"),
        )
    )


def pq_encode(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code) PQ codes of the `_subvectors` frame `subs`
    against the `_pq_codebook` `cb` — the compressed index a 100 TB
    deployment persists instead of floats.  Callers build `subs` and `cb`
    once per query and share them with the ADC tables."""
    best = F.min(
        F.struct(
            _subdist(F.col("sub"), F.col("csub")).alias("dist"),
            F.col("code").alias("code"),
        )
    )
    return (
        subs.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(best.alias("best"))
        .select("vec_id", "m", F.col("best.code").alias("code"))
    )


def ann_pq(
    emb: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Approximate top-k by PQ/ADC distance: rank corpus vectors for each
    query by the sum of query→centroid sub-distances of their codes.

    Output: (query_id, neighbor_id, adc_dist, rank) — rank by adc_dist
    asc (closest first), neighbor_id asc tie-break; self excluded."""
    base = _vectors(emb)
    subs = _subvectors(base, "vec_id", "vec")
    cb = _pq_codebook(subs, PQ_K)
    enc = pq_encode(subs, cb)
    qd = _adc_tables(base.filter(F.col("vec_id") < n_queries), cb)
    scored = (
        enc.join(F.broadcast(qd), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("qdist"), 6).alias("adc_dist"))
    )
    topk = top_k_per_key(
        scored,
        key="query_id",
        order_by=[F.asc("adc_dist"), F.col("neighbor_id")],
        k=k,
    )
    return topk.select(
        "query_id", "neighbor_id", "adc_dist", "rank"
    )


def ann_pq_sql() -> str:
    """DuckDB replay: same slices, same deterministic codebook, same 9/6 dp
    rounding, same (adc_dist, neighbor_id) rank order."""
    sq = (
        f"round(list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1), "
        f"j -> (s.sub[j] - c.csub[j]) * (s.sub[j] - c.csub[j]))), 9)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), subs AS (
            SELECT vec_id, m.m AS m,
                   list_slice(v, m.m * {PQ_SUB_DIM} + 1,
                              m.m * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
            FROM e, unnest(range(0, {PQ_M})) AS m(m)
        ), cb AS (
            SELECT m, CAST(vec_id AS INTEGER) AS code, sub AS csub
            FROM subs WHERE vec_id < {PQ_K}
        ), enc AS (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY {sq}, c.code) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), qd AS (
            SELECT s.vec_id AS query_id, s.m, c.code, {sq} AS qdist
            FROM subs s JOIN cb c USING (m)
            WHERE s.vec_id < {N_QUERIES}
        ), scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(sum(q.qdist), 6) AS adc_dist
            FROM enc e JOIN qd q ON q.m = e.m AND q.code = e.code
            WHERE e.vec_id <> q.query_id
            GROUP BY 1, 2
        ), ranked AS (
            SELECT query_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# IVF-PQ: the two scale levers composed, as in production vector indexes
# (FAISS-style IVF+ADC, public literature) — IVF prunes WHICH vectors are
# scanned (nprobe/C of the corpus), PQ compresses WHAT is scanned (codes,
# not floats).  At 100M+ vectors this is the only shape that both bounds
# scan cost and keeps the scanned index in memory.  Simplification vs the
# textbook: codes quantize the raw vectors, not per-bucket residuals —
# residual encoding needs per-bucket codebooks that complicate the oracle
# for no semantic coverage gain here; the plumbing (bucket-pruned scan of
# a code index via broadcast ADC tables) is identical.
# ---------------------------------------------------------------------------

def ann_ivfpq(
    emb: DataFrame, n_queries: int = N_QUERIES, n_centroids: int = N_CENTROIDS
) -> DataFrame:
    """Approximate top-k: IVF coarse quantizer restricts each query to its
    N_PROBE nearest centroid buckets; within them, neighbors are ranked
    by PQ/ADC distance over the code index.  Output shape = ann_pq.

    Codebook sizing — MEASURED decision (r11 VERDICT item 5): C stays a
    user knob with the fixed recall-friendly default (N_PROBE/C = 25 % of
    the corpus scanned).  The corpus-adaptive √N rule that
    embedding_neardup_ivf uses was tried as the default in r12 and
    FALSIFIED by the sf100 probe: this query is a ONE-SHOT batch (index
    built and thrown away per run, 40 queries), so cost grows
    monotonically with C — the fold-exact assignment pass is N·C·dim
    while the candidate scan only shrinks as 1/C on a fixed 40-query
    side: sf100 (2M vectors) measured 49.0 s at C=16, 110.3 s at C=78,
    334.2 s at C=1415 (=√N) on the same quiet machine at r12 HEAD.  √N
    sizing is the SERVED-index regime's rule (build once, amortize
    assignment over many query batches — and it is right for
    embedding_neardup_ivf, where every row is a query); callers running
    that regime pass `n_centroids` themselves.

    Plan: the code index (vec_id, bucket, m, code) is the ONLY corpus-
    sized frame after encode; probes and ADC tables are broadcast, so the
    scan is one map-side join chain + one partial-aggregated groupBy."""
    base = _vectors(emb)
    codebook = _CodebookHandle(_centroids(base, n_centroids))
    # one kernel pass yields the corpus assignment and the probe lists of
    # the id < n_queries prefix — see _assign_and_probe
    assigned, probes = _assign_and_probe(
        base, codebook, "vec_id", "vec", n_queries, N_PROBE
    )
    subs = _subvectors(base, "vec_id", "vec")
    cb = _pq_codebook(subs, PQ_K)
    qd = _adc_tables(base.filter(F.col("vec_id") < n_queries), cb)
    return _adc_top_k(assigned, probes, pq_encode(subs, cb), qd, TOP_K)


def _adc_top_k(
    assigned: DataFrame,
    probes: DataFrame,
    enc: DataFrame,
    qd: DataFrame,
    k: int,
) -> DataFrame:
    """The IVF-PQ scorer: (query_id, neighbor_id, adc_dist, rank) of the
    corpus vectors in each query's probed buckets, ranked by ADC distance
    (the sum of the query's `qd` sub-distances at the vector's `enc`
    codes), neighbor_id asc tie-break, self excluded.  `assigned` is the
    slim (vec_id, bucket) corpus assignment and `probes` the slim
    (vec_id, bucket) probe lists of the queries in `qd`."""
    probes = probes.withColumnRenamed("vec_id", "query_id")
    # every vector lives in exactly one bucket and probe buckets are
    # distinct, so (query, vec) candidates are already unique — no
    # dedup shuffle needed (unlike multi-band LSH)
    cand = assigned.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    scored = (
        cand.join(enc, "vec_id")
        .join(F.broadcast(qd), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("qdist"), 6).alias("adc_dist"))
    )
    topk = top_k_per_key(
        scored,
        key="query_id",
        order_by=[F.asc("adc_dist"), F.col("neighbor_id")],
        k=k,
    )
    return topk.select("query_id", "neighbor_id", "adc_dist", "rank")


def ann_ivfpq_sql(
    n_queries: int = N_QUERIES, n_centroids: int = N_CENTROIDS
) -> str:
    """DuckDB replay: ann_ivf's coarse assignment/probe CTEs composed with
    ann_pq's encode/ADC CTEs (MATERIALIZED — both are referenced more
    than once across the unquoted CTE graph)."""
    cent = f"(SELECT * FROM embeddings WHERE vec_id < {n_centroids})"
    a2c = _COSINE_PAIR_SQL.format(q="embeddings", e=cent)
    sq = (
        f"round(list_sum(list_transform(range(1, {PQ_SUB_DIM} + 1), "
        f"j -> (s.sub[j] - c.csub[j]) * (s.sub[j] - c.csub[j]))), 9)"
    )
    return f"""
        WITH a2c AS MATERIALIZED ({a2c}),
        assigned AS (
            SELECT query_id AS vec_id, neighbor_id AS bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
            ) WHERE r = 1
        ),
        probes AS (
            SELECT query_id, neighbor_id AS bucket FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
                WHERE query_id < {n_queries}
            ) WHERE r <= {N_PROBE}
        ),
        e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), subs AS MATERIALIZED (
            SELECT vec_id, m.m AS m,
                   list_slice(v, m.m * {PQ_SUB_DIM} + 1,
                              m.m * {PQ_SUB_DIM} + {PQ_SUB_DIM}) AS sub
            FROM e, unnest(range(0, {PQ_M})) AS m(m)
        ), cb AS (
            SELECT m, CAST(vec_id AS INTEGER) AS code, sub AS csub
            FROM subs WHERE vec_id < {PQ_K}
        ), enc AS MATERIALIZED (
            SELECT vec_id, m, code FROM (
                SELECT s.vec_id, s.m, c.code,
                       row_number() OVER (
                           PARTITION BY s.vec_id, s.m
                           ORDER BY {sq}, c.code) AS rn
                FROM subs s JOIN cb c USING (m)
            ) WHERE rn = 1
        ), qd AS MATERIALIZED (
            SELECT s.vec_id AS query_id, s.m, c.code, {sq} AS qdist
            FROM subs s JOIN cb c USING (m)
            WHERE s.vec_id < {n_queries}
        ), cand AS (
            SELECT p.query_id, a.vec_id
            FROM probes p JOIN assigned a USING (bucket)
            WHERE a.vec_id <> p.query_id
        ), scored AS (
            SELECT c.query_id, c.vec_id AS neighbor_id,
                   round(sum(q.qdist), 6) AS adc_dist
            FROM cand c
            JOIN enc e2 ON e2.vec_id = c.vec_id
            JOIN qd q ON q.query_id = c.query_id
                     AND q.m = e2.m AND q.code = e2.code
            GROUP BY 1, 2
        ), ranked AS (
            SELECT query_id, neighbor_id, adc_dist,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_dist, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# SERVED-index IVF-PQ (r12 VERDICT item 2 / r13 item 6): the regime the
# one-shot ann_ivfpq docstring reserves √N codebooks for — the index
# (coarse assignment + PQ codes + codebook) is built ONCE per corpus
# generation and query batches are served against it, so the N·C·dim
# assignment cost amortizes over every batch while each serve pays only
# probe (Q·C) + bucket-pruned candidate scan (~nprobe/C of the codes).
# ---------------------------------------------------------------------------

SERVED_N_BATCHES = 5
SERVED_BATCH_SIZE = N_QUERIES  # 8 queries per batch, 5 batches = 40


def served_centroid_count(approx_rows: int | None) -> int:
    """√N codebook sizing for the served regime (the r12 sf100 C-sweep's
    conclusion: √N is wrong for one-shot batches, right when the
    assignment is built once and amortized).  floor(sqrt(n)) in double —
    the DuckDB oracle computes the identical expression."""
    if approx_rows is None or approx_rows <= 0:
        return N_CENTROIDS
    from math import floor, sqrt

    return max(1, min(int(floor(sqrt(approx_rows))), CODEBOOK_MAX_CENTROIDS))


def _ivfpq_served_index(
    emb: DataFrame, codebook: _CodebookHandle
) -> tuple[DataFrame, ...]:
    """Generation-cached served IVF-PQ index: (assigned, cb, enc) —
    coarse top-1 bucket per vector against `codebook`, the PQ sub-space
    codebook, and the code index.  All three derive from the corpus alone
    (never from a query), the same cache-family contract as the BM25
    index.  The caller passes the coarse codebook handle it also probes
    with, so a cold serve collects and broadcasts it once."""
    return memo(
        "ivfpq_served", emb, lambda: _build_ivfpq_served(emb, codebook)
    )


def _build_ivfpq_served(
    emb: DataFrame, codebook: _CodebookHandle
) -> tuple[DataFrame, ...]:
    base = _vectors(emb)
    assigned = _nearest_buckets(
        base, codebook, "vec_id", "vec", 1, "bucket"
    ).persist()
    subs = _subvectors(base, "vec_id", "vec")
    cb = _pq_codebook(subs, PQ_K).persist()
    enc = pq_encode(subs, cb).persist()
    return assigned, cb, enc


def ann_ivfpq_served(
    emb: DataFrame, approx_rows: int | None = None
) -> DataFrame:
    """Serve SERVED_N_BATCHES independent query batches against the cached
    √N IVF-PQ index.  Each batch is a SEPARATE probe + bucket-pruned ADC
    scoring subplan (the serving shape: probes for 8 queries are one
    bounded Arrow pass, the candidate scan touches ~N_PROBE/√N of the
    code index, the ADC tables are per-batch broadcasts) — the union of
    the batches is the declared result, with `batch_id` identifying the
    serve call.  Per-query results are independent of batching, so the
    oracle replays all queries in one pass and derives batch_id
    arithmetically; equality with the batched Spark plan is exact.

    Output: (batch_id, query_id, neighbor_id, adc_dist, rank)."""
    base = _vectors(emb)
    codebook = _CodebookHandle(
        _centroids(base, served_centroid_count(approx_rows))
    )
    assigned, cb, enc = _ivfpq_served_index(emb, codebook)
    out = None
    for b in range(SERVED_N_BATCHES):
        lo, hi = b * SERVED_BATCH_SIZE, (b + 1) * SERVED_BATCH_SIZE
        qbase = base.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        probes = _nearest_buckets(
            qbase, codebook, "vec_id", "vec", N_PROBE, "bucket"
        )
        topk = _adc_top_k(
            assigned, probes, enc, _adc_tables(qbase, cb), TOP_K
        ).select(F.lit(b).alias("batch_id"), "*")
        out = topk if out is None else out.unionByName(topk)
    return out


def ann_ivfpq_served_sql(approx_rows: int | None = None) -> str:
    """DuckDB replay: ann_ivfpq_sql at the served √N codebook size and
    SERVED_N_BATCHES·SERVED_BATCH_SIZE queries, batch_id derived from
    query_id (valid because per-query results are batching-independent)."""
    n_centroids = served_centroid_count(approx_rows)
    n_queries = SERVED_N_BATCHES * SERVED_BATCH_SIZE
    inner = ann_ivfpq_sql(n_queries=n_queries, n_centroids=n_centroids)
    return f"""
        SELECT CAST(query_id // {SERVED_BATCH_SIZE} AS INTEGER) AS batch_id,
               query_id, neighbor_id, adc_dist, rank
        FROM ({inner})
        ORDER BY batch_id, query_id, rank
    """


# ---------------------------------------------------------------------------
# uint8 (1-byte) embedding quantization — the STORAGE lever next to PQ's
# index lever: per-dim affine quantization to one byte (4× smaller than
# float32) keeps a rerank-fidelity copy of the corpus in memory where the
# floats would not fit; the operator audits what that costs, per label,
# as reconstruction-error statistics.  Quantization uses an explicit
# floor(v + 0.5) in BOTH engines (Spark round() is HALF_UP, DuckDB's is
# HALF_EVEN — spelling out the floor removes the mode from the contract).
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255


def embedding_quantize_error(emb: DataFrame) -> DataFrame:
    """(label, n_vectors, max_abs_err, mse) of the uint8 round-trip under
    per-dimension corpus min/max scaling, ordered by label.  Codes span
    0..QUANT_LEVELS (0..255) — UNSIGNED one-byte storage; signed int8
    would overflow at 128 (r5 ADVICE).

    Plan: one posexplode pass feeds the per-dim min/max (64-row
    broadcast) and the element stream; quantize/dequantize/error is
    map-side arithmetic; one groupBy(label) aggregates the audit."""
    elems = emb.select(
        "label",
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("pos", "x"),
    )
    dims = elems.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    scaled = elems.join(F.broadcast(dims), "pos")
    span = F.col("mx") - F.col("mn")
    q = F.when(
        span > 0,
        F.floor(
            (F.col("x") - F.col("mn")) / span * F.lit(QUANT_LEVELS)
            + F.lit(0.5)
        ),
    ).otherwise(F.lit(0))
    deq = F.when(
        span > 0, F.col("mn") + q / F.lit(QUANT_LEVELS) * span
    ).otherwise(F.col("mn"))
    err = F.abs(F.col("x") - deq)
    return (
        scaled.select("label", err.alias("err"))
        .groupBy("label")
        .agg(
            # integer `div`, exact and identical to the oracle's `//`
            # (a double divide + cast would truncate vs round half-even)
            F.expr(f"count(*) div {EMB_DIM}").alias("n_vectors"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
            F.round(F.avg(F.col("err") * F.col("err")), 9).alias("mse"),
        )
    )


def embedding_quantize_error_sql() -> str:
    """DuckDB replay: same per-dim min/max, same explicit floor(v+0.5)
    quantizer, same error aggregation and rounding."""
    return f"""
        WITH elems AS MATERIALIZED (
            SELECT label, u.i AS pos, CAST(embedding[u.i + 1] AS DOUBLE) AS x
            FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
        ),
        dims AS (
            SELECT pos, min(x) AS mn, max(x) AS mx FROM elems GROUP BY pos
        ),
        errs AS (
            SELECT e.label,
                   abs(e.x - CASE WHEN d.mx > d.mn
                       THEN d.mn + floor((e.x - d.mn) / (d.mx - d.mn)
                                         * {QUANT_LEVELS} + CAST(0.5 AS DOUBLE))
                            / {QUANT_LEVELS} * (d.mx - d.mn)
                       ELSE d.mn END) AS err
            FROM elems e JOIN dims d USING (pos)
        )
        SELECT label, CAST(count(*) // {EMB_DIM} AS BIGINT) AS n_vectors,
               round(max(err), 6) AS max_abs_err,
               round(avg(err * err), 9) AS mse
        FROM errs GROUP BY label ORDER BY label
    """


# --- semantic dedup (SemDeDup) ----------------------------------------------

def _semantic_assign(df: DataFrame, codebook: _CodebookHandle) -> DataFrame:
    """(vec_id, bucket, cent_e6): each vector's nearest centroid and its
    fixed-point similarity cent_e6 = floor(ccos·1e6 + 0.5), NaN -> NULL
    like the cast.  The bucket is the first column of _rank_codebook's
    stable order, which is the declarative max(struct(ccos,
    -centroid_id)) argmax: ties keep the lower centroid_id, NaN ranks
    greatest."""
    import numpy as np
    import pandas as pd

    def emit(ids, ranked, top_cos):
        e6 = np.floor(top_cos * 1e6 + 0.5)
        nan = np.isnan(top_cos)
        if nan.any():  # NaN ccos -> NULL cent_e6, like the cast
            cent = pd.array(np.where(nan, 0, e6).astype(np.int64), dtype="Int64")
            cent[nan] = None
        else:
            cent = pd.array(e6.astype(np.int64), dtype="Int64")
        return {"vec_id": ids, "bucket": ranked[:, 0], "cent_e6": cent}

    schema = "vec_id long, bucket long, cent_e6 long"
    return _rank_codebook(df, codebook, "vec_id", "vec", 1, emit, schema)


def semantic_dedup(
    emb: DataFrame, approx_rows: int | None = None
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    embeddings, find within-cluster cosine near-duplicates, and keep the
    group member LEAST similar to its centroid (the paper's keep rule —
    the most "prototypical" copies are the redundant ones; the outlier
    carries the information).

    Relational one-pass form of the paper's greedy: a vector is dropped
    iff some same-cluster near-duplicate has strictly lower
    centroid-similarity (ties by lower vec_id).  Every near-dup pair loses
    at least one member, the unique priority order makes the verdict
    deterministic, and no iteration is needed — at 100 TB this is one
    broadcast-codebook assignment, one within-bucket self-join (the
    corpus-adaptive codebook keeps candidates linear, exactly as
    embedding_neardup_ivf), and one anti-join-shaped aggregate.

    Priorities compare FIXED-POINT centroid similarities
    (floor(cos·1e6 + 0.5), HALF_UP in both engines) so the keep/drop
    order is engine-identical even where raw doubles could tie.

    EXACT-PRESERVING HOT-PATH SHAPE (r10; bit-identical results, verified
    by hash at sf0.01/sf0.1): (a) vector norms are computed ONCE per row
    and carried through the joins — the generic cosine() helper re-folds
    BOTH 64-dim norms per PAIR, which at 90M assignment pairs + 45M
    verify pairs was ~2/3 of all per-pair work; the per-pair expression
    stays dot/(na·nb) with the identical double association, so every
    cos value is the same double.  (b) the N×C assignment argmax runs in
    the shared IVF assignment kernel (_rank_codebook) against the
    driver-collected codebook (bounded: C = √rows rows, the same
    k-row-collect class as the kmeans codebook): it folds dot and norms
    in the identical IEEE left-associated order as dot()/norm(), divides
    by the same (vnorm·cnorm) product, and takes the first column of
    Spark's exact order (ties keep the lower centroid_id, NaN ranks
    greatest) — bit-identical assignment, ~10x over the interpreted
    higher-order-function path which cannot enter codegen.  (c) only
    victim-direction pairs (witness priority < victim priority) reach
    the verify cosine — the strict priority order means each unordered
    near-dup pair contributes exactly one directed row, so the count is
    unchanged and half the pair cosines vanish.  sf10 probe (200K rows,
    count()-forced best-of-3): 51 s (r9) -> 3.6 s, with the dominated
    census (188,940 evicted rows, 3.3M dominating pairs) unchanged;
    still ~rows^1.5 in the verify term but with the constant an IVF
    sweep can afford.

    Output: (vec_id, bucket, cent_e6, kept, n_dominating) for every
    vector, ordered by vec_id; n_dominating counts the higher-priority
    near-duplicates that evicted it (0 for kept rows).
    """
    n_centroids = neardup_centroid_count(approx_rows, 1)
    base = _vectors(emb).withColumn("vnorm", norm(F.col("vec")))
    # bounded codebook: C = √rows rows of dim doubles (same class as the
    # kmeans k-row codebook); collected lazily at first kernel pickle and
    # shipped as a Spark broadcast (r12)
    codebook = _CodebookHandle(_centroids(base, n_centroids))
    # asg feeds THREE consumers (both self-join legs and the final verdict
    # join); without truncation each re-runs the NxC assignment scoring
    # pass (plan audit: 18 scans before, one assignment pass after).
    # Slim frame: one vector + 4 scalars per input row.
    asg = (
        _semantic_assign(base, codebook)
        .join(base, "vec_id")
        .localCheckpoint(eager=False)
    )
    a = asg.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("va"),
        F.col("vnorm").alias("na"),
        "bucket",
        F.col("cent_e6").alias("cent_a"),
    )
    b = asg.select(
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vb"),
        F.col("vnorm").alias("nb"),
        "bucket",
        F.col("cent_e6").alias("cent_b"),
    )
    # victim-direction near-dup pairs only: id_a is the candidate victim,
    # id_b a strictly-higher-priority witness (subsumes id_a != id_b)
    dominated = (
        a.join(b, "bucket")
        .filter(
            (F.col("cent_b") < F.col("cent_a"))
            | (
                (F.col("cent_b") == F.col("cent_a"))
                & (F.col("id_b") < F.col("id_a"))
            )
        )
        .select(
            "id_a",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(NEARDUP_COSINE))
        .groupBy(F.col("id_a").alias("vec_id"))
        .agg(F.count("*").alias("n_dominating"))
    )
    return (
        asg.join(dominated, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            "cent_e6",
            F.col("n_dominating").isNull().alias("kept"),
            F.coalesce("n_dominating", F.lit(0)).cast("long").alias(
                "n_dominating"
            ),
        )
    )


def semantic_dedup_sql(approx_rows: int | None = None) -> str:
    """DuckDB replay: identical assignment ranking, fixed-point centroid
    priorities, and the same directed-domination drop rule."""
    n_centroids = neardup_centroid_count(approx_rows, 1)
    cent = f"(SELECT * FROM embeddings WHERE vec_id < {n_centroids})"
    a2c = _COSINE_PAIR_SQL.format(q="embeddings", e=cent)
    return f"""
        WITH a2c AS ({a2c}),
        asg AS MATERIALIZED (
            SELECT query_id AS vec_id, neighbor_id AS bucket,
                   CAST(floor(cos * CAST(1000000.0 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cent_e6
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS r FROM a2c
            ) WHERE r = 1
        ),
        cand AS (
            SELECT pa.vec_id AS id_a, pa.cent_e6 AS cent_a,
                   pb.vec_id AS id_b, pb.cent_e6 AS cent_b
            FROM asg pa JOIN asg pb
              ON pa.bucket = pb.bucket AND pa.vec_id <> pb.vec_id
        ),
        verify AS (
            SELECT c.id_a, c.cent_a, c.id_b, c.cent_b,
                   round(sum(ua.v * ub.v)
                     / (sqrt(sum(ua.v * ua.v)) * sqrt(sum(ub.v * ub.v))),
                     6) AS cos
            FROM cand c
            JOIN (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                         unnest(range(len(embedding))) AS i
                  FROM embeddings) ua ON ua.vec_id = c.id_a
            JOIN (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                         unnest(range(len(embedding))) AS i
                  FROM embeddings) ub
              ON ub.vec_id = c.id_b AND ub.i = ua.i
            GROUP BY 1, 2, 3, 4
        ),
        dominated AS (
            SELECT id_a AS vec_id, count(*) AS n_dominating
            FROM verify
            WHERE cos >= {NEARDUP_COSINE}
              AND (cent_b < cent_a
                   OR (cent_b = cent_a AND id_b < id_a))
            GROUP BY 1
        )
        SELECT a.vec_id, a.bucket, a.cent_e6,
               d.vec_id IS NULL AS kept,
               coalesce(d.n_dominating, 0) AS n_dominating
        FROM asg a LEFT JOIN dominated d USING (vec_id)
        ORDER BY a.vec_id
    """
