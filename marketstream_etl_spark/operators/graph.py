"""Graph analytics over corpus-derived graphs: weighted PageRank.

The training-data use case (reference has no graph surface; this extends
the north-star suite): propagate a quality/centrality signal over the
cross-source duplication graph — sources that share near-duplicate
content with many other sources concentrate rank, the "which crawls are
derivative" signal a curation pipeline uses to order dedup and weight
acquisition.  Complements duplicate_clusters (operators/dedup.py), the
other iterative graph algorithm, which does unweighted min-label
propagation.

Scale design (100 TB posture):
- Each iteration is ONE equi-join of the edge list against the current
  rank vector plus ONE groupBy(dst) partial-aggregated sum — the classic
  scalable PageRank shape; edges are normalized once up front and
  persisted, ranks stay slim (node, rank) rows.
- localCheckpoint per iteration truncates lineage (the duplicate_clusters
  lesson) so the plan does not grow with iteration count.

Determinism design — FIXED-POINT integer arithmetic, not doubles: ranks
are BIGINTs in units of 1e-9, every division is integer division, so the
trajectory is bit-exact in any engine.  The float formulation was built
first and FAILED cross-engine verification: dup-graph edge probabilities
are dyadic rationals (1/4, 1/2 ...), so iteration values land on exact
decimal halves at the rounding precision (e.g. 0.0678765625), where
Spark's round() is HALF_UP and DuckDB's is HALF_EVEN — a structural
1-ulp divergence, not a rare boundary.  Integer div sidesteps rounding
modes entirely; the tiny floor-leak per iteration is part of the
operator's defined semantics and identical in both engines.

The DuckDB oracle replays the identical rounds as an unrolled r0..rN CTE
chain, the same technique kmeans_sql uses for Lloyd's iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.operators.dedup import minhash_lsh_pairs_sql

PR_SCALE = 1_000_000_000  # rank unit = 1e-9 (fixed point)
PR_DAMP_NUM = 85  # damping = 85/100
PR_DAMP_DEN = 100
PR_ITERS = 5


def pagerank(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Weighted PageRank in 1e-9 fixed point: `edges` is (src, dst,
    weight) directed with integer-valued weights, `nodes` is (node,) and
    must cover every src/dst.  Returns (node, rank double, rank_fp long).

    r_{t+1}(v) = (den-num)·S/(den·N)  +  num/den · Σ_{u→v} r_t(u)·w(u,v)/outw(u)

    with every division an integer div on S=1e9-scaled ranks.  Dangling
    nodes (no out-edges) contribute nothing — their mass leaks, as does
    sub-1e-9 floor dust; both are part of the defined semantics and
    reproduce exactly in any engine.  The driver-side `nodes.count()` is
    a bounded scalar (the node count), the same contract as kmeans'
    driver-sized codebook."""
    nodes = nodes.persist()  # joined every iteration; count materializes
    n = nodes.count()
    if n == 0:  # empty graph: empty result, not a division by zero
        nodes.unpersist()
        return nodes.select(
            "node",
            F.lit(0.0).alias("rank"),
            F.lit(0).cast("long").alias("rank_fp"),
        )
    teleport = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // (PR_DAMP_DEN * n)
    outw = edges.groupBy("src").agg(
        F.sum(F.col("weight").cast("long")).alias("outw")
    )
    ew = (
        edges.join(outw, "src")
        .select("src", "dst", F.col("weight").cast("long").alias("w"), "outw")
        .persist()
    )
    ranks = nodes.select(
        "node", F.lit(PR_SCALE // n).cast("long").alias("rank_fp")
    )
    for _ in range(PR_ITERS):
        # share(u→v) = r(u)·w div outw(u): exact long arithmetic; the
        # groupBy(dst) sum is a plain partial-aggregable long sum
        contrib = (
            ew.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                # SQL `div`: exact integer division on longs (a double
                # round-trip would lose bits past 2^53 at scale)
                F.expr("(rank_fp * w) div outw").alias("share"),
            )
            .groupBy("node")
            .agg(F.sum("share").alias("c"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"cast({teleport} as bigint)"
                    f" + ({PR_DAMP_NUM} * coalesce(c, 0L)) div {PR_DAMP_DEN}"
                ).cast("long").alias("rank_fp"),
            )
            # NON-eager: still truncates the Catalyst plan per iteration
            # (the DataFrame becomes an RDD scan node), but defers the
            # per-iteration materialization to ONE job at the end instead
            # of PR_ITERS driver-blocking jobs during plan build.  RDD
            # lineage grows only across the bounded iterations; the
            # cached ew/nodes serve every iteration inside that one job.
            .localCheckpoint(eager=False)
        )
    # single materialization job for the whole iteration cascade, so the
    # persisted ew/nodes are still live while iterations execute and can
    # be released immediately after
    ranks = ranks.localCheckpoint(eager=True)
    ew.unpersist()
    nodes.unpersist()
    return ranks.select(
        "node",
        (F.col("rank_fp") / F.lit(float(PR_SCALE))).alias("rank"),
        "rank_fp",
    )


def source_dup_edges(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Directed weighted edges between sources from near-dup doc pairs:
    both directions of every cross-source pair, weight = pair count.
    Self-loops (within-source duplication) are excluded — PageRank here
    measures BETWEEN-source content flow."""
    src = docs.select("doc_id", "source")
    e0 = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    sym = e0.select(
        F.col("sa").alias("src"), F.col("sb").alias("dst")
    ).unionAll(e0.select(F.col("sb").alias("src"), F.col("sa").alias("dst")))
    return sym.groupBy("src", "dst").agg(F.count("*").alias("weight"))


def source_pagerank(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(source, pagerank, n_dup_edges) over the cross-source duplication
    graph, ordered by rank desc then source — the derivative-content
    leaderboard."""
    nodes = docs.select(F.col("source").alias("node")).distinct()
    # two consumers (pagerank's ew build and the deg report below) —
    # without a barrier the pairs→source join + symmetric union runs
    # twice per query; non-eager localCheckpoint materializes it once
    # and frees blocks on RDD GC (no explicit unpersist needed)
    edges = source_dup_edges(docs, pairs).localCheckpoint(eager=False)
    ranks = pagerank(edges, nodes)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("n_dup_edges")
    )
    return (
        ranks.join(deg, "node", "left")
        .select(
            F.col("node").alias("source"),
            F.col("rank").alias("pagerank"),
            F.coalesce("n_dup_edges", F.lit(0)).cast("int").alias(
                "n_dup_edges"
            ),
        )
    )


def source_pagerank_sql() -> str:
    """DuckDB replay: same LSH pair set, same edge symmetrization, same
    unrolled fixed-point rounds (// is DuckDB integer division; all
    operands are BIGINT and positive, matching Spark's truncating div)."""
    s = PR_SCALE
    # AS MATERIALIZED: DuckDB inlines plain CTEs per reference, so the
    # unrolled rounds would re-run the whole LSH pipeline 5+ times
    # (measured 40 s -> ~2 s with the hints)
    parts = [
        f"""WITH prs AS MATERIALIZED ({minhash_lsh_pairs_sql()}),
        nodes AS MATERIALIZED (SELECT DISTINCT source AS node FROM documents),
        nn AS (SELECT count(*) AS n FROM nodes),
        e0 AS (
            SELECT la.source AS sa, lb.source AS sb
            FROM prs p
            JOIN documents la ON la.doc_id = p.doc_a
            JOIN documents lb ON lb.doc_id = p.doc_b
            WHERE la.source <> lb.source
        ),
        edges AS MATERIALIZED (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
                SELECT sa AS src, sb AS dst FROM e0
                UNION ALL
                SELECT sb AS src, sa AS dst FROM e0
            ) GROUP BY 1, 2
        ),
        outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
        ew AS MATERIALIZED (
            SELECT e.src, e.dst, e.w, o.ow
            FROM edges e JOIN outw o USING (src)
        ),
        r0 AS (
            SELECT node,
                   CAST({s} // (SELECT n FROM nn) AS BIGINT) AS rank_fp
            FROM nodes
        )"""
    ]
    tele = (
        f"CAST(({PR_DAMP_DEN - PR_DAMP_NUM} * {s}::BIGINT)"
        f" // ({PR_DAMP_DEN} * (SELECT n FROM nn)) AS BIGINT)"
    )
    for i in range(1, PR_ITERS + 1):
        parts.append(
            f""", r{i} AS (
            SELECT nd.node,
                   CAST({tele}
                        + ({PR_DAMP_NUM} * coalesce(c.c, 0)) // {PR_DAMP_DEN}
                        AS BIGINT) AS rank_fp
            FROM nodes nd LEFT JOIN (
                SELECT ew.dst AS node,
                       sum((r.rank_fp * ew.w) // ew.ow) AS c
                FROM ew JOIN r{i - 1} r ON r.node = ew.src
                GROUP BY 1
            ) c USING (node)
        )"""
        )
    parts.append(
        f"""
        SELECT r.node AS source,
               CAST(r.rank_fp AS DOUBLE) / {s} AS pagerank,
               CAST(coalesce(g.n_dup_edges, 0) AS INTEGER) AS n_dup_edges
        FROM r{PR_ITERS} r LEFT JOIN (
            SELECT src AS node, count(*) AS n_dup_edges
            FROM edges GROUP BY 1
        ) g USING (node)
        ORDER BY pagerank DESC, r.node"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# Triangle counting over the part co-purchase graph
# ---------------------------------------------------------------------------

TRI_MIN_WEIGHT = 2  # co-occurrence support for an edge (prunes noise pairs)


def part_triangles(lineitem: DataFrame) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph.

    Graph: vertices are parts; an undirected edge (a, b) exists when the
    pair co-occurs in at least TRI_MIN_WEIGHT distinct orders.  A triangle
    is three parts pairwise co-purchased — the classic basket-affinity
    motif (recommendation seeds, assortment analysis).

    Scale design (100 TB posture) — the standard degree-ordered
    enumeration (node-iterator++ / Cohen's MapReduce formulation):
    - Pair generation is a SELF-EQUI-JOIN on l_orderkey (co-partitioned,
      one shuffle) with a < b so each unordered pair appears once.
    - Every edge is ORIENTED from its lower-(degree, id) endpoint to the
      higher one; wedges are enumerated only at each edge's tail.  This
      bounds per-vertex work by out-degree <= O(sqrt(|E|)) — the hub
      that co-occurs with everything generates NO wedge explosion.
    - Closure check is one more equi-join of wedges against oriented
      edges on the composite (u, v) key.
    All-integer output: deterministic in any engine.

    Output: (l_partkey, triangles) for parts in >= 1 triangle, ordered by
    participation desc then part id.  Σ triangles = 3 × global count.
    """
    li = lineitem.select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
    )
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= TRI_MIN_WEIGHT)
        .select("pa", "pb")
    )
    deg = (
        edges.select(F.col("pa").alias("v"))
        .unionAll(edges.select(F.col("pb").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    lower_first = (
        F.struct(F.col("da.d"), F.col("pa")) < F.struct(F.col("db.d"), F.col("pb"))
    )
    # localCheckpoint: the oriented edge list feeds THREE join legs below;
    # without it the pair-join + degree joins re-run per leg (the repo's
    # reused-frame plan-audit lesson).  eager=False materializes on first
    # use; the frame is |E|-bounded.
    oriented = (
        edges.join(deg.alias("da"), F.col("da.v") == F.col("pa"))
        .join(deg.alias("db"), F.col("db.v") == F.col("pb"))
        .select(
            F.when(lower_first, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lower_first, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    # Per-EDGE triangle counts via adjacency-list intersection instead of
    # materializing every wedge/triangle row (r8 VERDICT item 3: the old
    # e1⋈e2⋈e3 shape was emission-volume-bound — 49 s at sf1's 200 K
    # parts).  c(u,v) = |N⁺(u) ∩ N⁺(v)| counts the triangles closed over
    # edge (u,v) in one O(deg_u + deg_v) array op per edge; the only rows
    # shuffled are the |E| adjacency entries, never the wedge set.  The
    # orientation bounds every array at out-degree ≤ O(√|E|), so a row is
    # never pathological.
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
    base_edges = (
        oriented.join(
            adj.select(F.col("u").alias("_au"), F.col("nbrs").alias("nu")),
            F.col("u") == F.col("_au"),
        )
        .join(
            adj.select(F.col("u").alias("_av"), F.col("nbrs").alias("nv")),
            F.col("v") == F.col("_av"),
        )
        .select(
            "u",
            "v",
            F.array_intersect("nu", "nv").alias("ws"),
        )
        .filter(F.size("ws") > 0)
        # barrier: the explodes below must not collapse into this
        # projection, or array_intersect re-evaluates per emitted row
        # (the r8 GenerateExec class); the frame is ≤|E| rows with
        # orientation-bounded arrays.
        .localCheckpoint(eager=False)
    )
    # Edge (u,v) with intersection set S closes one triangle {u, v, w}
    # per w ∈ S, and every triangle has exactly ONE base edge under the
    # orientation ((x→y),(x→z),(y→z) → base (x,y), apex z).  So u and v
    # each participate in |S| triangles via this edge, and each apex w in
    # one — 3 credits per triangle, no per-wedge rows anywhere.
    ends = base_edges.select(
        F.explode(F.array("u", "v")).alias("l_partkey"),
        F.size("ws").alias("c"),
    )
    apexes = base_edges.select(
        F.explode("ws").alias("l_partkey"), F.lit(1).alias("c")
    )
    per_part = (
        ends.unionAll(apexes)
        .groupBy("l_partkey")
        .agg(F.sum("c").cast("long").alias("triangles"))
    )
    return per_part


def part_triangles_sql() -> str:
    """DuckDB replay: identical pair-join, weight filter, (degree, id)
    orientation, wedge closure, and per-vertex explode."""
    return f"""
        WITH pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e0 AS MATERIALIZED (
            SELECT pa, pb FROM pairs GROUP BY pa, pb
            HAVING count(*) >= {TRI_MIN_WEIGHT}
        ),
        deg AS MATERIALIZED (
            SELECT v, count(*) AS d FROM (
                SELECT pa AS v FROM e0 UNION ALL SELECT pb AS v FROM e0
            ) GROUP BY v
        ),
        oe AS MATERIALIZED (
            SELECT CASE WHEN (da.d, e0.pa) < (db.d, e0.pb)
                        THEN e0.pa ELSE e0.pb END AS u,
                   CASE WHEN (da.d, e0.pa) < (db.d, e0.pb)
                        THEN e0.pb ELSE e0.pa END AS v
            FROM e0 JOIN deg da ON da.v = e0.pa
                    JOIN deg db ON db.v = e0.pb
        ),
        tri AS (
            SELECT e1.u AS x, e1.v AS y, e2.v AS z
            FROM oe e1 JOIN oe e2 ON e1.v = e2.u
                       JOIN oe e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT l_partkey, count(*) AS triangles FROM (
            SELECT unnest([x, y, z]) AS l_partkey FROM tri
        ) t
        GROUP BY l_partkey
        ORDER BY triangles DESC, l_partkey
    """


# ---------------------------------------------------------------------------
# Link prediction on the co-purchase graph (common neighbors + RA index)
# ---------------------------------------------------------------------------

LP_HUB_CAP = 1_000  # max degree for a wedge CENTER (see docstring)
LP_TOPK = 100
RA_SCALE = 1_000_000  # resource-allocation unit = 1e-6 (fixed point)


def link_prediction(
    lineitem: DataFrame, hub_cap: int = LP_HUB_CAP
) -> DataFrame:
    """Predict missing co-purchase edges: for part pairs NOT currently
    linked, score how strongly their neighborhoods overlap — the classic
    recommendation / knowledge-graph-completion primitive (reference has
    no graph surface; extends the north-star suite alongside
    part_triangles and source_pagerank).

    Scores per candidate pair (u, v), common neighbor w ranges over
    enumerated wedges u—w—v:
    - cn        = |common neighbors|  (integer, exact)
    - ra_micro  = Σ_w floor(1e6 / deg(w))  — the resource-allocation
      index (Zhou/Lü/Zhang 2009) in FIXED-POINT integers: hubs shared by
      everyone contribute ~0, discriminative shared neighbors dominate.
      Integer DIV + integer SUM → bit-exact in any engine and any
      aggregation order (the pagerank determinism lesson).
    - jaccard   = cn / (deg(u) + deg(v) - cn), one exact rational per
      output row, rounded to 6 dp AFTER ranking on integers.

    Scale design (100 TB posture):
    - Wedge enumeration is a SELF-EQUI-JOIN of the adjacency list on the
      center vertex — one shuffle on w; per-center cost is deg(w)².
      Centers with deg > hub_cap are EXCLUDED before the join: their RA
      contribution floors to ≤ 1e6/hub_cap anyway, and they are exactly
      the vertices whose wedge fan-out is quadratic poison.  This is the
      hot-shingle DF-cap pattern from dedup.py applied to graphs — the
      cap is part of the operator's defined semantics (scores are
      "non-hub common neighbors"), applied identically in the oracle.
    - Known edges are removed with one LEFT ANTI join on the oriented
      (lo, hi) pair key.
    - Ranking is integer-first (ra_micro DESC, cn DESC, pa, pb) with a
      bounded top-k → TakeOrderedAndProject, no global sort.
    """
    li = lineitem.select("l_orderkey", "l_partkey")
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
    )
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= TRI_MIN_WEIGHT)
        .select("pa", "pb")
        # feeds adjacency (x2), the anti-join leg, and degrees — truncate
        # so the pair-join does not re-run per consumer (plan-audit lesson)
        .localCheckpoint(eager=False)
    )
    adj = edges.select(
        F.col("pa").alias("w"), F.col("pb").alias("nbr")
    ).unionAll(edges.select(F.col("pb").alias("w"), F.col("pa").alias("nbr")))
    deg = adj.groupBy("w").agg(F.count("*").alias("d"))
    centers = adj.join(
        deg.filter(F.col("d") <= hub_cap), "w"
    )  # (w, nbr, d): non-hub centers only
    cand = (
        centers.alias("x")
        .join(
            centers.alias("y"),
            (F.col("x.w") == F.col("y.w"))
            & (F.col("x.nbr") < F.col("y.nbr")),
        )
        .groupBy(
            F.col("x.nbr").alias("pa"), F.col("y.nbr").alias("pb")
        )
        .agg(
            F.count("*").alias("cn"),
            F.sum(F.expr(f"{RA_SCALE} DIV x.d")).alias("ra_micro"),
        )
        .join(edges, ["pa", "pb"], "left_anti")
    )
    du = deg.select(F.col("w").alias("pa"), F.col("d").alias("da"))
    dv = deg.select(F.col("w").alias("pb"), F.col("d").alias("db"))
    scored = (
        cand.join(du, "pa")
        .join(dv, "pb")
        .select(
            "pa",
            "pb",
            "cn",
            "ra_micro",
            F.round(
                F.col("cn")
                / (F.col("da") + F.col("db") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("ra_micro"), F.desc("cn"), "pa", "pb"
    ).limit(LP_TOPK)


def link_prediction_sql() -> str:
    """DuckDB replay: identical edge support filter, hub-capped wedge
    join, integer RA accumulation, anti-join, and integer-first top-k."""
    return f"""
        WITH pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        e0 AS MATERIALIZED (
            SELECT pa, pb FROM pairs GROUP BY pa, pb
            HAVING count(*) >= {TRI_MIN_WEIGHT}
        ),
        adj AS MATERIALIZED (
            SELECT pa AS w, pb AS nbr FROM e0
            UNION ALL SELECT pb AS w, pa AS nbr FROM e0
        ),
        deg AS MATERIALIZED (
            SELECT w, count(*) AS d FROM adj GROUP BY w
        ),
        centers AS (
            SELECT adj.w, adj.nbr, deg.d FROM adj JOIN deg USING (w)
            WHERE deg.d <= {LP_HUB_CAP}
        ),
        cand AS (
            SELECT x.nbr AS pa, y.nbr AS pb,
                   count(*) AS cn,
                   sum({RA_SCALE} // x.d)::BIGINT AS ra_micro
            FROM centers x JOIN centers y
              ON x.w = y.w AND x.nbr < y.nbr
            GROUP BY x.nbr, y.nbr
        ),
        fresh AS (
            SELECT c.* FROM cand c ANTI JOIN e0
              ON c.pa = e0.pa AND c.pb = e0.pb
        )
        SELECT f.pa, f.pb, f.cn, f.ra_micro,
               round(f.cn / (da.d + db.d - f.cn), 6) AS jaccard
        FROM fresh f
        JOIN deg da ON da.w = f.pa
        JOIN deg db ON db.w = f.pb
        ORDER BY f.ra_micro DESC, f.cn DESC, f.pa, f.pb
        LIMIT {LP_TOPK}
    """
