"""SemDeDup properties (operators/similarity.py::semantic_dedup)."""
from pyspark.sql import Row
from pyspark.sql import functions as F

from marketstream_etl_spark.operators.similarity import (
    NEARDUP_COSINE,
    cosine,
    _dvec,
    semantic_dedup,
)
from marketstream_etl_spark.sources.tables import load_table


def test_duplicate_direction_collapses(spark):
    """Colinear vectors (cos = 1) form a dup group; exactly the lowest
    vec_id survives it (equal centroid-sim -> id tie-break), while the
    orthogonal vector is untouched."""
    dim = 8
    v = [1.0] + [0.0] * (dim - 1)
    v_scaled = [0.9] + [0.0] * (dim - 1)
    w = [0.0, 1.0] + [0.0] * (dim - 2)
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=v),
            Row(vec_id=1, embedding=v_scaled),
            Row(vec_id=2, embedding=w),
        ]
    )
    out = {r["vec_id"]: r for r in semantic_dedup(emb).collect()}
    assert len(out) == 3
    assert out[0]["kept"] and out[0]["n_dominating"] == 0
    assert not out[1]["kept"] and out[1]["n_dominating"] == 1
    assert out[2]["kept"]


def test_no_kept_near_dup_pair_survives(spark, sf_dir):
    """The greedy guarantee: every within-bucket near-dup pair loses at
    least one member, so all same-bucket KEPT pairs are below threshold."""
    from marketstream_etl_spark.sources.tables import table_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    verdicts = semantic_dedup(
        emb, approx_rows=table_row_count(sf_dir, "embeddings")
    )
    assert verdicts.count() == emb.count()
    kept = (
        verdicts.filter("kept")
        .join(emb, "vec_id")
        .select("vec_id", "bucket", _dvec(F.col("embedding")).alias("vec"))
    )
    a = kept.select(
        F.col("vec_id").alias("ia"), "bucket", F.col("vec").alias("va")
    )
    b = kept.select(
        F.col("vec_id").alias("ib"), "bucket", F.col("vec").alias("vb")
    )
    survivors_above = (
        a.join(b, "bucket")
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            F.round(cosine(F.col("va"), F.col("vb")), 6)
            >= F.lit(NEARDUP_COSINE)
        )
        .count()
    )
    assert survivors_above == 0
    dropped_bad = verdicts.filter(
        "NOT kept AND n_dominating < 1"
    ).count()
    assert dropped_bad == 0


def test_assignment_kernel_matches_declarative_plan(spark):
    """The r10 Arrow-batched assignment kernel must be bit-identical to
    the declarative dot/(norm*norm) + max(struct(ccos, -centroid_id))
    plan it replaced: same left-associated dot accumulation, same
    argmax tie order (lower centroid_id wins), same e6 fixed point —
    over vectors engineered for ties (duplicates of centroids, shared
    directions at different magnitudes) and an edge corpus.  The kernel
    (_rank_codebook, shared by every IVF assignment) folds each vector's
    norm in numpy; the reference reads Spark's norm() column, so this
    test also proves the two folds agree."""
    import numpy as np
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F
    from marketstream_etl_spark.operators.similarity import (
        _centroids,
        _dvec,
        _semantic_assign,
        dot,
        norm,
    )

    rng = np.random.default_rng(7)
    dim = 5
    vecs = []
    for i in range(40):
        v = rng.normal(size=dim)
        vecs.append((i, [float(x) for x in v]))
    # engineered ties: exact copies of centroid vectors (ccos == 1.0 vs
    # several centroids when centroids repeat) and scaled copies
    vecs.append((40, vecs[0][1]))                       # copy of centroid 0
    vecs.append((41, [2.0 * x for x in vecs[1][1]]))    # scaled centroid 1
    vecs.append((42, vecs[0][1]))                       # second copy
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs]
    )
    base = df.select(
        "vec_id", _dvec(F.col("embedding")).alias("vec")
    ).withColumn("vnorm", norm(F.col("vec")))
    n_cent = 6
    cents = _centroids(base, n_cent).withColumn("cnorm", norm(F.col("cvec")))

    # declarative reference: the exact pre-r10 plan shape
    scored = base.join(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        (dot(F.col("vec"), F.col("cvec"))
         / (F.col("vnorm") * F.col("cnorm"))).alias("ccos"),
    )
    ref = {
        (r["vec_id"]): (r["bucket"], r["cent_e6"])
        for r in scored.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("ccos"), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select(
            "vec_id",
            F.col("centroid_id").alias("bucket"),
            F.floor(F.col("ccos") * 1000000.0 + F.lit(0.5))
            .cast("long")
            .alias("cent_e6"),
        )
        .collect()
    }

    from marketstream_etl_spark.operators.similarity import _CodebookHandle

    got = {
        r["vec_id"]: (r["bucket"], r["cent_e6"])
        for r in _semantic_assign(
            base, _CodebookHandle(cents.select("centroid_id", "cvec"))
        ).collect()
    }
    assert got == ref


def test_codebook_cap_bounds_driver_collect():
    """r10 VERDICT item 4: the √N codebook was the one driver-resident
    artifact growing with data — C must saturate at CODEBOOK_MAX_CENTROIDS
    while staying exactly nassign·√rows+1 below the cap (oracle parity)."""
    from marketstream_etl_spark.operators.similarity import (
        CODEBOOK_MAX_CENTROIDS,
        N_CENTROIDS,
        neardup_centroid_count,
    )

    # below the cap: unchanged corpus-adaptive law (gate-SF hashes depend
    # on this exact value)
    assert neardup_centroid_count(20_000, 1) == int(20_000 ** 0.5) + 1
    assert neardup_centroid_count(20_000, 2) == int(2 * 20_000 ** 0.5) + 1
    # at/above the cap: bounded regardless of corpus size
    assert neardup_centroid_count(10**11, 1) == CODEBOOK_MAX_CENTROIDS
    assert neardup_centroid_count(10**14, 2) == CODEBOOK_MAX_CENTROIDS
    # floor and None behavior unchanged
    assert neardup_centroid_count(None) == N_CENTROIDS
    assert neardup_centroid_count(1) == N_CENTROIDS
