"""Count-min sketch heavy-hitter estimation — the "novel sketch" operator
class (custom operator beyond the reference's surface).

Why a sketch at 100 TB: exact per-token counts need a shuffle keyed by the
full vocabulary (unbounded, skewed); the CMS is a FIXED d×w grid of
counters that aggregates map-side (each row increments d counters), so the
shuffle moves at most d·w rows regardless of corpus size, and sketches from
different partitions/days merge by cell-wise addition (fully algebraic —
the same property the fused indicator aggregate exploits).

Estimate(token) = min over the d rows of its bucket counter; it
over-counts only (collisions add), with the classic bound
est − true ≤ e/w · N at probability 1 − e^−d.

Determinism: bucket hashes are md5-derived (functions/hashing.h32), so a
DuckDB replay produces the IDENTICAL sketch and estimates — the driver
hash-checks not just the exact counts but the sketch values themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.hashing import (
    h32,
    h32_sql,
    h60,
    h60_sql,
    shingles,
    shingles_sql,
    tokens,
    tokens_sql,
)
from marketstream_etl_spark.registry import register
from marketstream_etl_spark.streaming.replay import drain_to_memory

CMS_DEPTH = 4
CMS_WIDTH = 256
TOP_K = 20


def _bucket(tok_col: F.Column, row: int, width: int) -> F.Column:
    return h32(F.concat(F.lit(f"cms{row}|"), tok_col)) % width


def cms_heavy_hitters(docs: DataFrame) -> DataFrame:
    """Exact top-k tokens with their CMS estimates and the error-bound flag.

    Plan shape: one explode pass feeds BOTH the d×w sketch (map-side
    partial agg, ≤ d·w rows shuffled) and the exact counts (the ground
    truth the demo compares against; a real 100 TB deployment keeps only
    the sketch).  The candidate join is a broadcast of k rows.
    """
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))

    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(F.col("tok"), r, CMS_WIDTH).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("c")
    )
    sketch = cells.groupBy("c.row", "c.bucket").agg(F.count("*").alias("cnt"))

    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), "tok").limit(TOP_K)

    probes = top.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(F.col("tok"), r, CMS_WIDTH).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    )
    est = (
        probes.join(
            sketch,
            (F.col("p.row") == F.col("row")) & (F.col("p.bucket") == F.col("bucket")),
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    n_total = toks.count()  # scalar for the bound only (demo-side)
    bound = int(2.718281828459045 / CMS_WIDTH * n_total) + 1
    return est.select(
        "tok",
        "exact_n",
        "est_n",
        (
            (F.col("est_n") >= F.col("exact_n"))
            & (F.col("est_n") - F.col("exact_n") <= F.lit(bound))
        ).alias("within_bound"),
    )


def streaming_cms_heavy_hitters(spark, sf_dir: str) -> DataFrame:
    """The CMS as a STREAMING aggregate: because the sketch is algebraic
    (cell-wise addition), the unmodified groupBy((row, bucket)).count()
    runs incrementally in streaming state — ≤ d·w state entries total, the
    textbook bounded-state streaming summary.  On bounded replay the final
    sketch equals the batch sketch, so estimates are checked by the SAME
    oracle as the batch query."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.sources.tables import load_table, stream_table

    docs = stream_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(F.col("tok"), r, CMS_WIDTH).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("c")
    )
    sketch_stream = cells.groupBy("c.row", "c.bucket").agg(
        F.count("*").alias("cnt")
    )
    sketch = drain_to_memory(sketch_stream, "stream_cms", sf_dir, "complete")

    # present the same report as the batch query, probing the streamed sketch
    batch_docs = load_table(spark, sf_dir, "documents")
    toks_b = batch_docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    exact = toks_b.groupBy("tok").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), "tok").limit(TOP_K)
    probes = top.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(F.col("tok"), r, CMS_WIDTH).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("p"),
    )
    est = (
        probes.join(
            sketch,
            (F.col("p.row") == F.col("row"))
            & (F.col("p.bucket") == F.col("bucket")),
        )
        .groupBy("tok", "exact_n")
        .agg(F.min("cnt").alias("est_n"))
    )
    n_total = toks_b.count()
    bound = int(2.718281828459045 / CMS_WIDTH * n_total) + 1
    return est.select(
        "tok",
        "exact_n",
        "est_n",
        (
            (F.col("est_n") >= F.col("exact_n"))
            & (F.col("est_n") - F.col("exact_n") <= F.lit(bound))
        ).alias("within_bound"),
    )


def cms_heavy_hitters_sql() -> str:
    """DuckDB twin: identical md5 buckets → identical sketch → identical
    estimates.  The bound flag is TRUE by the CMS guarantee (and would
    hash-mismatch if the Spark side ever violated it)."""
    rows = ", ".join(str(r) for r in range(CMS_DEPTH))
    bucket = h32_sql("('cms' || r || '|' || tok)") + f" % {CMS_WIDTH}"
    return f"""
        WITH toks AS (
            SELECT unnest({tokens_sql('text')}) AS tok FROM documents
        ),
        cells AS (
            SELECT r, {bucket} AS bucket
            FROM toks, (SELECT unnest([{rows}]) AS r)
        ),
        sketch AS (
            SELECT r, bucket, count(*) AS cnt FROM cells GROUP BY r, bucket
        ),
        exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok),
        top AS (
            SELECT tok, exact_n FROM exact
            ORDER BY exact_n DESC, tok LIMIT {TOP_K}
        ),
        probes AS (
            SELECT tok, exact_n, r, {bucket} AS bucket
            FROM top, (SELECT unnest([{rows}]) AS r)
        ),
        est AS (
            SELECT p.tok, p.exact_n, min(s.cnt) AS est_n
            FROM probes p JOIN sketch s
              ON s.r = p.r AND s.bucket = p.bucket
            GROUP BY p.tok, p.exact_n
        )
        SELECT tok, exact_n, est_n,
               (est_n >= exact_n AND est_n - exact_n <=
                CAST(floor(2.718281828459045 / {CMS_WIDTH}
                     * (SELECT count(*) FROM toks)) AS BIGINT) + 1)
                   AS within_bound
        FROM est ORDER BY exact_n DESC, tok
    """


CMS_HEAVY_HITTERS_SQL = cms_heavy_hitters_sql()


# final streamed sketch == batch sketch (algebraic merge), same oracle
register("streaming_cms", streaming_cms_heavy_hitters, CMS_HEAVY_HITTERS_SQL)


# ---------------------------------------------------------------------------
# HyperLogLog distinct-cardinality sketch (from scratch, cross-engine exact)
# ---------------------------------------------------------------------------
#
# The mergeable cardinality twin of the CMS above: register state is a
# FIXED m=2^p array of 6-bit-ish maxima, built map-side and merged by
# cell-wise MAX — the shuffle moves at most m rows per group no matter how
# many items flow through, and per-partition / per-day / per-source
# sketches union by the same MAX.  Spark's own approx_count_distinct is
# HLL++ too, but its register layout is not replayable in another engine;
# this one is deterministic end-to-end:
#
# - item hash: md5-derived h60 (functions/hashing) — identical hex in any
#   engine; bucket = low p bits, suffix w = remaining 50 bits;
# - rho(w) = trailing-zero count + 1 (the Flajolet–Martin PCSA variant,
#   geometric with the same 2^-k law as leading zeros) — computed by a
#   GENERATED 50-branch CASE ladder of pure shift/mask integer ops, bit-
#   identical in both engines (no libm log2);
# - harmonic sum: S = T / 2^51 with T = Σ_j 2^(51 - M_j) an EXACT BIGINT
#   (empty registers contribute 2^51); the only float step is the final
#   C / T division of exact integers, and the estimate ships as
#   floor(E·1e4 + 0.5) fixed-point (the repo-wide rounding-mode dodge).
# No small/large-range corrections: raw-regime semantics are documented,
# and the emitted err_ppm column audits the sketch against the exact
# count (the same audit convention as the ANN recall / quantize-error
# ops — the exact side exists for verification, the sketch is the
# product).

HLL_P = 10  # 2^10 = 1024 registers; standard error ~1.04/sqrt(m) = 3.25%
HLL_M = 1 << HLL_P
HLL_WBITS = 60 - HLL_P  # suffix bits feeding rho
# alpha_m * m^2 * 2^WBITS+1... : single shared double constant, computed
# once in Python and inlined into BOTH engines so each performs the same
# one rounding
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUMERATOR = HLL_ALPHA * float(HLL_M) * float(HLL_M) * float(1 << (HLL_WBITS + 1))


def _rho_case(w_expr: str, shift: str) -> str:
    """Trailing-zeros-plus-one CASE ladder over the WBITS-bit suffix.
    `shift` is the engine's shift-right spelling: 'shiftright({w}, {k})'
    (Spark) or '({w} >> {k})' (DuckDB)."""
    branches = " ".join(
        f"WHEN ({shift.format(w=w_expr, k=k)} & 1) = 1 THEN {k + 1}"
        for k in range(HLL_WBITS)
    )
    return f"CASE {branches} ELSE {HLL_WBITS + 1} END"


def _hll_keyed(docs: DataFrame) -> DataFrame:
    """(source, shingle, h): the shared dedup-family pairs frame keyed by
    source with the 60-bit item hash."""
    from marketstream_etl_spark.operators.dedup import shingle_pairs_cached

    pairs = shingle_pairs_cached(docs)
    return pairs.join(
        docs.select("doc_id", "source"), "doc_id"
    ).select(
        "source",
        "shingle",
        h60(F.col("shingle")).alias("h"),
    )


def _hll_hashed(keyed: DataFrame) -> DataFrame:
    """(source, bucket, rho) probe rows from the h60-keyed frame."""
    rho = F.expr(
        _rho_case(f"(h DIV {HLL_M})", "shiftright({w}, {k})")
    )
    return keyed.select(
        "source",
        (F.col("h") % HLL_M).alias("bucket"),
        rho.alias("rho"),
    )


def hll_cardinality(docs: DataFrame) -> DataFrame:
    """Per-source distinct-shingle cardinality estimates plus the merged
    corpus-wide sketch, each audited against the exact count.

    Output: (scope, filled_registers, zero_registers, t_scaled,
    estimate_e4, exact_distinct, err_ppm) — scope is the source name or
    '__all__' for the cell-wise-MAX merge of every per-source sketch
    (identical to sketching the union, the mergeability property).
    """
    # ONE distinct (source, shingle) pass feeds the registers AND both
    # exact audits (register max over the distinct set equals max over the
    # multiset).  Without truncation the three consumers each re-ran the
    # docs join upstream (plan audit: 17 scans); the checkpointed frame is
    # bounded by distinct shingles x sources — far below corpus scale.
    keyed = (
        _hll_keyed(docs)
        .select("source", "shingle", "h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # per-source registers: one partial-aggregated shuffle, <= m rows/source
    regs = _hll_hashed(keyed).groupBy("source", "bucket").agg(
        F.max("rho").alias("m_j")
    )
    return _hll_report(regs, keyed)


def _hll_report(regs: DataFrame, keyed: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming HLL ops: merge per-source
    registers, compute the exact-integer harmonic sums, and audit against
    exact distinct counts from the keyed frame.

    PRECONDITION: `keyed` must already be DISTINCT on (source, shingle) —
    the per-source exact audit is a plain count over it (the r13 §2.4
    redundant-distinct removal), so a non-distinct frame would silently
    inflate exact_distinct.  Both callers feed the upstream
    `.select("source", "shingle", "h").distinct()` frame, and h = h60(
    shingle) is a pure function of the shingle, so that distinct IS a
    (source, shingle) distinct."""
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
        .select(F.lit("__all__").alias("scope"), "bucket", "m_j")
    )
    both = regs.select(
        F.col("source").alias("scope"), "bucket", "m_j"
    ).unionByName(merged)
    sketch = both.groupBy("scope").agg(
        F.count("*").alias("filled_registers"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - m_j)")
        ).alias("t_filled"),
    )
    # exact side (audit only): `keyed` is already distinct on
    # (source, shingle) — h is h60(shingle), a pure function of the
    # shingle, so the upstream distinct over (source, shingle, h) is a
    # distinct over (source, shingle).  A plain per-source count replaces
    # the old re-distinct (one full Exchange + dedup pass over the keyed
    # frame, guide §2.4); the global audit below still needs its own
    # distinct because one shingle can appear under many sources.
    ex_src = (
        keyed.groupBy("source")
        .agg(F.count("*").alias("exact_distinct"))
        .withColumnRenamed("source", "scope")
    )
    ex_all = (
        keyed.select("shingle")
        .distinct()
        .agg(F.count("*").alias("exact_distinct"))
        .select(F.lit("__all__").alias("scope"), "exact_distinct")
    )
    exact = ex_src.unionByName(ex_all)
    empty = HLL_M - F.col("filled_registers")
    t_scaled = (
        F.col("t_filled")
        + empty * F.lit(1 << (HLL_WBITS + 1)).cast("long")
    )
    est = F.lit(HLL_NUMERATOR) / t_scaled.cast("double")
    est_e4 = F.floor(est * 10000.0 + 0.5).cast("long")
    staged = sketch.join(exact, "scope").select(
        "scope",
        "filled_registers",
        empty.cast("long").alias("zero_registers"),
        t_scaled.alias("t_scaled"),
        est_e4.alias("estimate_e4"),
        "exact_distinct",
    )
    out = staged.withColumn(
        "err_ppm",
        F.when(
            F.col("exact_distinct") > 0,
            F.expr(
                "(1000000 * abs(estimate_e4 - exact_distinct * 10000)) "
                "DIV (exact_distinct * 10000)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return out


def hll_cardinality_sql() -> str:
    """DuckDB replay: identical h60 split, rho ladder, register maxima,
    exact-integer harmonic sum, and the single shared double constant.

    t_scaled is CAST to BIGINT on output: DuckDB's sum(BIGINT) yields
    HUGEINT, and a pandas/Arrow fetch converts HUGEINT to float64 — lossy
    above 2^53.  t_scaled reaches ~2^61 (m * 2^(WBITS+1)), so without the
    cast the driver-side fetch silently perturbs the value even though
    fetchall() returns exact ints (the r06 gate's only two hash misses)."""
    from marketstream_etl_spark.functions.hashing import h60_sql

    from marketstream_etl_spark.operators.dedup import SHINGLE_K

    rho = _rho_case(f"(h // {HLL_M})", "({w} >> {k})")
    shift_unit = 1 << (HLL_WBITS + 1)
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    return f"""
        WITH docsh AS (
            SELECT DISTINCT doc_id, unnest({sh}) AS shingle
            FROM documents
        ),
        pairs AS MATERIALIZED (
            SELECT DISTINCT d.source, s.shingle
            FROM docsh s JOIN documents d USING (doc_id)
        ),
        keyed AS (
            SELECT source, shingle, {h60_sql("shingle")} AS h FROM pairs
        ),
        hashed AS (
            SELECT source, h % {HLL_M} AS bucket, {rho} AS rho FROM keyed
        ),
        regs AS (
            SELECT source, bucket, max(rho) AS m_j
            FROM hashed GROUP BY 1, 2
        ),
        allscopes AS (
            SELECT source AS scope, bucket, m_j FROM regs
            UNION ALL
            SELECT '__all__' AS scope, bucket, max(m_j) AS m_j
            FROM regs GROUP BY 1, 2
        ),
        sketch AS (
            SELECT scope,
                   count(*) AS filled_registers,
                   sum((CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - m_j)))
                       AS t_filled
            FROM allscopes GROUP BY scope
        ),
        exact AS (
            SELECT source AS scope, count(DISTINCT shingle) AS exact_distinct
            FROM pairs GROUP BY 1
            UNION ALL
            SELECT '__all__', count(DISTINCT shingle) FROM pairs
        )
        SELECT s.scope,
               s.filled_registers,
               CAST({HLL_M} - s.filled_registers AS BIGINT)
                   AS zero_registers,
               CAST(s.t_filled + ({HLL_M} - s.filled_registers)
                   * CAST({shift_unit} AS BIGINT) AS BIGINT) AS t_scaled,
               CAST(floor(CAST({HLL_NUMERATOR!r} AS DOUBLE)
                   / CAST(s.t_filled + ({HLL_M} - s.filled_registers)
                          * CAST({shift_unit} AS BIGINT) AS DOUBLE)
                   * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   AS estimate_e4,
               e.exact_distinct,
               CASE WHEN e.exact_distinct > 0
                    THEN (1000000 * abs(
                            CAST(floor(CAST({HLL_NUMERATOR!r} AS DOUBLE)
                                / CAST(s.t_filled
                                       + ({HLL_M} - s.filled_registers)
                                       * CAST({shift_unit} AS BIGINT)
                                       AS DOUBLE)
                                * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                            - e.exact_distinct * 10000))
                         // (e.exact_distinct * 10000)
                    ELSE 0 END AS err_ppm
        FROM sketch s JOIN exact e USING (scope)
        ORDER BY s.scope
    """


HLL_CARDINALITY_SQL = hll_cardinality_sql()


# ---------------------------------------------------------------------------
# Bloom-filter contamination probe (the membership sketch of the family)
# ---------------------------------------------------------------------------
#
# Third classic mergeable sketch alongside the CMS (frequency) and HLL
# (cardinality): a FIXED m-bit membership filter over the benchmark
# shingle set.  This is the shape n-gram decontamination actually takes
# at 100 TB — you cannot broadcast the raw benchmark shingle STRINGS to
# every executor (a large eval suite is GBs of 3-grams), but the m-bit
# filter is a constant few hundred KB no matter how big the benchmark
# grows, merges across benchmark shards by bitwise OR, and probing is
# map-side.  Relationally the filter is the DISTINCT set of set bit
# positions (<= m rows, broadcast); a probe shingle is flagged iff all
# k of its positions join.  No false negatives by construction; the
# emitted exact_hits / false_hits columns audit the false-positive side
# against the exact membership join (same audit convention as the HLL
# err_ppm and ANN recall ops — the exact side exists for verification,
# the sketch is the product).
#
# Geometry: m = 2^16 bits, k = 4 ~= 6.8 bits/element at the sf0.1
# benchmark-set size (~9.7 K shingles) -> ~4 % theoretical FPR; at
# sf0.01 (~1.2 K shingles) the filter is sparse and false hits ~ 0.
# Hashes are the repo-standard md5-derived h32 with per-row salts, so
# the DuckDB oracle rebuilds the IDENTICAL filter and flags.

BLOOM_M = 1 << 16
BLOOM_K = 4


def _bloom_bits(sh_col: F.Column) -> F.Column:
    """Array of the k bit positions for one shingle (duplicates kept:
    each of the k checks is independent, so a row per hash function is
    exactly 'all k probes pass' when all k rows join the bit table)."""
    return F.array(
        *[
            h32(F.concat(F.lit(f"bloom{i}|"), sh_col)) % BLOOM_M
            for i in range(BLOOM_K)
        ]
    )


def bloom_contamination(docs: DataFrame) -> DataFrame:
    """Per-document benchmark contamination via a Bloom membership filter,
    audited against the exact overlap.

    Benchmark slice = the contamination op's convention (1-in-20 docs by
    md5 of doc_id).  Output: (doc_id, n_shingles, bloom_hits, exact_hits,
    false_hits) for every corpus doc the filter flags, ordered by doc_id;
    bloom_hits >= exact_hits always (no false negatives).
    """
    from marketstream_etl_spark.functions.cachegen import scan_coalesce
    from marketstream_etl_spark.operators.dedup import shingle_pairs_cached

    pairs = scan_coalesce(shingle_pairs_cached(docs), docs)
    is_bench = h32(F.col("doc_id").cast("string")) % 20 == 0
    bench = pairs.filter(is_bench).select("shingle").distinct()
    # the filter: distinct set bit positions, <= m rows regardless of
    # benchmark size -> always broadcastable
    bits = (
        bench.select(F.explode(_bloom_bits(F.col("shingle"))).alias("bit"))
        .distinct()
        .withColumn("_set", F.lit(1))
    )
    corpus = pairs.filter(~is_bench)
    # probe each DISTINCT corpus shingle once (k md5s per shingle, not
    # per occurrence), then join verdicts back on the shingle key
    probe_bits = (
        corpus.select("shingle")
        .distinct()
        .select("shingle", F.explode(_bloom_bits(F.col("shingle"))).alias("bit"))
    )
    flagged = (
        probe_bits.join(F.broadcast(bits), "bit", "left")
        .groupBy("shingle")
        .agg(F.count("_set").alias("_nset"))
        .filter(F.col("_nset") == BLOOM_K)
        .select("shingle", F.lit(1).alias("_bloom"))
    )
    exact = bench.select("shingle", F.lit(1).alias("_exact"))
    # verdict joins on the shingle key: sizes are data-dependent, so no
    # forced broadcast — AQE picks (both sides are bounded by the distinct
    # shingle count, tiny next to the corpus itself)
    per_doc = (
        corpus.join(flagged, "shingle", "left")
        .join(exact, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_bloom").alias("bloom_hits"),
            F.count("_exact").alias("exact_hits"),
        )
    )
    return (
        per_doc.filter(F.col("bloom_hits") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias("false_hits"),
        )
    )


def bloom_contamination_sql() -> str:
    """DuckDB replay: identical salted-h32 bit positions, identical
    distinct-bits filter, identical all-k-match flagging."""
    from marketstream_etl_spark.operators.dedup import SHINGLE_K

    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    rs = ", ".join(str(i) for i in range(BLOOM_K))
    bit = h32_sql("('bloom' || r || '|' || shingle)") + f" % {BLOOM_M}"
    return f"""
        WITH sh AS (
            SELECT doc_id,
                {h32_sql("CAST(doc_id AS VARCHAR)")} % 20 = 0 AS is_bench,
                list_distinct({sh}) AS s
            FROM documents
        ),
        bench AS MATERIALIZED (
            SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE is_bench
        ),
        bits AS MATERIALIZED (
            SELECT DISTINCT {bit} AS bit
            FROM bench, (SELECT unnest([{rs}]) AS r)
        ),
        corpus AS MATERIALIZED (
            SELECT doc_id, unnest(s) AS shingle FROM sh WHERE NOT is_bench
        ),
        probebits AS (
            SELECT shingle, {bit} AS bit
            FROM (SELECT DISTINCT shingle FROM corpus),
                 (SELECT unnest([{rs}]) AS r)
        ),
        flagged AS (
            SELECT shingle, 1 AS fb
            FROM probebits JOIN bits USING (bit)
            GROUP BY shingle HAVING count(*) = {BLOOM_K}
        ),
        exact AS (
            SELECT shingle, 1 AS eb FROM bench
        )
        SELECT doc_id,
               count(*) AS n_shingles,
               count(f.fb) AS bloom_hits,
               count(e.eb) AS exact_hits,
               count(f.fb) - count(e.eb) AS false_hits
        FROM corpus c
        LEFT JOIN flagged f USING (shingle)
        LEFT JOIN exact e USING (shingle)
        GROUP BY doc_id HAVING count(f.fb) > 0
        ORDER BY doc_id
    """


def streaming_hll_cardinality(spark, sf_dir: str) -> DataFrame:
    """The HLL as a STREAMING aggregate: register maxima are algebraic
    (cell-wise MAX), so each micro-batch reduces to its own partial
    register grid (an ordinary batch aggregation — map-side combine
    applies) and the partials register-MERGE at drain, state bounded at
    sources × m entries per batch no matter how many documents stream
    through — the distinct-counting twin of streaming_cms's
    bounded-state summary.  r8: moved from a complete-mode stateful agg
    (state store + full-grid re-emission per batch — the one
    superlinear 10x probe row, 2.2→5.4 s) to the foreachBatch
    partial-sketch accumulator (streaming/replay.py accumulate_stream),
    the production shape for mergeable sketches.  The merged registers
    equal the batch registers exactly (max is associative/commutative),
    so the report stage is shared verbatim and the driver reuses the
    hll_cardinality oracle.

    The exact-count audit side is batch-built from the same table (the
    streamed sketch is the product; the exact side exists to verify it,
    as in the batch op)."""
    from marketstream_etl_spark.operators.dedup import SHINGLE_K
    from marketstream_etl_spark.sources.tables import load_table, stream_table
    from marketstream_etl_spark.streaming.replay import accumulate_stream

    docs = stream_table(spark, sf_dir, "documents")

    def partial(batch: DataFrame) -> DataFrame:
        from marketstream_etl_spark.sources.tables import spread

        # per-doc distinct shingles map-side (max is idempotent, but the
        # distinct cuts the aggregated row volume ~10x).  spread: the
        # file-source micro-batch arrives as ONE partition (would
        # serialize the shingle map on one thread); the checkpoint is
        # the explode barrier — explode over an un-materialized array
        # expression re-evaluates the whole tokenize→shingle→distinct
        # chain once per OUTPUT row (projection collapse through
        # GenerateExec — same fix as streaming_contamination, r8).
        arrs = (
            spread(batch)
            .select("source", tokens(F.col("text")).alias("_toks"))
            .select(
                "source",
                F.array_distinct(shingles("_toks", SHINGLE_K)).alias("_sh"),
            )
            .localCheckpoint(eager=False)
        )
        keyed = arrs.select(
            "source", F.explode("_sh").alias("shingle")
        ).select("source", h60(F.col("shingle")).alias("h"))
        return _hll_hashed(keyed).groupBy("source", "bucket").agg(
            F.max("rho").alias("m_j")
        )

    regs = accumulate_stream(
        spark,
        sf_dir,
        docs,
        "hll_regs",
        partial,
        key_cols=["source", "bucket"],
        merge_exprs=[F.max("m_j").alias("m_j")],
    ).localCheckpoint(eager=False)
    keyed = (
        _hll_keyed(load_table(spark, sf_dir, "documents"))
        .select("source", "shingle", "h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _hll_report(regs, keyed)


register("streaming_hll", streaming_hll_cardinality, HLL_CARDINALITY_SQL)


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (completes the sketch family: frequency =
# CMS, cardinality = HLL, membership = Bloom, quantiles = this)
# ---------------------------------------------------------------------------
#
# Mergeable bounded-relative-error quantiles the way HdrHistogram does it,
# but integer-only so a DuckDB replay is bit-identical (no libm log):
# values are cents v = floor(price*100 + 0.5); the exponent e comes from a
# GENERATED power-of-two CASE ladder and the mantissa is split into 2^5
# linear sub-buckets, so every bucket spans <= 1/32 of its value (3.2 %
# relative width) and there are at most ~35*32 buckets over the full
# int64-cents range — a fixed-size grid that aggregates map-side and
# merges by cell-wise ADDITION, exactly like the CMS.
#
# Report: for each target quantile q the smallest bucket whose cumulative
# count reaches rank r = ceil(q*N) (prefix sums over the <= ~1200 bucket
# rows via the bounded triangular join, never a global window).  The audit
# is DISTRIBUTED and exact: one conditional-aggregate pass over the raw
# values re-derives rank(v < lo) and rank(v <= hi), proving the target
# rank falls inside the returned bucket — no single-reducer exact
# percentile anywhere (contrast: percentile() would collect every value
# into one aggregator at 100 TB; this op never does).

HDR_SUB_BITS = 5
HDR_SUBS = 1 << HDR_SUB_BITS  # 32 linear sub-buckets per octave
HDR_EMAX = 40  # cents < 2^41 covers prices to ~$2.2e10
HDR_QUANTILES_PPM = [500000, 900000, 990000, 999000]


def _hdr_exponent_case(v: str) -> str:
    """Engine-neutral integer floor(log2(v)) for v >= 2^SUB_BITS."""
    branches = " ".join(
        f"WHEN {v} >= {1 << k} THEN {k}"
        for k in range(HDR_EMAX, HDR_SUB_BITS - 1, -1)
    )
    return f"CASE {branches} ELSE {HDR_SUB_BITS - 1} END"


def _hdr_bid_expr(v: str, shr: str) -> str:
    """Bucket id over integer cents `v` — the ONLY per-row expression.

    Tiny values (< 2^SUB_BITS) get exact singleton buckets; otherwise
    with d = e - SUB_BITS the id is d*SUBS + (v >> d), algebraically equal
    to base(e) + (v - 2^e)*SUBS/2^e but referencing the exponent ladder
    just twice (the first cut embedded the ladder in bid AND lo AND hi —
    ~12 evaluations of a 35-branch chain per row after projection
    collapse; measured 4.4 s vs 1.2 s on 600 K rows at sf0.1).
    `shr` is the engine's shift-right spelling.
    """
    d = f"({_hdr_exponent_case(v)}) - {HDR_SUB_BITS}"
    return (
        f"CASE WHEN {v} < {HDR_SUBS} THEN {v} "
        f"ELSE ({d}) * {HDR_SUBS} + {shr.format(x=v, n=f'({d})')} END"
    )


def _hdr_bounds_exprs(bid: str, shl: str, div: str) -> tuple[str, str]:
    """(lo, hi) integer value bounds recovered from the bucket id — run on
    the AGGREGATED sketch rows (<= ~1200), never per input row.

    Inverse map: bid = (d+1)*SUBS + sub with sub in [0, SUBS), mantissa
    m = SUBS + sub in [SUBS, 2*SUBS), lo = m << d, hi = ((m+1) << d) - 1.
    `shl`/`div` are the engine's shift-left / integer-divide spellings.
    """
    d = f"(({bid}) {div} {HDR_SUBS}) - 1"
    m = f"({bid}) - {HDR_SUBS} * ({d})"
    lo = (
        f"CASE WHEN {bid} < {HDR_SUBS} THEN {bid} "
        f"ELSE {shl.format(x=f'({m})', n=f'({d})')} END"
    )
    hi = (
        f"CASE WHEN {bid} < {HDR_SUBS} THEN {bid} "
        f"ELSE {shl.format(x=f'(({m}) + 1)', n=f'({d})')} - 1 END"
    )
    return lo, hi


def hdr_quantiles(lineitem: DataFrame) -> DataFrame:
    """p50/p90/p99/p99.9 of l_extendedprice (cents) through the HDR
    sketch, with the exact-rank bracketing audit.

    Output per quantile: (q_ppm, target_rank, est_lo_cents, est_hi_cents,
    est_mid_cents, exact_rank_lo, exact_rank_hi, within, rel_width_ppm)
    — `within` asserts exact_rank_lo < target_rank <= exact_rank_hi.
    """
    cents = _hdr_cents(lineitem)
    counted = (
        cents.select(
            F.expr(_hdr_bid_expr("v", "shiftright({x}, {n})")).alias("bid")
        )
        .groupBy("bid")
        .agg(F.count("*").alias("cnt"))
    )
    return _hdr_report(counted, cents)


def _hdr_cents(lineitem: DataFrame) -> DataFrame:
    return lineitem.select(
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("v")
    )


def _hdr_report(counted: DataFrame, cents: DataFrame) -> DataFrame:
    """Shared tail of the batch and streaming HDR ops: recover bucket
    bounds from the aggregated (bid, cnt) grid, probe the quantiles via
    bounded prefix sums, audit exact ranks against the raw cents."""
    lo, hi = _hdr_bounds_exprs("bid", "shiftleft({x}, {n})", "DIV")
    sketch = (
        counted
        # bounds recovered from bid POST-aggregation: <= ~1200 rows pay
        # the CASE arithmetic, not the 600 K+ input rows
        .select("bid", "cnt", F.expr(lo).alias("lo"), F.expr(hi).alias("hi"))
        # feeds the triangular prefix sum (two legs) and the quantile probe
        .localCheckpoint(eager=False)
    )
    cum = (
        sketch.alias("a")
        .join(
            sketch.alias("b"),
            F.col("b.bid") <= F.col("a.bid"),
        )
        .groupBy(
            F.col("a.bid").alias("bid"),
            F.col("a.lo").alias("lo"),
            F.col("a.hi").alias("hi"),
            F.col("a.cnt").alias("cnt"),
        )
        .agg(F.sum("b.cnt").alias("cum"))
    )
    total = sketch.agg(F.sum("cnt").alias("n_total"))
    qs = total.select(
        "n_total",
        F.explode(
            F.array(*[F.lit(q) for q in HDR_QUANTILES_PPM])
        ).alias("q_ppm"),
    ).select(
        "q_ppm",
        F.expr(
            "(q_ppm * n_total + 999999) DIV 1000000"
        ).alias("target_rank"),
    )
    est = (
        cum.join(
            F.broadcast(qs),
            (F.col("cum") - F.col("cnt") < F.col("target_rank"))
            & (F.col("cum") >= F.col("target_rank")),
        )
        .select("q_ppm", "target_rank", "lo", "hi")
    )
    # distributed exact-rank audit: ONE conditional-agg pass over cents
    audit = (
        cents.join(F.broadcast(est))
        .groupBy("q_ppm", "target_rank", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0)).alias(
                "exact_rank_lo"
            ),
            F.sum(F.when(F.col("v") <= F.col("hi"), 1).otherwise(0)).alias(
                "exact_rank_hi"
            ),
        )
    )
    return audit.select(
        "q_ppm",
        "target_rank",
        F.col("lo").alias("est_lo_cents"),
        F.col("hi").alias("est_hi_cents"),
        F.expr("(lo + hi) DIV 2").alias("est_mid_cents"),
        "exact_rank_lo",
        "exact_rank_hi",
        (
            (F.col("exact_rank_lo") < F.col("target_rank"))
            & (F.col("target_rank") <= F.col("exact_rank_hi"))
        ).alias("within"),
        F.expr("(1000000 * (hi - lo + 1)) DIV lo").alias("rel_width_ppm"),
    )


def hdr_quantiles_sql() -> str:
    """DuckDB replay: identical cents, ladder, bucket bounds, prefix sums,
    probe, and exact-rank audit."""
    bid = _hdr_bid_expr("v", "(({x}) >> ({n}))")
    lo, hi = _hdr_bounds_exprs("bid", "(({x}) << ({n}))", "//")
    qvals = ", ".join(f"({q})" for q in HDR_QUANTILES_PPM)
    return f"""
        WITH cents AS (
            SELECT CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS v
            FROM lineitem
        ),
        bucketed AS (
            SELECT {bid} AS bid FROM cents
        ),
        counted AS (
            SELECT bid, count(*) AS cnt FROM bucketed GROUP BY bid
        ),
        sketch AS MATERIALIZED (
            SELECT bid, cnt, {lo} AS lo, {hi} AS hi FROM counted
        ),
        cum AS (
            SELECT a.bid, a.lo, a.hi, a.cnt, sum(b.cnt) AS cum
            FROM sketch a JOIN sketch b ON b.bid <= a.bid
            GROUP BY 1, 2, 3, 4
        ),
        qs AS (
            SELECT q_ppm,
                   (q_ppm * n_total + 999999) // 1000000 AS target_rank
            FROM (SELECT sum(cnt) AS n_total FROM sketch),
                 (SELECT * FROM (VALUES {qvals}) t(q_ppm))
        ),
        est AS MATERIALIZED (
            SELECT q.q_ppm, q.target_rank, c.lo, c.hi
            FROM cum c JOIN qs q
              ON c.cum - c.cnt < q.target_rank AND c.cum >= q.target_rank
        ),
        audit AS (
            SELECT e.q_ppm, e.target_rank, e.lo, e.hi,
                   sum(CASE WHEN cents.v < e.lo THEN 1 ELSE 0 END)
                       AS exact_rank_lo,
                   sum(CASE WHEN cents.v <= e.hi THEN 1 ELSE 0 END)
                       AS exact_rank_hi
            FROM cents, est e
            GROUP BY 1, 2, 3, 4
        )
        SELECT q_ppm,
               -- BIGINT casts: HUGEINT sums are lossy above 2^53 under a
               -- pandas/Arrow fetch
               CAST(target_rank AS BIGINT) AS target_rank,
               lo AS est_lo_cents, hi AS est_hi_cents,
               (lo + hi) // 2 AS est_mid_cents,
               CAST(exact_rank_lo AS BIGINT) AS exact_rank_lo,
               CAST(exact_rank_hi AS BIGINT) AS exact_rank_hi,
               (exact_rank_lo < target_rank
                AND target_rank <= exact_rank_hi) AS within,
               (1000000 * (hi - lo + 1)) // lo AS rel_width_ppm
        FROM audit ORDER BY q_ppm
    """


HDR_QUANTILES_SQL = hdr_quantiles_sql()


def streaming_hdr_quantiles(spark, sf_dir: str) -> DataFrame:
    """The HDR grid as a STREAMING aggregate: bucket counts merge by
    cell-wise ADDITION (like the CMS), so groupBy(bid).count() runs
    incrementally with state bounded at the fixed grid size (~35 octaves
    x 32 sub-buckets) no matter how many rows stream through.  On bounded
    replay the final grid equals the batch grid, the report stage is
    shared verbatim, and the driver reuses the hdr_quantiles oracle.
    The exact-rank audit side reads the same table batch-side, as in the
    batch op."""
    from marketstream_etl_spark.sources.tables import load_table, stream_table

    li_stream = stream_table(spark, sf_dir, "lineitem")
    counted_stream = (
        _hdr_cents(li_stream)
        .select(
            F.expr(_hdr_bid_expr("v", "shiftright({x}, {n})")).alias("bid")
        )
        .groupBy("bid")
        .agg(F.count("*").alias("cnt"))
    )
    # memory-sink View is not a MultiInstanceRelation; the report's
    # triangular self-join needs a fresh-id leaf — and the grid is fixed-
    # size by construction, so the checkpoint is tiny
    counted = drain_to_memory(
        counted_stream, "stream_hdr", sf_dir, "complete"
    ).localCheckpoint(eager=False)
    return _hdr_report(counted, _hdr_cents(load_table(spark, sf_dir, "lineitem")))


register("streaming_hdr", streaming_hdr_quantiles, HDR_QUANTILES_SQL)


def hdr_quantiles_grouped(lineitem: DataFrame) -> DataFrame:
    """Per-group (l_returnflag) HDR quantiles — the grouped form of
    hdr_quantiles showing the sketch is a per-key aggregate: one
    groupBy((key, bid)) pass builds every group's grid simultaneously
    (state = groups x grid, still fixed-size per group), and the prefix
    sums run as a PARTITIONED window over the bounded bucket rows —
    partitioned by key, so nothing ever drags to one task.

    Output: (flag, q_ppm, target_rank, est_lo_cents, est_hi_cents,
    est_mid_cents, exact_rank_lo, exact_rank_hi, within), ordered by
    (flag, q_ppm)."""
    from pyspark.sql import Window

    cents = lineitem.select(
        F.col("l_returnflag").alias("flag"),
        F.expr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        ).alias("v"),
    )
    lo_e, hi_e = _hdr_bounds_exprs("bid", "shiftleft({x}, {n})", "DIV")
    sketch = (
        cents.select(
            "flag",
            F.expr(_hdr_bid_expr("v", "shiftright({x}, {n})")).alias("bid"),
        )
        .groupBy("flag", "bid")
        .agg(F.count("*").alias("cnt"))
        .select(
            "flag", "bid", "cnt",
            F.expr(lo_e).alias("lo"), F.expr(hi_e).alias("hi"),
        )
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("bid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(w))
    totals = sketch.groupBy("flag").agg(F.sum("cnt").alias("n_total"))
    qs = totals.select(
        "flag",
        F.explode(
            F.array(*[F.lit(q) for q in HDR_QUANTILES_PPM])
        ).alias("q_ppm"),
        "n_total",
    ).select(
        "flag",
        "q_ppm",
        F.expr("(q_ppm * n_total + 999999) DIV 1000000").alias("target_rank"),
    )
    est = (
        cum.join(F.broadcast(qs), "flag")
        .filter(
            (F.col("cum") - F.col("cnt") < F.col("target_rank"))
            & (F.col("cum") >= F.col("target_rank"))
        )
        .select("flag", "q_ppm", "target_rank", "lo", "hi")
    )
    audit = (
        cents.join(F.broadcast(est), "flag")
        .groupBy("flag", "q_ppm", "target_rank", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("v") < F.col("lo"), 1).otherwise(0)).alias(
                "exact_rank_lo"
            ),
            F.sum(F.when(F.col("v") <= F.col("hi"), 1).otherwise(0)).alias(
                "exact_rank_hi"
            ),
        )
    )
    return audit.select(
        "flag",
        "q_ppm",
        "target_rank",
        F.col("lo").alias("est_lo_cents"),
        F.col("hi").alias("est_hi_cents"),
        F.expr("(lo + hi) DIV 2").alias("est_mid_cents"),
        "exact_rank_lo",
        "exact_rank_hi",
        (
            (F.col("exact_rank_lo") < F.col("target_rank"))
            & (F.col("target_rank") <= F.col("exact_rank_hi"))
        ).alias("within"),
    )


def hdr_quantiles_grouped_sql() -> str:
    """DuckDB replay: identical grid, per-key windowed prefix sums,
    probe, and exact-rank audit."""
    bid = _hdr_bid_expr("v", "(({x}) >> ({n}))")
    lo, hi = _hdr_bounds_exprs("bid", "(({x}) << ({n}))", "//")
    qvals = ", ".join(f"({q})" for q in HDR_QUANTILES_PPM)
    return f"""
        WITH cents AS (
            SELECT l_returnflag AS flag,
                   CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS v
            FROM lineitem
        ),
        counted AS (
            SELECT flag, {bid} AS bid, count(*) AS cnt
            FROM cents GROUP BY 1, 2
        ),
        sketch AS MATERIALIZED (
            SELECT flag, bid, cnt, {lo} AS lo, {hi} AS hi FROM counted
        ),
        cum AS (
            SELECT *, sum(cnt) OVER (PARTITION BY flag ORDER BY bid
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum
            FROM sketch
        ),
        qs AS (
            SELECT flag, q_ppm,
                   (q_ppm * n_total + 999999) // 1000000 AS target_rank
            FROM (SELECT flag, sum(cnt) AS n_total FROM sketch GROUP BY 1),
                 (SELECT * FROM (VALUES {qvals}) t(q_ppm))
        ),
        est AS MATERIALIZED (
            SELECT c.flag, q.q_ppm, q.target_rank, c.lo, c.hi
            FROM cum c JOIN qs q
              ON q.flag = c.flag
             AND c.cum - c.cnt < q.target_rank AND c.cum >= q.target_rank
        ),
        audit AS (
            SELECT e.flag, e.q_ppm, e.target_rank, e.lo, e.hi,
                   sum(CASE WHEN c.v < e.lo THEN 1 ELSE 0 END)
                       AS exact_rank_lo,
                   sum(CASE WHEN c.v <= e.hi THEN 1 ELSE 0 END)
                       AS exact_rank_hi
            FROM cents c JOIN est e ON e.flag = c.flag
            GROUP BY 1, 2, 3, 4, 5
        )
        SELECT flag, q_ppm,
               CAST(target_rank AS BIGINT) AS target_rank,
               lo AS est_lo_cents, hi AS est_hi_cents,
               (lo + hi) // 2 AS est_mid_cents,
               CAST(exact_rank_lo AS BIGINT) AS exact_rank_lo,
               CAST(exact_rank_hi AS BIGINT) AS exact_rank_hi,
               (exact_rank_lo < target_rank
                AND target_rank <= exact_rank_hi) AS within
        FROM audit ORDER BY flag, q_ppm
    """


# ---------------------------------------------------------------------------
# HLL set algebra across sources (union / intersection / Jaccard)
# ---------------------------------------------------------------------------
#
# The fourth sketch capability: theta-sketch-style SET OPERATIONS from the
# same HLL registers hll_cardinality builds.  For every source pair the
# union sketch is the register-wise MAX (exact HLL mergeability); the
# intersection is inclusion-exclusion over the FIXED-POINT integer
# estimates (est_a + est_b - est_union, clamped at 0) so the arithmetic
# is BIGINT-exact in both engines; estimated Jaccard = inter/union.  At
# 100 TB this is how cross-crawl overlap is actually measured: per-source
# sketches are 1024 rows each regardless of corpus size, the pair matrix
# is |sources|^2 * m rows — constant-bounded — while the exact audit
# columns (exact distinct intersection/union) are the verification side
# only.


def hll_set_ops(docs: DataFrame) -> DataFrame:
    """Pairwise source overlap from merged HLL sketches, audited exactly.

    Output per source pair (a < b): union_e4 / inter_e4 (fixed-point
    estimates), jacc_est, exact_union, exact_inter, jacc_exact,
    union_err_ppm (sketch-vs-exact audit, the hll_cardinality
    convention)."""
    shift_unit = 1 << (HLL_WBITS + 1)
    keyed = (
        _hll_keyed(docs)
        .select("source", "shingle", "h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    regs = (
        _hll_hashed(keyed)
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
        .localCheckpoint(eager=False)
    )

    def est_e4(fr, t_filled):
        t_scaled = t_filled + (HLL_M - fr) * F.lit(shift_unit).cast("long")
        return F.floor(
            F.lit(HLL_NUMERATOR) / t_scaled.cast("double") * 10000.0 + 0.5
        ).cast("long")

    t_term = F.expr(
        f"shiftleft(cast(1 as bigint), {HLL_WBITS + 1} - m_j)"
    )
    per = regs.groupBy("source").agg(
        F.count("*").alias("fr"), F.sum(t_term).alias("t_filled")
    )
    per_est = per.select(
        "source", est_e4(F.col("fr"), F.col("t_filled")).alias("e4")
    )
    # bounded pair frame: |sources| is small by construction (crawl
    # feeds); broadcasting one side makes the < self-join a
    # BroadcastNestedLoopJoin rather than a single-partition
    # CartesianProduct (same row count, but the work distributes — the
    # plan manifest test fails on any CartesianProduct)
    srcs = per_est.select("source")
    sp = (
        srcs.alias("a")
        .join(F.broadcast(srcs.alias("b")), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
    )
    pr = (
        sp.join(F.broadcast(regs).alias("ra"), F.col("ra.source") == F.col("sa"))
        .select("sa", "sb", "bucket", "m_j")
        .unionAll(
            sp.join(
                F.broadcast(regs).alias("rb"),
                F.col("rb.source") == F.col("sb"),
            ).select("sa", "sb", "bucket", "m_j")
        )
    )
    union_sketch = (
        pr.groupBy("sa", "sb", "bucket")
        .agg(F.max("m_j").alias("m_j"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("fr"), F.sum(t_term).alias("t_filled"))
        .select(
            "sa",
            "sb",
            est_e4(F.col("fr"), F.col("t_filled")).alias("union_e4"),
        )
    )
    s = keyed.select("source", "shingle")
    ex = s.groupBy("source").agg(F.count("*").alias("ex"))
    inter = (
        s.alias("x")
        .join(
            s.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("sa"), F.col("y.source").alias("sb")
        )
        .agg(F.count("*").alias("exact_inter"))
    )
    base = (
        union_sketch.join(
            F.broadcast(per_est).select(
                F.col("source").alias("sa"), F.col("e4").alias("ea")
            ),
            "sa",
        )
        .join(
            F.broadcast(per_est).select(
                F.col("source").alias("sb"), F.col("e4").alias("eb")
            ),
            "sb",
        )
        .join(
            F.broadcast(ex).select(
                F.col("source").alias("sa"), F.col("ex").alias("exa")
            ),
            "sa",
        )
        .join(
            F.broadcast(ex).select(
                F.col("source").alias("sb"), F.col("ex").alias("exb")
            ),
            "sb",
        )
        .join(inter, ["sa", "sb"], "left")
        .na.fill({"exact_inter": 0})
    )
    inter_e4 = F.greatest(
        F.lit(0).cast("long"),
        F.col("ea") + F.col("eb") - F.col("union_e4"),
    )
    exact_union = F.col("exa") + F.col("exb") - F.col("exact_inter")
    return base.select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "union_e4",
        inter_e4.alias("inter_e4"),
        F.round(
            inter_e4.cast("double") / F.col("union_e4").cast("double"), 6
        ).alias("jacc_est"),
        exact_union.alias("exact_union"),
        "exact_inter",
        F.round(
            F.col("exact_inter").cast("double")
            / exact_union.cast("double"),
            6,
        ).alias("jacc_exact"),
        F.expr(
            "(1000000 * abs(union_e4 - (exa + exb - exact_inter) * 10000))"
            " DIV ((exa + exb - exact_inter) * 10000)"
        ).alias("union_err_ppm"),
    )


def hll_set_ops_sql() -> str:
    """DuckDB replay of hll_set_ops: identical registers, register-max
    union per pair, integer inclusion-exclusion, exact audits."""
    from marketstream_etl_spark.functions.hashing import h60_sql

    from marketstream_etl_spark.operators.dedup import SHINGLE_K

    rho = _rho_case(f"(h // {HLL_M})", "({w} >> {k})")
    shift_unit = 1 << (HLL_WBITS + 1)
    sh = shingles_sql(tokens_sql("text"), SHINGLE_K)
    est = (
        f"CAST(floor(CAST({HLL_NUMERATOR!r} AS DOUBLE) "
        f"/ CAST(t_filled + ({HLL_M} - fr) * CAST({shift_unit} AS BIGINT) "
        f"AS DOUBLE) * 10000 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    )
    return f"""
        WITH docsh AS (
            SELECT DISTINCT doc_id, unnest({sh}) AS shingle
            FROM documents
        ),
        sp0 AS MATERIALIZED (
            SELECT DISTINCT d.source, s.shingle
            FROM docsh s JOIN documents d USING (doc_id)
        ),
        keyed AS (
            SELECT source, shingle, {h60_sql("shingle")} AS h FROM sp0
        ),
        regs AS MATERIALIZED (
            SELECT source, h % {HLL_M} AS bucket, max({rho}) AS m_j
            FROM keyed GROUP BY 1, 2
        ),
        per AS MATERIALIZED (
            SELECT source,
                   count(*) AS fr,
                   sum((CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - m_j)))
                       AS t_filled
            FROM regs GROUP BY source
        ),
        per_est AS (SELECT source, {est} AS e4 FROM per),
        spair AS (
            SELECT a.source AS sa, b.source AS sb
            FROM per_est a JOIN per_est b ON a.source < b.source
        ),
        pr AS (
            SELECT p.sa, p.sb, r.bucket, r.m_j
            FROM spair p JOIN regs r ON r.source = p.sa
            UNION ALL
            SELECT p.sa, p.sb, r.bucket, r.m_j
            FROM spair p JOIN regs r ON r.source = p.sb
        ),
        usk AS (
            SELECT sa, sb, fr, t_filled FROM (
                SELECT sa, sb,
                       count(*) AS fr,
                       sum((CAST(1 AS BIGINT) << ({HLL_WBITS + 1} - m_j)))
                           AS t_filled
                FROM (
                    SELECT sa, sb, bucket, max(m_j) AS m_j
                    FROM pr GROUP BY 1, 2, 3
                ) GROUP BY sa, sb
            )
        ),
        usk_est AS (SELECT sa, sb, {est} AS union_e4 FROM usk),
        ex AS MATERIALIZED (
            SELECT source, CAST(count(*) AS BIGINT) AS ex
            FROM sp0 GROUP BY source
        ),
        inter AS (
            SELECT x.source AS sa, y.source AS sb,
                   CAST(count(*) AS BIGINT) AS exact_inter
            FROM sp0 x JOIN sp0 y
              ON x.shingle = y.shingle AND x.source < y.source
            GROUP BY 1, 2
        )
        SELECT u.sa AS source_a, u.sb AS source_b, u.union_e4,
               greatest(0, pa.e4 + pb.e4 - u.union_e4) AS inter_e4,
               round(greatest(0, pa.e4 + pb.e4 - u.union_e4)::DOUBLE
                     / u.union_e4::DOUBLE, 6) AS jacc_est,
               (xa.ex + xb.ex - coalesce(i.exact_inter, 0)) AS exact_union,
               coalesce(i.exact_inter, 0) AS exact_inter,
               round(coalesce(i.exact_inter, 0)::DOUBLE
                     / (xa.ex + xb.ex - coalesce(i.exact_inter, 0))::DOUBLE,
                     6) AS jacc_exact,
               (1000000 * abs(u.union_e4
                    - (xa.ex + xb.ex - coalesce(i.exact_inter, 0)) * 10000))
                   // ((xa.ex + xb.ex - coalesce(i.exact_inter, 0)) * 10000)
                   AS union_err_ppm
        FROM usk_est u
        JOIN per_est pa ON pa.source = u.sa
        JOIN per_est pb ON pb.source = u.sb
        JOIN ex xa ON xa.source = u.sa
        JOIN ex xb ON xb.source = u.sb
        LEFT JOIN inter i ON i.sa = u.sa AND i.sb = u.sb
        ORDER BY source_a, source_b
    """
