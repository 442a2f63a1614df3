"""Synthesize an 'sf1' dataset — 10x sf0.1 — for the decade tool
(tools/sweep_sf.py DIR DIR): 1M events, 50K documents, 20K embeddings,
schema-identical to the driver testdata so every registered query runs
on it unmodified via its sf_dir parameter.

All columns are seeded-deterministic (F.rand(seed)/xxhash64 mixes), so a
regenerated dataset is bit-identical and probe numbers are reproducible.
The document corpus mirrors the testdata's shape (30-word SQL-ish
vocabulary at scale 1, growing 30·scale Heaps'-law style beyond it — see
main()'s vocab note, 20 sources, 5 langs, zipf-ish doc lengths) and
plants ~4% near-duplicates (a copy of an earlier doc with one word
appended) so the dedup families have real work at scale.

    python tools/gen_sf1.py [/tmp/marketstream_sf1]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from marketstream_etl_spark.session import get_spark

EVENTS = 1_000_000
DOCS = 50_000
EMBS = 20_000
DIM = 64
VOCAB = [
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "batch", "part", "vector", "query",
    "agg", "table", "stream", "key", "window", "join", "filter",
    "customer", "the", "a", "g", "index", "merge", "plan",
]
T0_US = 1_704_067_200_000_000  # 2024-01-01 UTC, the testdata epoch


def write_single(df, path: str) -> None:
    """Write `df` as ONE parquet FILE at `path` — the driver testdata's
    layout.  A directory-of-part-files layout silently breaks the
    streaming sources: sources/tables.stream_table filters scan files
    with pathGlobFilter=<table>.parquet, which matches the single file
    but not the part-NNNN names inside a directory, so every streaming
    query would replay an EMPTY stream (found live: the first sf1 sweep
    reported 0-row streaming results)."""
    import glob
    import os
    import shutil

    tmp = path + "_tmpdir"
    shutil.rmtree(tmp, ignore_errors=True)
    # Bounded row groups (8 MB vs the 128 MB default): a single-file
    # table with ONE giant row group cannot be split by byte range, so
    # every scan of it runs on one task no matter the config (measured:
    # sf1 lineitem's 6M-row scan+shuffle-write serialized ~13 s on one
    # thread inside part_triangles).  Multiple row groups + the session's
    # maxPartitionBytes give the scan real parallelism while keeping the
    # one-file layout the streaming sources' pathGlobFilter requires.
    df.coalesce(1).write.option(
        "parquet.block.size", str(8 * 1024 * 1024)
    ).mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")
    assert len(part) == 1, part
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    shutil.move(part[0], path)
    shutil.rmtree(tmp)


def main() -> None:
    # gen_sf1.py [out_dir] [--scale N] [--skip-tpch]
    # --scale 10 --skip-tpch produces the 'sf10' third-decade probe set
    # (events/documents/embeddings only — the headline decade rows
    # `tools/sweep_sf.py --ops` times need no TPC-H tables, and skipping
    # the 60M-row lineitem keeps generation to ~2 min).
    args = sys.argv[1:]
    scale = 1
    if "--scale" in args:
        i = args.index("--scale")
        scale = int(args[i + 1])
        del args[i : i + 2]
    skip_tpch = "--skip-tpch" in args
    if skip_tpch:
        args.remove("--skip-tpch")
    global EVENTS, DOCS, EMBS
    EVENTS, DOCS, EMBS = EVENTS * scale, DOCS * scale, EMBS * scale
    # Heaps'-law vocabulary growth: a FIXED 30-word vocab has exactly
    # 30^3 = 27,000 possible 3-gram shingles, which saturates by sf1
    # (max shingle DF 124 at 52K docs, 971 at 520K) — at sf10 every
    # shingle would exceed the dedup family's DF_CAP=100 stop-shingle
    # bound and be dropped, collapsing minhash/winnowing to 0 pairs.
    # Real corpora grow vocabulary with size, so the synthetic one does
    # too: 30*scale words (suffix variants), keeping shingle document
    # frequency in the same regime at every decade.
    vocab = [
        VOCAB[i % len(VOCAB)]
        + ("" if i < len(VOCAB) else str(i // len(VOCAB)))
        for i in range(len(VOCAB) * scale)
    ]
    out = args[0] if args else "/tmp/marketstream_sf1"
    spark = get_spark("gen-sf1")

    # --- events: same columns/types as testdata events.parquet ---------
    ev = (
        spark.range(EVENTS)
        .repartition(32)
        .select(
            F.col("id").alias("event_id"),
            # ~26 days of microsecond timestamps, jittered but ordered in
            # expectation (bar/window ops see realistic time density)
            F.timestamp_micros(
                F.lit(T0_US)
                + F.col("id") * F.lit(2_240_000)
                + (F.xxhash64("id") % 2_000_000 + 2_000_000) % 2_000_000
            ).alias("ts"),
            (F.xxhash64("id", F.lit(1)) % 1000 + 1000) % 1000,
            F.element_at(
                F.array(
                    F.lit("click"), F.lit("view"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error"),
                ),
                ((F.xxhash64("id", F.lit(2)) % 5 + 5) % 5 + 1).cast("int"),
            ).alias("event_type"),
            F.round(F.rand(seed=7) * 560, 2).alias("value"),
            F.concat(
                F.lit('{"k": '),
                ((F.xxhash64("id", F.lit(3)) % 100 + 100) % 100).cast(
                    "string"
                ),
                F.lit("}"),
            ).alias("props"),
        )
    )
    # name the positional user_id expression via toDF
    ev = ev.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    write_single(ev, f"{out}/events.parquet")

    # --- documents: vocab text, zipf-ish lengths, planted near-dups ----
    words = F.array(*[F.lit(w) for w in vocab])
    base = (
        spark.range(DOCS)
        .repartition(32)
        .select(
            F.col("id").alias("doc_id"),
            # length 8..120 words, skewed short
            (
                8
                + F.pow(F.rand(seed=11), F.lit(2.0)) * 112
            ).cast("int").alias("n_words"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_words")),
                    lambda i: F.element_at(
                        words,
                        (
                            (F.xxhash64(F.col("doc_id"), i) % len(vocab)
                             + len(vocab)) % len(vocab) + 1
                        ).cast("int"),
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    # ~4% near-duplicates: doc_id >= DOCS copies text of doc_id - DOCS
    # with one appended token (winnowing/minhash/simhash get real pairs)
    dup_src = base.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + DOCS).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" merge")).alias("text"),
    )
    docs = (
        base.unionByName(dup_src)
        .select(
            "doc_id",
            "text",
            F.element_at(
                F.array(
                    F.lit("en"), F.lit("de"), F.lit("zh"),
                    F.lit("fr"), F.lit("es"),
                ),
                (
                    (F.xxhash64("doc_id", F.lit(5)) % 5 + 5) % 5 + 1
                ).cast("int"),
            ).alias("lang"),
            F.concat(
                F.lit("src"),
                ((F.xxhash64("doc_id", F.lit(6)) % 20 + 20) % 20).cast(
                    "string"
                ),
            ).alias("source"),
            F.length("text").alias("n_chars"),
        )
    )
    write_single(docs, f"{out}/documents.parquet")

    # --- embeddings: 64-dim floats, 8 labels ---------------------------
    emb = (
        spark.range(EMBS)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (F.rand(seed=100 + d) * 2 - 1).cast("float")
                    for d in range(DIM)
                ]
            ).alias("embedding"),
            ((F.col("id") % 8)).cast("int").alias("label"),
        )
    )
    write_single(emb, f"{out}/embeddings.parquet")

    if not skip_tpch:
        gen_tpch(spark, out)

    for t in (
        "events", "documents", "embeddings",
    ) + (() if skip_tpch else (
        "region", "nation", "supplier", "customer", "part",
        "orders", "lineitem",
    )):
        n = spark.read.parquet(f"{out}/{t}.parquet").count()
        print(f"{t}: {n} rows -> {out}/{t}.parquet")


# TPC-H-ish tables at 10x the sf0.1 testdata row counts, mirroring the
# driver generator's shapes (NATION_N names, word-pair part names, the
# same enum domains and 1995-2001 date range) so every tpch_* query runs
# on the sf1 dir unmodified.  Values are seeded-deterministic; the sf1
# sweep counts rows / catches scale-aborts, it does not value-compare.
def gen_tpch(spark, out: str) -> None:
    SUPP, CUST, PART = 10_000, 150_000, 200_000
    ORDERS, LINES = 1_500_000, 6_000_000

    def hmod(col, salt, m):
        return ((F.xxhash64(col, F.lit(salt)) % m + m) % m)

    region = spark.createDataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
         (4, "MIDDLE EAST")],
        "r_regionkey bigint, r_name string",
    )
    write_single(region, f"{out}/region.parquet")

    nation = spark.range(25).select(
        F.col("id").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias(
            "n_name"
        ),
        (F.col("id") % 5).alias("n_regionkey"),
    )
    write_single(nation, f"{out}/nation.parquet")

    supplier = spark.range(SUPP).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        hmod("id", 21, 25).alias("s_nationkey"),
        F.round(F.rand(seed=22) * 10000, 2).alias("s_acctbal"),
    )
    write_single(supplier, f"{out}/supplier.parquet")

    seg = F.array(*[F.lit(s) for s in (
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
    )])
    customer = spark.range(CUST).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        hmod("id", 31, 25).alias("c_nationkey"),
        F.round(F.rand(seed=32) * 10000, 2).alias("c_acctbal"),
        F.element_at(seg, (hmod("id", 33, 5) + 1).cast("int")).alias(
            "c_mktsegment"
        ),
    )
    write_single(customer, f"{out}/customer.parquet")

    adjectives = F.array(*[F.lit(s) for s in (
        "large", "hot", "blue", "green", "red", "small", "shiny", "dim",
    )])
    nouns = F.array(*[F.lit(s) for s in (
        "ring", "bolt", "gear", "plate", "wheel", "rod", "pin", "cap",
    )])
    ptypes = F.array(*[F.lit(s) for s in (
        "MEDIUM", "SMALL", "PROMO", "ECONOMY", "LARGE", "STANDARD",
    )])
    part_df = spark.range(PART).select(
        F.col("id").alias("p_partkey"),
        F.concat(
            F.element_at(adjectives, (hmod("id", 41, 8) + 1).cast("int")),
            F.lit(" "),
            F.element_at(nouns, (hmod("id", 42, 8) + 1).cast("int")),
        ).alias("p_name"),
        F.concat(
            F.lit("Brand#"), (hmod("id", 43, 25) + 1).cast("string")
        ).alias("p_brand"),
        F.element_at(ptypes, (hmod("id", 44, 6) + 1).cast("int")).alias(
            "p_type"
        ),
        (hmod("id", 45, 50) + 1).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + F.col("id") * 0.1, 2).alias(
            "p_retailprice"
        ),
    )
    write_single(part_df, f"{out}/part.parquet")

    ostatus = F.array(F.lit("O"), F.lit("F"), F.lit("P"))
    oprio = F.array(*[F.lit(s) for s in (
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    )])
    d0 = F.lit("1995-01-01").cast("date")
    orders = spark.range(ORDERS).repartition(32).select(
        F.col("id").alias("o_orderkey"),
        hmod("id", 51, CUST).alias("o_custkey"),
        F.element_at(ostatus, (hmod("id", 52, 3) + 1).cast("int")).alias(
            "o_orderstatus"
        ),
        F.round(F.rand(seed=53) * 400000 + 1000, 2).alias("o_totalprice"),
        F.date_add(d0, hmod("id", 54, 2400).cast("int")).cast(
            "timestamp"
        ).alias("o_orderdate"),
        F.element_at(oprio, (hmod("id", 55, 5) + 1).cast("int")).alias(
            "o_orderpriority"
        ),
    )
    write_single(orders, f"{out}/orders.parquet")

    rflag = F.array(F.lit("N"), F.lit("A"), F.lit("R"))
    lstat = F.array(F.lit("O"), F.lit("F"))
    lineitem = spark.range(LINES).repartition(32).select(
        hmod("id", 61, ORDERS).alias("l_orderkey"),
        hmod("id", 62, PART).alias("l_partkey"),
        hmod("id", 63, SUPP).alias("l_suppkey"),
        (hmod("id", 64, 7) + 1).cast("int").alias("l_linenumber"),
        (hmod("id", 65, 50) + 1).cast("double").alias("l_quantity"),
        F.round(F.rand(seed=66) * 100000 + 900, 2).alias(
            "l_extendedprice"
        ),
        F.round(hmod("id", 67, 11).cast("double") / 100, 2).alias(
            "l_discount"
        ),
        F.round(hmod("id", 68, 9).cast("double") / 100, 2).alias("l_tax"),
        F.element_at(rflag, (hmod("id", 69, 3) + 1).cast("int")).alias(
            "l_returnflag"
        ),
        F.element_at(lstat, (hmod("id", 70, 2) + 1).cast("int")).alias(
            "l_linestatus"
        ),
        F.date_add(
            F.lit("1995-01-02").cast("date"), hmod("id", 71, 2500).cast("int")
        ).cast("timestamp").alias("l_shipdate"),
    )
    write_single(lineitem, f"{out}/lineitem.parquet")


if __name__ == "__main__":
    main()
