"""Text-analysis semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from marketstream_etl_spark.operators.text import (
    analyze_documents,
    fingerprint,
    lang_id,
)


def test_lang_id_marker_heuristic(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat and the dog sat in a house that is warm"),
            Row(doc_id=1, text="el gato y la casa de madrid que juega con los amigos"),
            Row(doc_id=2, text="der hund und die katze ist nicht das problem"),
            Row(doc_id=3, text="le chat et les maisons dans une ville pour des amis"),
            Row(doc_id=4, text="xyzzy plugh qwerty"),
        ]
    )
    got = {r["doc_id"]: r["lang"] for r in
           df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "es", 2: "de", 3: "fr", 4: "und"}


def test_fingerprint_invariant_to_case_punct_whitespace(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="Hello, World!"),
            Row(doc_id=1, text="hello   world"),
            Row(doc_id=2, text="HELLO-world."),
            Row(doc_id=3, text="goodbye world"),
        ]
    )
    fps = [r["fp"] for r in
           df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]


def test_analyze_documents_features(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="The quick brown fox, and the lazy dog!!")]
    )
    r = analyze_documents(df).collect()[0]
    assert r["lang_pred"] == "en"
    assert r["ws_tokens"] == 8
    # letter runs: The quick brown fox and the lazy dog (8) + ',' + '!!' (3)
    assert r["bpe_ish_tokens"] == 11
    assert r["n_tokens"] == 8
    assert r["stop_ratio"] == pytest.approx(3 / 8, abs=1e-6)
    assert 0.0 <= r["quality_score"] <= 1.0
    assert len(r["fingerprint"]) == 32


def test_corpus_ops_invariants(spark, sf_dir):
    """vocab_topk / contamination / sequence_packing structural invariants."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.functions.hashing import tokens
    from marketstream_etl_spark.plans.training_data import (
        q_contamination,
        q_sequence_packing,
        q_vocab_topk,
    )
    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n")
    ).cache()
    total_tokens = docs.agg(F.sum("n")).collect()[0][0]
    n_docs = docs.count()

    vocab = q_vocab_topk(spark, sf_dir).collect()
    assert 0 < len(vocab) <= 50
    assert all(r["n_docs"] <= n_docs and r["n_total"] >= r["n_docs"] for r in vocab)
    # heavy hitters are sorted by total frequency
    totals = [r["n_total"] for r in vocab]
    assert totals == sorted(totals, reverse=True)

    cont = q_contamination(spark, sf_dir).collect()
    assert all(0 < r["n_overlap"] <= r["n_shingles"] for r in cont)
    assert all(0.0 < r["contamination"] <= 1.0 for r in cont)

    packed = q_sequence_packing(spark, sf_dir)
    agg = packed.agg(F.sum("n_docs"), F.sum("sum_tokens")).collect()[0]
    # packing is a partition of the corpus: every doc and token lands once
    assert (agg[0], agg[1]) == (n_docs, total_tokens)
    # bins start at 0 per lane; an over-budget doc (> 2048 tokens) may skip
    # bin indices, so assert bounds rather than density: the last bin index
    # can't exceed the lane's preceding-cumsum ceiling
    lanes = packed.groupBy("lane").agg(
        F.min("bin").alias("lo"),
        F.max("bin").alias("hi"),
        F.count("*").alias("k"),
        F.sum("sum_tokens").alias("lane_tokens"),
    )
    for r in lanes.collect():
        assert r["lo"] == 0
        assert r["k"] <= r["hi"] + 1
        assert r["hi"] <= r["lane_tokens"] // 2048
    docs.unpersist()


def test_chunk_documents_invariants(spark, sf_dir):
    """Sliding-window chunking: full coverage, correct overlap arithmetic."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.functions.hashing import tokens
    from marketstream_etl_spark.plans.training_data import q_chunk_documents
    from marketstream_etl_spark.sources.tables import load_table

    chunks = q_chunk_documents(spark, sf_dir).cache()
    per_doc = {
        r["doc_id"]: (r["k"], r["last_tokens"])
        for r in chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("k"),
            F.max_by("n_chunk_tokens", "chunk_idx").alias("last_tokens"),
        )
        .collect()
    }
    docs = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .filter("n > 0")
        .collect()
    }
    assert set(per_doc) == set(docs)
    for doc_id, n in docs.items():
        k, last_tokens = per_doc[doc_id]
        # starts are 0, 48, 96, ... < n
        assert k == (n + 47) // 48
        # the final window holds whatever remains past the last start
        assert last_tokens == min(64, n - 48 * (k - 1))
    # stride (48) < size (64) ⇒ the last TWO windows of a doc may run past
    # the end and come up short; every earlier window must be full-size
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    short_early = (
        chunks.withColumn("k", F.max("chunk_idx").over(w))
        .filter(
            (F.col("chunk_idx") < F.col("k") - 1)
            & (F.col("n_chunk_tokens") != 64)
        )
        .count()
    )
    assert short_early == 0
    chunks.unpersist()


def test_pii_redaction_finds_injected_pii(spark, sf_dir):
    from marketstream_etl_spark.plans.training_data import q_pii_redaction

    rows = q_pii_redaction(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        want_email = 1 if r.doc_id % 3 == 0 else 0
        want_phone = 1 if r.doc_id % 3 == 1 else 0
        assert r.n_emails == want_email, r.doc_id
        assert r.n_phones == want_phone, r.doc_id


def test_pii_redaction_removes_pii(spark, sf_dir):
    from pyspark.sql import functions as F

    from marketstream_etl_spark.operators.text import (
        EMAIL_RE,
        PHONE_RE,
        inject_pii,
    )
    from marketstream_etl_spark.sources.tables import load_table

    injected = inject_pii(load_table(spark, sf_dir, "documents"))
    redacted = injected.select(
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("text")
    )
    leftover = redacted.filter(
        F.col("text").rlike(EMAIL_RE) | F.col("text").rlike(PHONE_RE)
    ).count()
    assert leftover == 0


def test_repetition_ratio_bounds_and_known_values(spark):
    from pyspark.sql import functions as F

    from marketstream_etl_spark.functions.hashing import tokens
    from marketstream_etl_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),   # "a b c" repeats: 7 grams, 3 distinct
            (2, "one two three four"),  # no repeated 3-gram
            (3, "x y"),                 # fewer than 3 tokens -> 0.0
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.rep
        for r in df.select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.round(repetition_ratio("t"), 6).alias("rep"))
        .collect()
    }
    assert got[1] == round(1 - 3 / 7, 6)
    assert got[2] == 0.0
    assert got[3] == 0.0


def test_readability_hand_computed(spark):
    """'The cat sat. It ran!': 5 words, 2 sentences, 5 syllable groups →
    FK = .39·2.5 + 11.8·1 − 15.59 = −2.815, ease = 206.835 − 1.015·2.5
    − 84.6 = 119.6975, band easy."""
    from pyspark.sql import Row

    from marketstream_etl_spark.operators.text import readability

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="The cat sat. It ran!")]
    )
    r = readability(docs).collect()[0]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
    assert r.fk_grade == -2.815
    assert r.flesch_ease == 119.6975
    assert r.band == "easy"


def test_readability_empty_and_unpunctuated(spark):
    """No terminator → 1 sentence floor; empty text → zero counts, the
    guarded ratios stay finite."""
    from pyspark.sql import Row

    from marketstream_etl_spark.operators.text import readability

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="banana banana"), Row(doc_id=2, text="")]
    )
    out = {r.doc_id: r for r in readability(docs).collect()}
    assert out[1].n_sentences == 1 and out[1].n_syllables == 6
    assert out[2].n_words == 0 and out[2].fk_grade is not None


def test_mad_outliers_hand_computed(spark, monkeypatch):
    """Source with lengths [10,10,10,10,1000]: med=10, MAD=0 for the
    four 10s... median of deviations [0,0,0,0,1980] (half-units) = 0 →
    m4=0 → no flags, z NULL.  Source b [10,12,14,16,100]: med=14,
    devs |2x-28| = [8,4,0,4,172], median=4 → m4=8 (MAD=2);
    flag iff 13490·d > 35000·8=280000 → only d=172 → 1 outlier,
    z_max = 1.349·172/8 = 29.0035."""
    import pandas as pd

    from marketstream_etl_spark.plans import training_data as td

    pdf = pd.DataFrame(
        {
            "source": ["a"] * 5 + ["b"] * 5,
            "n_chars": [10, 10, 10, 10, 1000, 10, 12, 14, 16, 100],
        }
    )
    df = spark.createDataFrame(pdf)
    monkeypatch.setattr(
        td, "load_table", lambda spark_, sf_dir_, name: df
    )
    out = {r.source: r for r in td.q_mad_outliers(spark, "unused").collect()}
    assert out["a"].n_outliers == 0 and out["a"].z_max is None
    b = out["b"]
    assert (b.med_chars, b.mad_chars, b.n_outliers) == (14.0, 2.0, 1)
    assert b.z_max == 29.0035


# --- Zipf audit ----------------------------------------------------------------

def test_zipf_audit_perfect_power_law(spark, sf_dir, monkeypatch):
    """Counts 60/r for r=1..6 are an exact power law: ln(cnt) =
    ln(60) - 1·ln(rank), so the fit must return slope -1 and R² 1."""
    from pyspark.sql import Row
    from marketstream_etl_spark.plans import training_data as td

    words = []
    for r, n in enumerate([60, 30, 20, 15, 12, 10], start=1):
        words += [f"w{r:02d}"] * n
    docs_frame = spark.createDataFrame([Row(doc_id=0, text=" ".join(words))])
    monkeypatch.setattr(td, "load_table", lambda sp, sf, name: docs_frame)
    row = td.q_zipf_audit(spark, "ignored").collect()[0]
    assert row["n_terms"] == 6
    assert row["n_tokens"] == sum([60, 30, 20, 15, 12, 10])
    assert row["topk_mass"] == 1.0
    assert row["zipf_slope"] == -1.0
    assert row["zipf_r2"] == 1.0


def test_source_entropy_uniform_and_degenerate(spark, monkeypatch):
    """Uniform 4-token source: H = ln(4), norm_entropy 1.  Single-token
    source: H = 0 and norm_entropy is NULL (ln(1) division)."""
    import math
    from pyspark.sql import Row
    from marketstream_etl_spark.plans import training_data as td

    docs_frame = spark.createDataFrame([
        Row(doc_id=0, text="a b c d", source="uniform"),
        Row(doc_id=1, text="x x x x", source="degenerate"),
    ])
    monkeypatch.setattr(td, "load_table", lambda sp, sf, name: docs_frame)
    rows = {r["source"]: r for r in td.q_source_entropy(spark, "x").collect()}
    u = rows["uniform"]
    assert u["n_tokens"] == 4 and u["n_terms"] == 4
    assert u["entropy"] == round(math.log(4), 6)
    assert u["norm_entropy"] == 1.0
    assert u["type_token_ratio"] == 1.0
    d = rows["degenerate"]
    assert d["entropy"] == 0.0 and d["n_terms"] == 1
    assert d["norm_entropy"] is None  # H/ln(1) -> 0/0, surfaced as NULL


def test_padding_efficiency_buckets_and_truncation(spark, monkeypatch):
    """Docs of 100 / 200 / 2000 tokens: buckets 128, 256, and the top
    bucket with 976 truncated tokens; integer accounting must balance."""
    from pyspark.sql import Row
    from marketstream_etl_spark.plans import training_data as td

    def doc(i, n):
        return Row(doc_id=i, text=" ".join(["tok"] * n))

    docs_frame = spark.createDataFrame([doc(0, 100), doc(1, 200), doc(2, 2000)])
    monkeypatch.setattr(td, "load_table", lambda sp, sf, name: docs_frame)
    rows = {r["bucket"]: r for r in td.q_padding_efficiency(spark, "x").collect()}
    assert set(rows) == {128, 256, 1024}
    assert rows[128]["n_docs"] == 1 and rows[128]["pad_waste"] == 28
    assert rows[256]["real_tokens"] == 200 and rows[256]["pad_waste"] == 56
    top = rows[1024]
    assert top["truncated_tokens"] == 2000 - 1024
    assert top["real_tokens"] == 1024 and top["pad_waste"] == 0
    assert top["efficiency"] == 1.0
    assert rows[128]["efficiency"] == round(100 / 128, 6)


def test_vectorized_count_shape_matches_array_path(spark):
    """Lock the r10 vectorized scorer counts to the quality_features array
    path: punct_count (translate) == the regexp_replace strip count,
    regexp_count of [a-z0-9]+ runs == size(filtered split), and the
    longest-first stopword alternation == the list_filter hit count —
    over an adversarial edge corpus (empty, all-punct, stopword-prefix
    words like 'one'/'android'/'forward', every Java \\s char, unicode,
    digit-glued tokens, 200+-token doc)."""
    from pyspark.sql import Row
    from marketstream_etl_spark.functions.hashing import tokens
    from marketstream_etl_spark.operators.text import (
        STOPWORDS,
        punct_count,
        quality_features,
    )

    corpus = [
        "",
        "!!! ,,, ;;; €éñ中 ---",
        "the and of to a in is that it for on with as this",
        "one android forward aa ona theo onthe is2 2is a1a",
        "tab\tnewline\nvtab\x0bff\x0ccr\rspace end",
        "The, quick; brown! fox? (and) [the] {lazy} dog",
        "a" * 500 + " " + "b1c2 " * 100,
        " ".join(["the"] * 250),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(corpus)])
    toks = tokens(F.col("text"))
    q = quality_features(F.col("text"), toks=toks)
    low = F.lower(F.col("text"))
    alt = "|".join(sorted(STOPWORDS, key=len, reverse=True))
    old_punct = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9\s]", "")
    )
    old_stops = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    rows = df.select(
        old_punct.alias("punct_a"),
        punct_count(F.col("text")).alias("punct_b"),
        q["n_tokens"].alias("ntok_a"),
        F.regexp_count(low, F.lit("[a-z0-9]+")).alias("ntok_b"),
        old_stops.alias("stop_a"),
        F.regexp_count(
            low, F.lit(f"(?<![a-z0-9])(?:{alt})(?![a-z0-9])")
        ).alias("stop_b"),
    ).collect()
    for r in rows:
        assert r["punct_a"] == r["punct_b"], r
        assert r["ntok_a"] == r["ntok_b"], r
        assert r["stop_a"] == r["stop_b"], r


def test_scored_from_raw_matches_batch_scorer(spark, sf_dir):
    """The stream-safe vectorized scorer must be bit-identical to the
    batch cached-frame path (_quality_scored) on real testdata — the
    invariant that lets every streaming scoring twin share the batch
    oracle."""
    from marketstream_etl_spark.plans import training_data as td
    from marketstream_etl_spark.sources.tables import load_table

    batch = {r["doc_id"]: (r["score_e6"], r["pos"])
             for r in td._quality_scored(spark, sf_dir).collect()}
    stream_shape = {r["doc_id"]: (r["score_e6"], r["pos"])
                    for r in td.scored_from_raw(
                        load_table(spark, sf_dir, "documents")).collect()}
    assert batch == stream_shape


def test_punct_count_equivalence_fuzz(spark):
    """Hypothesis-style fuzz (fixed seed, driver-side corpus) of the
    translate-based punct_count against the regex strip it replaced,
    over arbitrary unicode including astral-plane chars, every ASCII
    control char, and combining marks."""
    import random

    from pyspark.sql import Row
    from marketstream_etl_spark.operators.text import punct_count

    rng = random.Random(1234)
    alphabet = (
        [chr(c) for c in range(0x20, 0x7F)]          # printable ASCII
        + ["\t", "\n", "\x0b", "\x0c", "\r"]          # Java \s set
        + [chr(c) for c in range(0x00, 0x20)]         # all controls
        + ["é", "ñ", "中", "🙂", "́", " ", " ", "€"]
    )
    corpus = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 120)))
        for _ in range(300)
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(corpus)]
    )
    old = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9\s]", "")
    )
    diffs = (
        df.select((old != punct_count(F.col("text"))).alias("d"))
        .filter("d")
        .count()
    )
    assert diffs == 0
