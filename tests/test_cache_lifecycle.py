"""Cache-lifecycle guarantees (r4, LRU-generalized in r5):

- dedup operators keep at most GENERATIONS_PER_FAMILY (2) generations of
  persisted intermediates per operator family — repeat calls over the
  same input reuse the warm frames, two alternating inputs coexist
  without thrash, and a third input evicts + unpersists the LRU one;
- the analytics valid-trades cache is keyed by the events file's
  identity, so a regenerated testdata directory is never served stale
  results;
- every generation goes through functions/cachegen.memo, so clear()
  releases all of them and no query unpersists one behind its back.
"""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from conftest import write_docs_parquet as _write_docs

from marketstream_etl_spark.functions import cachegen
from marketstream_etl_spark.operators import dedup
from marketstream_etl_spark.plans import analytics
from marketstream_etl_spark.sources.tables import load_table


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_lsh_cache_generations_are_lru_bounded(spark, tmp_path):
    cachegen.clear()
    docs1 = load_table(spark, "/root/testdata/sf0.001", "documents")
    dedup.minhash_lsh_pairs(docs1).count()
    after_first = _n_cached(spark)
    # same input again: cached frames are REUSED, not duplicated
    dedup.minhash_lsh_pairs(docs1).count()
    assert _n_cached(spark) == after_first
    # second input: coexists (capacity 2), roughly doubling the frames
    docs2 = load_table(spark, "/root/testdata/sf0.01", "documents")
    dedup.minhash_lsh_pairs(docs2).count()
    after_second = _n_cached(spark)
    assert after_second > after_first
    # third input: the LRU generation (docs1's) is evicted, not leaked —
    # total persisted frames must not keep growing
    _write_docs(str(tmp_path), {1: "tiny third corpus document body", 2: "x y"})
    docs3 = load_table(spark, str(tmp_path), "documents")
    dedup.minhash_lsh_pairs(docs3).count()
    assert _n_cached(spark) <= after_second + 1  # transiently ±1 is fine
    cachegen.clear()  # drain for other tests


def test_cluster_report_keeps_the_lsh_generation_cached(spark, sf_dir):
    """duplicate_clusters reads the pairs frame from the LSH generation
    cache and leaves it persisted for the next caller.  The frame is held
    and checked directly: a later lookup would re-persist an evicted
    frame and hide the eviction (at the price of a rebuild)."""
    cachegen.clear()
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    dedup.cluster_report(pairs).count()
    assert pairs.storageLevel.useMemory
    assert dedup.minhash_lsh_pairs(docs) is pairs
    cachegen.clear()


def test_dedup_cache_rotates_on_rewrite_in_place(spark, tmp_path):
    """r4 VERDICT finding 1: the generation key must see a testdata file
    regenerated IN PLACE (same path, same plan → same semanticHash, new
    bytes).  Gen 1 contains an exact duplicate pair; gen 2 rewrites the
    same file with all-distinct docs — a stale cache would keep reporting
    the gen-1 pair."""
    sf_dir = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog again and again "
    _write_docs(
        sf_dir,
        {
            1: base * 3,
            2: base * 3,  # exact dup of doc 1 → jaccard 1.0
            3: "completely different text about spark shuffle partitions",
            4: "yet another unrelated document mentioning parquet footers",
        },
    )
    docs1 = load_table(spark, sf_dir, "documents")
    first = dedup.minhash_lsh_pairs(docs1).collect()
    assert [(r.doc_a, r.doc_b) for r in first] == [(1, 2)]
    # rewrite the SAME file with distinct contents; only mtime/size change
    _write_docs(
        sf_dir,
        {
            1: base * 3,
            2: "now this document shares nothing with the first one at all",
            3: "completely different text about spark shuffle partitions",
            4: "yet another unrelated document mentioning parquet footers",
        },
    )
    docs2 = load_table(spark, sf_dir, "documents")
    assert dedup.minhash_lsh_pairs(docs2).collect() == []
    cachegen.clear()  # drain for other tests


def test_dedup_results_survive_clearcache(spark):
    """Cache-architecture guard (r4 VERDICT item 5): the persisted frames
    are a perf layer only — forcing spark.catalog.clearCache() between
    calls must not change any result (correctness, not speed)."""
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    lsh_warm = sorted(map(tuple, dedup.minhash_lsh_pairs(docs).collect()))
    sim_warm = sorted(map(tuple, dedup.simhash_near_pairs(docs).collect()))
    spark.catalog.clearCache()
    lsh_cold = sorted(map(tuple, dedup.minhash_lsh_pairs(docs).collect()))
    sim_cold = sorted(map(tuple, dedup.simhash_near_pairs(docs).collect()))
    assert lsh_cold == lsh_warm
    assert sim_cold == sim_warm
    from marketstream_etl_spark.plans import training_data

    cont_warm = sorted(
        map(tuple, training_data.q_contamination(spark, sf).collect())
    )
    spark.catalog.clearCache()
    cont_cold = sorted(
        map(tuple, training_data.q_contamination(spark, sf).collect())
    )
    assert cont_cold == cont_warm
    cachegen.clear()


def test_analyzed_documents_memoized_across_loads(spark):
    """Two independent load_table calls over the same generation must hand
    every consumer the SAME analyzed frame object (Python-level
    memoization, not just CacheManager plan matching)."""
    from marketstream_etl_spark.operators import text

    sf = "/root/testdata/sf0.001"
    a1 = text.analyzed_documents_cached(load_table(spark, sf, "documents"))
    a2 = text.analyzed_documents_cached(load_table(spark, sf, "documents"))
    assert a1 is a2
    cachegen.clear("analyzed_docs")


def _write_events(path: str, prices: list[float]) -> None:
    n = len(prices)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, n + 1), pa.int64()),
                "ts": pa.array(
                    [1_704_067_200_000_000 + i for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([7] * n, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array(prices, pa.float64()),
                "props": pa.array(['{"k": 5}'] * n),
            }
        ),
        os.path.join(path, "events.parquet"),
    )


def test_valid_trades_cache_rotates_on_source_mtime(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_events(sf_dir, [10.0, 11.0, 12.0])
    first = analytics.q_indicators(spark, sf_dir).collect()
    assert len(first) == 1 and abs(first[0].vwap - 11.0) < 1e-9
    # regenerate the source with different prices; mtime changes, so the
    # cached generation must be discarded, never served
    os.remove(os.path.join(sf_dir, "events.parquet"))
    _write_events(sf_dir, [20.0, 21.0, 22.0])
    second = analytics.q_indicators(spark, sf_dir).collect()
    assert len(second) == 1 and abs(second[0].vwap - 21.0) < 1e-9


def test_generation_survives_external_clearcache(spark, sf_dir):
    """spark.catalog.clearCache() unregisters persisted frames from the
    CacheManager while the cachegen registry still holds them — lookup
    must re-mark such frames for caching, or every consumer recomputes
    the build per action forever after (found live: bench extras 6x slow
    after the streaming section's clearCache)."""
    from marketstream_etl_spark.operators.dedup import shingle_pairs_cached
    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = shingle_pairs_cached(docs)
    pairs.count()  # materialize the generation
    spark.catalog.clearCache()
    again = shingle_pairs_cached(docs)
    sl = again.storageLevel
    assert sl.useMemory or sl.useDisk, (
        "lookup served a frame the CacheManager no longer tracks "
        "without re-marking it for persistence"
    )
    # and it still computes the same thing
    assert again.count() == pairs.count()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_clear_releases_the_valid_trades_generation(spark, sf_dir):
    # persisted RDD ids, not counts: the context cleaner may drop an
    # unrelated earlier RDD at any moment
    def cached_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    cachegen.clear()
    spark.catalog.clearCache()
    before = cached_ids()
    _force(analytics.q_indicators(spark, sf_dir))
    built = cached_ids() - before
    assert built
    cachegen.clear()
    assert not built & cached_ids()


# one registered query per generation family (dedup_clusters reads the
# shingle, kept-shingle and LSH families)
ONE_QUERY_PER_FAMILY = (
    "dedup_clusters",
    "dedup_minhash_lsh",
    "simhash_pairs",
    "bm25_search",
    "lm_perplexity",
    "winnowing_pairs",
    "ann_ivf_recall",
    "ann_ivfpq_served",
    "kmeans_embeddings",
    "text_analysis",
    "indicators",
)


def _memo_families() -> set[str]:
    """The family of every memo call in the package, hyperparameters cut."""
    families = set()
    pkg = Path(__file__).resolve().parents[1] / "marketstream_etl_spark"
    for py in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(py.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None))
                == "memo"
            ):
                name = node.args[0]
                if isinstance(name, ast.JoinedStr):
                    name = name.values[0]
                families.add(name.value.split("[")[0])
    return families


def test_no_query_evicts_a_generation(spark, sf_dir):
    """A memo hit re-persists a frame that a caller unpersisted, so such an
    eviction costs a rebuild, never a failure: check the registry itself
    after every query."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    cachegen.clear()
    for name in ONE_QUERY_PER_FAMILY:
        _force(queries[name](spark, sf_dir))
        dropped = [
            family
            for family, gens in cachegen._GENERATIONS.items()
            for value, _, _ in gens.values()
            for f in cachegen._frames(value)
            if not (f.storageLevel.useMemory or f.storageLevel.useDisk)
        ]
        assert dropped == [], f"{name} unpersisted a generation of {dropped}"
    seen = {
        family.split("[")[0]
        for family, gens in cachegen._GENERATIONS.items()
        if gens
    }
    assert seen == _memo_families()
    cachegen.clear()
