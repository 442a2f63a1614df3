"""Physical-plan property tests — the 100 TB posture, asserted.

These parse `.explain("formatted")` output and fail if a regression
reintroduces a scale hazard: a filter that stops pushing down to parquet, a
dimension join that stops broadcasting, an extra shuffle in the indicator
plan, or a Python UDF sneaking into a hot path.  The plan manifest test
covers every batch query's node counts (tools/gen_plan_manifest.py).
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
from contextlib import redirect_stdout

import __spark_entry__ as entrymod
from marketstream_etl_spark.plans import advanced, analytics, tpch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import gen_plan_manifest  # noqa: E402


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_push_down_to_parquet(spark, sf_dir):
    plan = plan_of(tpch.q6_revenue_forecast(spark, sf_dir))
    assert "PushedFilters: [" in plan
    # at least the range predicates reach the scan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # and the scan does not read unused columns
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q3_broadcasts_dimension_and_prunes_columns(spark, sf_dir):
    plan = plan_of(tpch.q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # top-k compiles to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = plan_of(tpch.q5_local_supplier_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # cust/supp/nation/region


def test_indicators_limit_the_tail_map_side(spark, sf_dir):
    plan = plan_of(analytics.q_indicators(spark, sf_dir))
    # two hash exchanges on symbol, the sums' and the tail's; each map
    # task keeps at most period + 1 tail rows per symbol before its
    # exchange (Partial), and the reducer limits again (Final)
    hash_exchanges = plan.count("hashpartitioning(symbol")
    assert hash_exchanges == 2, f"expected 2 symbol shuffles, plan:\n{plan}"
    for mode in ("Partial", "Final"):
        assert f"row_number(), 6, {mode}" in plan, plan


def test_validation_is_shuffle_free(spark, sf_dir):
    plan = plan_of(analytics.q_validate_split(spark, sf_dir))
    assert "Exchange" not in plan  # pure map-side when-ladder
    assert "BatchEvalPython" not in plan  # no Python UDFs


def test_no_python_udf_in_reference_surface(spark, sf_dir):
    """Every reference-parity operator stays JVM-side (SURVEY §2.9)."""
    for q in (
        analytics.q_indicators,
        analytics.q_symbol_leaderboard,
        analytics.q_rsi_signals,
        advanced.q_rolling_indicators,
        advanced.q_sessionization,
        tpch.q1_pricing_summary,
    ):
        plan = plan_of(q(spark, sf_dir))
        assert "BatchEvalPython" not in plan, q.__name__
        assert "ArrowEvalPython" not in plan, q.__name__


def test_sessionization_shares_one_user_shuffle(spark, sf_dir):
    plan = plan_of(advanced.q_sessionization(spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") <= 2  # window + reagg


def test_q19_or_predicate_stays_equijoin(spark, sf_dir):
    """Catalyst extracts the common l_partkey = p_partkey conjunct from the
    OR-of-ANDs, so Q19 compiles to a broadcast hash join — a nested-loop
    join here would be fatal at 100 TB."""
    plan = plan_of(tpch.q19_disjunctive_predicates(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q7_q8_dims_all_broadcast(spark, sf_dir):
    assert plan_of(tpch.q7_volume_shipping(spark, sf_dir)).count(
        "BroadcastHashJoin"
    ) >= 4
    assert plan_of(tpch.q8_market_share(spark, sf_dir)).count(
        "BroadcastHashJoin"
    ) >= 6


def test_q13_keeps_zero_order_customers(spark, sf_dir):
    from pyspark.sql import functions as F

    dist = tpch.q13_order_count_distribution(spark, sf_dir)
    total = dist.agg(F.sum("custdist")).collect()[0][0]
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert total == n_cust  # LEFT OUTER: every customer appears exactly once


def test_q15_max_revenue_join_broadcasts(spark, sf_dir):
    plan = plan_of(tpch.q15_top_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_window_analytics_single_user_shuffle(spark, sf_dir):
    plan = plan_of(advanced.q_window_analytics(spark, sf_dir))
    # rank/dense_rank/ntile/lead/lag share one window spec → one exchange
    # on user_id (plus the final presentation sort)
    assert plan.count("hashpartitioning(user_id") <= 2


def test_cube_expands_grouping_sets(spark, sf_dir):
    plan = plan_of(advanced.q_cube_events(spark, sf_dir))
    assert "Expand" in plan  # 4 grouping sets in one pass, no re-scan
    assert "BatchEvalPython" not in plan


def test_q2_q16_broadcast_no_cartesian(spark, sf_dir):
    for q in (tpch.q2_min_cost_supplier, tpch.q16_supplier_count,
              tpch.q11_important_stock, tpch.q20_heavy_shippers):
        plan = plan_of(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastHashJoin" in plan, q.__name__


def test_q21_two_shuffles_only(spark, sf_dir):
    """The decorrelated Q21 must not explode into per-exists joins: one
    fact-fact shuffle + one per-order aggregation shuffle."""
    plan = plan_of(tpch.q21_waiting_suppliers(spark, sf_dir))
    assert plan.count("hashpartitioning(l_orderkey") <= 2
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    """The band join must broadcast the interval side — no shuffle of the
    fact table for an interval-membership lookup."""
    plan = plan_of(advanced.q_range_join_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[0]


def test_pii_redaction_is_map_only(spark, sf_dir):
    """Regex scrub must fuse into the scan: no shuffle, no Python."""
    from marketstream_etl_spark.operators.text import inject_pii, redact_pii
    from marketstream_etl_spark.sources.tables import load_table

    plan = plan_of(redact_pii(inject_pii(load_table(spark, sf_dir, "documents"))))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_repetition_is_map_only(spark, sf_dir):
    from pyspark.sql import functions as F

    from marketstream_etl_spark.functions.hashing import tokens
    from marketstream_etl_spark.operators.text import repetition_ratio
    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(
        docs.select("doc_id", tokens(F.col("text")).alias("t")).select(
            "doc_id", repetition_ratio("t").alias("r")
        )
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_cms_sketch_single_bounded_shuffle(spark, sf_dir):
    """The sketch build is one hash aggregate whose exchange carries at
    most depth*width rows (map-side partials combine per cell)."""
    from pyspark.sql import functions as F

    from marketstream_etl_spark.functions.hashing import h32, tokens
    from marketstream_etl_spark.operators.sketch import CMS_DEPTH, CMS_WIDTH
    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        (
                            h32(F.concat(F.lit(f"cms{r}|"), F.col("tok")))
                            % CMS_WIDTH
                        ).alias("bucket"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("c")
    )
    sketch = cells.groupBy("c.row", "c.bucket").agg(F.count("*").alias("cnt"))
    plan = plan_of(sketch)
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # partial aggregation both sides of the exchange (map-side combine)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 2
    assert sketch.count() <= CMS_DEPTH * CMS_WIDTH


def test_ann_lsh_broadcasts_queries_no_cartesian(spark, sf_dir):
    """LSH candidate generation must be a BROADCAST equi-join on the band
    keys (query side is tiny), never a cartesian/sort-merge over the
    corpus, and the signature pass must not shuffle the corpus."""
    from marketstream_etl_spark.plans.training_data import q_ann_lsh

    plan = plan_of(q_ann_lsh(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tokenize_ids_encode_is_map_only(spark, sf_dir):
    """The encode pass applies the vocab as a map literal: apart from the
    deterministic output sort, the per-document plan must contain no
    joins at all (vocab enters as bytes, not a relation)."""
    from marketstream_etl_spark.plans.training_data import q_tokenize_ids

    plan = plan_of(q_tokenize_ids(spark, sf_dir))
    assert "Join" not in plan
    # r13: the presentational output sort is gone too — the encode pass
    # is now fully exchange-free (no hash shuffle, no range partitioning)
    assert "hashpartitioning" not in plan
    assert plan.count("rangepartitioning") == 0


def test_kmeans_assignment_no_join_no_udf(spark, sf_dir):
    """Assignment scores against centroid LITERALS — the plan must be
    join-free and UDF-free; the only exchanges are the groupBy(cid)
    partial-agg pair plus the bounded output sort."""
    from marketstream_etl_spark.operators.similarity import (
        _assign,
        _dvec,
        kmeans_fit,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(emb, iters=1)
    base = emb.select("vec_id", _dvec(F.col("embedding")).alias("v"))
    plan = plan_of(_assign(base, cents))
    assert "Join" not in plan
    assert "Exchange" not in plan  # pure map-side projection
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- r6 plan properties -----------------------------------------------------


def test_token_drift_stays_window_shaped(spark, sf_dir):
    """The chi2 core must keep the window-sum shape (the join-back form
    re-scanned the corpus six times: 52 Exchange nodes in the first cut).
    Bound the exchanges and the parquet scans."""
    from marketstream_etl_spark.plans import training_data

    plan = plan_of(training_data.q_token_drift(spark, sf_dir))
    assert plan.count("Exchange") <= 20, plan.count("Exchange")
    assert plan.count("Scan parquet") <= 4
    assert "BatchEvalPython" not in plan


def test_vwap_deviation_single_symbol_window(spark, sf_dir):
    from marketstream_etl_spark.plans import analytics as _an

    plan = plan_of(_an.q_vwap_deviation(spark, sf_dir))
    # one hash exchange feeds the per-symbol cumulative window + agg
    assert plan.count("hashpartitioning(symbol") <= 2
    assert "BatchEvalPython" not in plan


def test_symbol_affinity_no_cartesian_product(spark, sf_dir):
    from marketstream_etl_spark.plans import analytics as _an

    plan = plan_of(_an.q_symbol_affinity(spark, sf_dir))
    # the account self-join must be an equi-join; the only nested-loop
    # join allowed is the 1-row broadcast total
    assert "CartesianProduct" not in plan
    # tree lines only (the formatted detail section repeats node names)
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_contamination_single_corpus_aggregation(spark, sf_dir):
    """The single-pass shape: one groupBy(doc_id) aggregation over the
    corpus side (the r5 form had two plus an extra join)."""
    from marketstream_etl_spark.plans import training_data

    plan = plan_of(training_data.q_contamination(spark, sf_dir))
    assert plan.count("hashpartitioning(doc_id") <= 1, plan.count(
        "hashpartitioning(doc_id"
    )


def test_tpch_no_forced_broadcast_of_scaling_tables():
    """Source-level guard for the r6 policy: no F.broadcast() hint on
    customer/supplier/part (or frames derived from them) in the TPC-H
    plans — AQE/threshold decides.  nation/region and 1-row aggregate
    scalars may keep hints."""
    import re

    src = open(
        os.path.join(ROOT, "marketstream_etl_spark", "plans", "tpch.py")
    ).read()
    hinted = re.findall(r"F\.broadcast\((\w+)\)", src)
    allowed = {
        "nation", "region", "n1", "n2", "cnat", "snat",
        "max_rev", "avg_bal", "total",
    }
    assert set(hinted) <= allowed, sorted(set(hinted) - allowed)


# ---------------------------------------------------------- late-r6 ops
def test_hll_single_distinct_pass(spark, sf_dir):
    """The (source, shingle) distinct frame is lineage-truncated: the
    registers and both exact audits must NOT re-run the docs join
    upstream (17 parquet scans in the first cut, 0 after)."""
    from marketstream_etl_spark.plans import training_data

    plan = plan_of(training_data.q_hll_cardinality(spark, sf_dir))
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "BatchEvalPython" not in plan


def test_bloom_filter_side_broadcasts(spark, sf_dir):
    """The distinct-bit-positions filter (<= m rows) joins broadcast; the
    corpus-side verdict joins must not go nested-loop."""
    from marketstream_etl_spark.plans import training_data

    plan = plan_of(training_data.q_bloom_contamination(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnowing_fingerprints_computed_once(spark, sf_dir):
    """Four consumers of the fingerprint frame share ONE materialization
    (r7: the generation-cached persisted index replaced the per-call
    localCheckpoint — winnowing_pairs re-paid the full posexplode +
    window upstream every call, ~5 s of its 6.9 s at sf0.1).  Every
    fingerprint consumption must come from InMemoryTableScan, and the
    cached build's window upstream must appear exactly once."""
    from marketstream_etl_spark.operators.winnow import winnow_fps_cached
    from marketstream_etl_spark.plans import training_data
    from marketstream_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # materialize the cache so the query plan reads the persisted index
    winnow_fps_cached(docs).write.format("noop").mode("overwrite").save()
    # Python-level memoization: every consumer gets the SAME persisted
    # frame (the compute-once guarantee; lifecycle covered in
    # test_cache_lifecycle)
    assert winnow_fps_cached(docs) is winnow_fps_cached(docs)
    plan = plan_of(training_data.q_winnowing_pairs(spark, sf_dir))
    # all four fingerprint consumers read the persisted index (explain
    # reprints the cached build under each scan, so Window counts are
    # not meaningful here — the scans are)
    assert plan.count("InMemoryTableScan") >= 4


def test_semantic_dedup_assignment_once_no_cartesian(spark, sf_dir):
    """The NxC assignment runs once (checkpointed) and the within-bucket
    self-join is an equi-join on the bucket key."""
    from marketstream_etl_spark.plans import training_data

    plan = plan_of(training_data.q_semantic_dedup(spark, sf_dir))
    assert plan.count("Scan parquet") == 0
    assert "CartesianProduct" not in plan


def test_hdr_no_global_window_bounded_probe(spark, sf_dir):
    """Prefix sums run as the bounded triangular join, never an
    unpartitioned global window; the only nested-loop joins are the
    bounded bucket-grid probes (sketch rows x 4 quantiles and the
    broadcast audit), never corpus x corpus."""
    from marketstream_etl_spark.plans import advanced as _adv

    plan = plan_of(_adv.q_hdr_quantiles(spark, sf_dir))
    assert plan.count("Window") == 0
    assert "CartesianProduct" not in plan
    # per-row work is one projected bid column; lo/hi CASE towers must
    # not appear before the aggregate (they reference 'cnt', which only
    # exists post-agg — structural guarantee, checked cheaply here via
    # the single input-side exchange)
    assert plan.count("hashpartitioning(bid") <= 1


def test_streaming_hdr_equals_batch(spark, sf_dir):
    from marketstream_etl_spark.operators.sketch import (
        hdr_quantiles,
        streaming_hdr_quantiles,
    )
    from marketstream_etl_spark.sources.tables import load_table

    batch = sorted(
        map(tuple, hdr_quantiles(load_table(spark, sf_dir, "lineitem")).collect())
    )
    streamed = sorted(
        map(tuple, streaming_hdr_quantiles(spark, sf_dir).collect())
    )
    assert streamed == batch


def test_bollinger_breach_matches_float_recompute(spark, sf_dir):
    """The exact-integer ±2σ breach test agrees with a float recompute of
    the same windows (away from knife-edge ties, which sf0.001 has none
    of), and %B sits outside [0,1] exactly on breach bars."""
    import math

    from marketstream_etl_spark.plans import analytics as _an

    closes = _an._minute_closes(spark, sf_dir).collect()
    by_sym = {}
    for r in sorted(closes, key=lambda r: (r.symbol, r.bar)):
        by_sym.setdefault(r.symbol, []).append(
            int(math.floor(r.close * 100 + 0.5))
        )
    n = _an.BOLL_N
    expect = {}
    for sym, cs in by_sym.items():
        up = down = n_eval = 0
        for i in range(n - 1, len(cs)):
            win = cs[i - n + 1 : i + 1]
            mu = sum(win) / n
            var = (n * sum(x * x for x in win) - sum(win) ** 2) / (
                n * (n - 1)
            )
            sd = math.sqrt(var)
            n_eval += 1
            if cs[i] > mu + 2 * sd:
                up += 1
            elif cs[i] < mu - 2 * sd:
                down += 1
        expect[sym] = (n_eval, up, down)
    got = {
        r.symbol: (r.n_eval, r.breach_above, r.breach_below)
        for r in _an.q_bollinger_breaches(spark, sf_dir).collect()
    }
    assert got == expect


def test_bollinger_single_shuffle_per_symbol(spark, sf_dir):
    """All three window sums ride ONE hashpartitioning(symbol) pass."""
    from marketstream_etl_spark.plans import analytics as _an

    plan = plan_of(_an.q_bollinger_breaches(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(symbol") <= 2  # window + final agg


def test_kfold_cells_partition_and_balance(spark, sf_dir):
    """Folds are 0..4, shares sum to 1 per lang, cell counts sum to the
    corpus size, and the assignment matches a Python md5 recompute."""
    import hashlib

    from marketstream_etl_spark.plans import training_data as td
    from marketstream_etl_spark.sources.tables import load_table

    rows = td.q_kfold_assign(spark, sf_dir).collect()
    assert {r.fold for r in rows} <= set(range(5))
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, cells in by_lang.items():
        assert abs(sum(c.share for c in cells) - 1.0) < 1e-4
        assert all(c.lang_total == sum(x.n_docs for x in cells) for c in cells)
    n_total = sum(r.n_docs for r in rows)
    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    assert n_total == len(docs)
    # spot-check the hash contract on one doc
    did = docs[0].doc_id
    expect_fold = int(hashlib.md5(str(did).encode()).hexdigest()[:8], 16) % 5
    got = {
        r.fold
        for r in rows
        if r.n_docs > 0  # fold exists; recompute membership directly
    }
    assert expect_fold in got


def test_manifest_flags_a_distinct_aggregate_beside_a_sketch():
    """The smell key matches approx_aggs' former one-aggregate plan line,
    and not the same line without its DISTINCT."""
    line = (
        "+- ObjectHashAggregate(keys=[], functions=[approx_count_distinct("
        "l_partkey#1L, 0.01, 0, 0), percentile(l_extendedprice#5, 0.5, 1, 0, "
        "0, false), count(distinct l_partkey#1L)], output=[exact_parts#12L])"
    )
    smell = gen_plan_manifest.DISTINCT_BESIDE_SKETCH
    assert gen_plan_manifest.node_counts(line) == {smell: 1}
    assert gen_plan_manifest.node_counts(line.replace("(distinct ", "(")) == {}


def test_manifest_entry_does_not_depend_on_build_order(spark):
    """An entry's counts are the same built alone and built after a query
    that materializes the generation caches it reads."""
    queries = entrymod.queries()
    alone = gen_plan_manifest.entry_counts(spark, queries["dedup_minhash_lsh"])
    gen_plan_manifest.entry_counts(spark, queries["dedup_clusters"])
    after = gen_plan_manifest.entry_counts(spark, queries["dedup_minhash_lsh"])
    assert after == alone


def test_committed_plan_manifest_is_current(tmp_path):
    """plans/manifest.json equals a fresh build, covers every batch query,
    and records no CartesianProduct, unpartitioned Window, collapsed
    Generate or DISTINCT aggregate beside a sketch."""
    # A fresh interpreter at the repo root: Python workers import the
    # package from there, and the session is the generator's pinned one.
    out = tmp_path / "manifest.json"
    build = (
        "import sys; sys.path.insert(0, 'tools'); import gen_plan_manifest as g; "
        f"open({str(out)!r}, 'w').write(g.render())"
    )
    proc = subprocess.run(
        [sys.executable, "-c", build],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    built = json.loads(out.read_text())
    batch = {n for n in entrymod.queries() if gen_plan_manifest.is_batch(n)}
    assert set(built) == batch
    smells = [
        f"{name}: {key} {counts[key]}"
        for name, counts in built.items()
        for key in gen_plan_manifest.SMELLS
        if key in counts
    ]
    assert not smells, "plan smells:\n" + "\n".join(smells)

    with open(gen_plan_manifest.MANIFEST) as f:
        committed_text = f.read()
    committed = json.loads(committed_text)
    diffs = []
    for name in sorted(set(committed) | set(built)):
        old, new = committed.get(name), built.get(name)
        if old is None or new is None:
            diffs.append(f"{name}: {'added' if old is None else 'removed'}")
            continue
        for key in sorted(set(old) | set(new)):
            if old.get(key, 0) != new.get(key, 0):
                diffs.append(f"{name}: {key} {old.get(key, 0)} → {new.get(key, 0)}")
    assert not diffs and committed_text == out.read_text(), (
        "plans/manifest.json is stale; run python tools/gen_plan_manifest.py\n"
        + "\n".join(diffs)
    )
