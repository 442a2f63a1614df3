"""Smoke tests for the driver contract (__spark_entry__)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
from marketstream_etl_spark import registry


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"symbol", "sma", "rsi", "vwap", "period"}
    for r in rows:
        assert 0.0 <= r["rsi"] <= 100.0
        assert r["vwap"] > 0


def test_every_query_has_matching_oracle_or_is_marked():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) == set(qs)


def test_gate_holds_the_first_50_queries():
    assert len(entrymod.GATE) == 50
    assert tuple(entrymod.queries())[:50] == entrymod.GATE


def test_register_returns_fn_and_rejects_a_duplicate_name(monkeypatch):
    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "ORACLES", {})

    def q(spark, sf_dir):
        return None

    assert registry.register("q", q, "SELECT 1") is q
    with pytest.raises(ValueError, match="already registered"):
        registry.register("q", q, "SELECT 2")
    assert registry.ORACLES == {"q": "SELECT 1"}


def test_committed_query_index_is_current():
    # Rendered in a fresh interpreter, as the driver imports the entry
    # module: past GATE, queries() follows registration order, and that
    # depends on which modules this process imported first.
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    render = (
        "import sys; sys.path.insert(0, 'tools'); "
        "import gen_query_index as g; sys.stdout.write(g.render())"
    )
    rendered = subprocess.run(
        [sys.executable, "-c", render],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    with open(os.path.join(root, "docs", "QUERY_INDEX.md")) as f:
        committed = f.read()
    assert committed == rendered, (
        "docs/QUERY_INDEX.md is stale; run python tools/gen_query_index.py"
    )


def test_queries_run_on_sf0001(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
