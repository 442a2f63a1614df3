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


def _run(code: str, cwd: str) -> str:
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=cwd,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout


def test_query_order_does_not_depend_on_import_order():
    # importing a registering module first registers its queries first;
    # queries() lists them by MODULES all the same
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    listing = (
        f"import sys; sys.path.insert(0, {root!r}); {{}}"
        "import __spark_entry__ as e; print(list(e.queries()))"
    )
    clean = _run(listing.format(""), root)
    ticks_first = "import marketstream_etl_spark.streaming.ticks; "
    assert _run(listing.format(ticks_first), root) == clean
    assert clean.strip() == str(list(entrymod.queries()))


def test_workers_import_the_package_from_any_cwd(tmp_path):
    # the Python workers start in the process cwd, which need not hold
    # the package; get_spark hands them this checkout's root
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    where = f"""
import sys
sys.path.insert(0, {root!r})
from marketstream_etl_spark.session import get_spark

def where(batches):
    import pandas as pd

    import marketstream_etl_spark
    for b in batches:
        yield pd.DataFrame({{"path": [marketstream_etl_spark.__file__] * len(b)}})

spark = get_spark("worker-path", master="local[1]")
print(spark.range(1).mapInPandas(where, "path string").first().path)
"""
    out = _run(where, str(tmp_path)).strip().splitlines()[-1]
    assert out == os.path.join(root, "marketstream_etl_spark", "__init__.py")


def test_vanilla_oracle_check_imports_the_package_from_any_cwd(tmp_path):
    # --vanilla's plain session does not get get_spark's worker path;
    # ann_ivf_trained_recall's Python workers start in tmp_path and
    # unpickle functions of the package
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    done = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
         "--vanilla", "ann_ivf_trained_recall"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stdout[-2000:] + done.stderr[-2000:]
    assert "PASS ann_ivf_trained_recall" in done.stdout


def test_committed_query_index_is_current():
    # Rendered in a fresh interpreter, as the driver imports the entry
    # module.
    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    render = (
        "import sys; sys.path.insert(0, 'tools'); "
        "import gen_query_index as g; sys.stdout.write(g.render())"
    )
    rendered = _run(render, root)
    with open(os.path.join(root, "docs", "QUERY_INDEX.md")) as f:
        committed = f.read()
    assert committed == rendered, (
        "docs/QUERY_INDEX.md is stale; run python tools/gen_query_index.py"
    )


def test_queries_run_on_sf0001(spark, sf_dir):
    for name, fn in entrymod.queries().items():
        df = fn(spark, sf_dir)
        assert df.count() >= 0, name
