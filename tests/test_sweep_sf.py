"""tools/sweep_sf.py, the decade tool: its verdicts, run counts, row
counts and exit code, run in-process at sf0.001 against stand-in
registries."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
import tools.sweep_sf as sweep
from marketstream_etl_spark.streaming.ticks import EmitterCapExceeded

SF = "/root/testdata/sf0.001"


def _sweep(monkeypatch, spark, qs, *argv):
    monkeypatch.setattr(entrymod, "queries", lambda: qs)
    monkeypatch.setattr(sweep, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(sys, "argv", ["sweep_sf.py", *argv])
    return sweep.main()


def _row(out, name):
    return next(line for line in out.splitlines() if line.startswith(name + " "))


def test_a_raising_query_fails_the_sweep(monkeypatch, spark, capsys):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    qs = {"fine": lambda s, d: s.range(3), "boom": boom}
    assert _sweep(monkeypatch, spark, qs, SF) == 1
    out = capsys.readouterr().out
    assert "FAIL RuntimeError: boom" in _row(out, "boom")
    assert "FAIL" not in _row(out, "fine")
    assert "sweep done: 1/2 ok, 0 skipped [], 1 failed ['boom']" in out


def test_an_emitter_cap_is_a_skip_not_a_failure(monkeypatch, spark, capsys):
    def capped(spark, sf_dir):
        raise EmitterCapExceeded("past the cap")

    assert _sweep(monkeypatch, spark, {"capped": capped}, SF) == 0
    out = capsys.readouterr().out
    assert "SKIP past the cap" in _row(out, "capped")
    assert "sweep done: 0/1 ok, 1 skipped ['capped'], 0 failed []" in out


def test_a_failing_unaggregated_column_fails(monkeypatch, spark, capsys):
    @F.udf("long")
    def broken(x):
        raise ValueError("bad column")

    def q(spark, sf_dir):
        return spark.range(3).select("id", broken("id").alias("bad"))

    # count() prunes the column nothing consumes and reads the query as fine
    assert q(spark, SF).count() == 3
    assert _sweep(monkeypatch, spark, {"q": q}, SF) == 1
    assert "FAIL PythonException" in _row(capsys.readouterr().out, "q")


def test_rows_equal_count_for_a_real_query(monkeypatch, spark, capsys):
    fn = entrymod.queries()["indicators"]
    assert _sweep(monkeypatch, spark, {"indicators": fn}, SF) == 0
    _, _, rows = _row(capsys.readouterr().out, "indicators").split()
    assert int(rows) == fn(spark, SF).count()


def test_named_ops_run_best_of_three_with_ratio_cells(
    monkeypatch, spark, capsys
):
    calls = []

    def q(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(2)

    assert _sweep(monkeypatch, spark, {"q": q}, "--ops", "q", SF, SF) == 0
    assert calls == [SF] * 6
    cells = _row(capsys.readouterr().out, "q").split()
    assert cells[2] == cells[4] == "2" and cells[5].startswith("x")
    calls.clear()
    assert _sweep(monkeypatch, spark, {"q": q}, SF) == 0
    assert calls == [SF]


def test_an_unknown_op_exits_2_before_any_run(monkeypatch, capsys):
    assert _sweep(monkeypatch, None, {}, "--ops", "typo", SF) == 2
    assert "unknown queries: ['typo']" in capsys.readouterr().out
