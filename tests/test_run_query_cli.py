"""tools/run_query.py argument handling (r10 ADVICE fixes): bad --limit
values must produce a friendly usage error (exit 2) BEFORE any Spark
session is built, and the single-materialization contract is locked by
reading the source (no .count() after .show()).  check_oracle.py rejects
an unknown query name the same way."""

from __future__ import annotations

import pathlib
import sys


def _main_rc(argv):
    import tools.run_query as rq

    old = sys.argv
    sys.argv = ["run_query.py", *argv]
    try:
        return rq.main()
    finally:
        sys.argv = old


def test_limit_missing_value_is_usage_error(capsys):
    assert _main_rc(["symbol_leaderboard", "--limit"]) == 2
    assert "usage" in capsys.readouterr().out


def test_limit_non_numeric_is_usage_error(capsys):
    assert _main_rc(["symbol_leaderboard", "--limit", "abc"]) == 2
    assert "usage" in capsys.readouterr().out


def test_limit_negative_is_usage_error(capsys):
    assert _main_rc(["symbol_leaderboard", "--limit", "-3"]) == 2
    assert "usage" in capsys.readouterr().out


def test_limit_double_dash_is_usage_error(capsys):
    # r10 ADVICE: "--5" passed the old lstrip("-").isdigit() check, then
    # int("--5") raised an uncaught ValueError instead of exit 2
    assert _main_rc(["symbol_leaderboard", "--limit", "--5"]) == 2
    assert "usage" in capsys.readouterr().out


def test_limit_plus_and_float_are_usage_errors(capsys):
    assert _main_rc(["symbol_leaderboard", "--limit", "+4"]) == 2
    assert _main_rc(["symbol_leaderboard", "--limit", "1e3"]) == 2


def test_unknown_query_suggests_close_names(capsys):
    assert _main_rc(["symbol_leaderboar"]) == 2
    out = capsys.readouterr().out
    assert "unknown query" in out and "symbol_leaderboard" in out


def test_check_oracle_rejects_an_unknown_query(capsys, monkeypatch):
    import tools.check_oracle as co

    monkeypatch.setattr(sys, "argv", ["check_oracle.py", "symbol_leaderboar"])
    assert co.main() == 2
    assert "unknown queries: ['symbol_leaderboar']" in capsys.readouterr().out


def test_no_recount_after_show():
    root = pathlib.Path(__file__).resolve().parents[1]
    src = (root / "tools" / "run_query.py").read_text()
    # the single-materialization contract: no bare df.count() in the
    # display path (it would re-execute the whole query after show)
    assert "df.count()" not in src
