"""Self-tests of the benchmark's own rules; none of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from perfbench import inputs, stats
from perfbench.trace import progress_layers, union_length


# --- percentiles and the sample-count rule ---------------------------------


def test_percentile_matches_numpy_linear():
    rng = random.Random(3)
    for n in (1, 2, 3, 10, 101):
        xs = [rng.uniform(0, 100) for _ in range(n)]
        for q in (0, 50, 90, 99, 100):
            assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, tail", [
    (0, None), (19, None), (20, 50.0), (21, 52.0), (50, 80.0),
    (100, 90.0), (10_000, 90.0),
])
def test_supported_tail_leaves_ten_samples_beyond(n, tail):
    assert stats.supported_tail(n) == tail
    if tail is not None:
        assert n * (100 - tail) / 100 >= stats.TAIL_SAMPLES_BEYOND


# --- input cache -----------------------------------------------------------


def _build_lines(out: Path, seed: int, rows: int) -> dict:
    (out / "data.txt").write_text("".join(f"{seed}-{i}\n" for i in range(rows)))
    return {"rows": rows}


def _count_lines(entry: Path) -> int:
    return len((entry / "data.txt").read_text().splitlines())


def test_cache_key_changes_with_every_input():
    base = inputs.cache_key("trades", 1, 100, salt="a")
    assert inputs.cache_key("trades", 1, 100, salt="a") == base
    for other in (
        inputs.cache_key("frames", 1, 100, salt="a"),
        inputs.cache_key("trades", 2, 100, salt="a"),
        inputs.cache_key("trades", 1, 101, salt="a"),
        inputs.cache_key("trades", 1, 100, salt="b"),
    ):
        assert other != base


def test_cache_reuses_a_complete_entry(tmp_path):
    cache = inputs.InputCache(tmp_path)
    e1, meta, reused = cache.get("k", 5, 10, _build_lines, _count_lines, salt="s")
    assert not reused and meta == {"rows": 10}
    e2, _, reused = cache.get("k", 5, 10, _build_lines, _count_lines, salt="s")
    assert reused and e2 == e1


def test_cache_rebuilds_when_the_generator_changes(tmp_path):
    cache = inputs.InputCache(tmp_path)
    e1, _, _ = cache.get("k", 5, 10, _build_lines, _count_lines, salt="old")
    e2, _, reused = cache.get("k", 5, 10, _build_lines, _count_lines, salt="new")
    assert not reused and e2 != e1


def test_cache_rebuilds_a_truncated_entry(tmp_path):
    cache = inputs.InputCache(tmp_path)
    entry, _, _ = cache.get("k", 5, 10, _build_lines, _count_lines, salt="s")
    (entry / "data.txt").write_text("5-0\n")
    entry2, _, reused = cache.get("k", 5, 10, _build_lines, _count_lines, salt="s")
    assert not reused and entry2 == entry
    assert _count_lines(entry2) == 10


def _build_wrong(out: Path, seed: int, rows: int) -> dict:
    _build_lines(out, seed, rows - 1)
    return {"rows": rows}


def test_cache_never_keeps_a_bad_build(tmp_path):
    cache = inputs.InputCache(tmp_path)
    with pytest.raises(RuntimeError):
        cache.get("k", 5, 10, _build_wrong, _count_lines, salt="s")
    assert list(tmp_path.iterdir()) == []


def test_trade_inputs_inject_exact_rejects(tmp_path):
    meta = inputs.build_trades(tmp_path, seed=3, rows=6000, n_files=2)
    assert meta["n_rejected"] == 120
    assert sum(meta["rejects_by_rule"].values()) == 120
    assert set(meta["rejects_by_rule"]) == set(inputs.RULES)
    assert inputs.count_csv_rows(tmp_path) == 6000
    again = tmp_path / "again"
    again.mkdir()
    assert inputs.build_trades(again, seed=3, rows=6000, n_files=2) == meta


def test_frame_inputs_count_good_ticks(tmp_path):
    meta = inputs.build_frames(tmp_path, seed=4, rows=5000, rows_per_file=1000)
    good = sum(n for n, _ in meta["symbol_counts"].values())
    assert good + meta["n_corrupt"] + meta["n_filtered"] == 5000
    assert meta["file_rows"] == [1000] * 5
    assert inputs.count_frame_rows(tmp_path) == 5000
    json.dumps(meta)


# --- trace arithmetic ------------------------------------------------------


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_progress_layers_skip_empty_triggers():
    def trigger(rows, add_batch, state_rows):
        return {
            "numInputRows": rows,
            "durationMs": {"addBatch": add_batch, "walCommit": 10},
            "stateOperators": [{"numRowsTotal": state_rows,
                                "memoryUsedBytes": 100, "commitTimeMs": 4}],
        }

    out = progress_layers([trigger(100, 50, 3), trigger(300, 150, 5), trigger(0, 1, 5)])
    assert out["streaming.triggers"] == 2
    assert out["streaming.rows_per_trigger"] == 200
    assert out["streaming.add_batch_ms"] == 100
    assert out["streaming.wal_commit_ms"] == 10
    assert out["streaming.state_rows"] == 5
    assert out["streaming.state_commit_ms"] == 4


# --- process clean-up -----------------------------------------------------


def test_reap_children_waits_for_an_orphaned_grandchild():
    """A process whose parent ended is still stopped and waited for."""
    from perfbench import run

    code = (
        "import subprocess\n"
        "from perfbench import run\n"
        "run.become_subreaper()\n"
        "sh = subprocess.Popen(['sh', '-c', 'sleep 60 & echo $!'],"
        " stdout=subprocess.PIPE, text=True)\n"
        "orphan = int(sh.stdout.readline())\n"
        "sh.wait()\n"
        "run.reap_children(grace=2.0)\n"
        "print(orphan)\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=run.ROOT,
                         capture_output=True, text=True, timeout=60, check=True)
    assert not Path(f"/proc/{int(out.stdout.split()[-1])}").exists()


# --- BENCHMARK.json --------------------------------------------------------


def test_benchmark_json_names_what_the_runner_prints():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(run.ROOT) / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
