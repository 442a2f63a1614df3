"""Interleaved A/B runs of one benchmark workload: a parent commit against
this checkout.

    python tools/ab.py PARENT_REF WORKLOAD [PAIRS] [SEED]

Checks PARENT_REF out with ``git worktree add --detach`` under a temporary
directory, then runs ``perfbench/run.py --workload WORKLOAD`` PAIRS times
(default 10) in each checkout, alternating which side runs first.  Pair i
uses seed SEED + i (default SEED 1) and the run length ``BENCHMARK.json``
fixes, the same on both sides.  Each checkout builds what it runs from its
own files and caches its inputs under its own ``.perfbench/``.

For every end-to-end metric in ``BENCHMARK.json`` it prints each pair, each
side's median and quartiles, and the pairs the change won.  A gain holds
when the change wins at least nine tenths of the pairs and the medians
differ by more than the parent's interquartile range; a regression when
the change's median is worse than the parent's by more than the metric's
relative bound.  The worktree is removed on the way out.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import percentile  # noqa: E402

WIN_SHARE = 0.9


def run_bench(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run in `checkout`; its final JSON line's metrics, or
    an empty dict when the run failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  run failed in {checkout} (exit {proc.returncode}):\n"
              f"{proc.stderr[-2000:]}", file=sys.stderr)
        return {}
    if out["failed"]:
        print(f"  {out['failed']} of {out['attempted']} operations failed "
              f"in {checkout}", file=sys.stderr)
    return {k: v["value"] for k, v in out["metrics"].items()}


def summarize(name: str, better: str, bound: float, pairs: list[tuple]) -> None:
    done = [(p, c) for p, c in pairs if p is not None and c is not None]
    if not done:
        print(f"{name}: no complete pair")
        return
    parent = [p for p, _ in done]
    change = [c for _, c in done]
    sign = 1 if better == "lower" else -1
    wins = sum(sign * (p - c) > 0 for p, c in done)
    p_med, c_med = percentile(parent, 50), percentile(change, 50)
    p_iqr = percentile(parent, 75) - percentile(parent, 25)
    print(f"{name} ({better} is better), {len(done)} pairs")
    for label, xs in (("parent", parent), ("change", change)):
        print(f"  {label}: median {percentile(xs, 50):.4f}, quartiles "
              f"{percentile(xs, 25):.4f}-{percentile(xs, 75):.4f}")
    gain = wins >= WIN_SHARE * len(done) and sign * (p_med - c_med) > p_iqr
    worse = sign * (c_med - p_med) > bound * abs(p_med)
    print(f"  change won {wins}/{len(done)}; median gap {c_med - p_med:+.4f} "
          f"vs parent IQR {p_iqr:.4f}; gain {'holds' if gain else 'not shown'}; "
          f"{'REGRESSION' if worse else 'within'} the {bound} bound")


def main(argv: list[str]) -> int:
    if not 2 <= len(argv) <= 4:
        print(__doc__, file=sys.stderr)
        return 2
    parent_ref, workload = argv[0], argv[1]
    n_pairs = int(argv[2]) if len(argv) > 2 else 10
    first_seed = int(argv[3]) if len(argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {workload!r}", file=sys.stderr)
        return 2
    metrics = bench["end_to_end"]
    tmp = tempfile.mkdtemp(prefix="ab-")
    parent_dir = os.path.join(tmp, "parent")
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach",
                    parent_dir, parent_ref], check=True, capture_output=True)
    results = {m["name"]: [] for m in metrics}
    try:
        for i in range(n_pairs):
            seed = first_seed + i
            sides = [("parent", parent_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            got = {label: run_bench(checkout, workload, seed,
                                    bench["run_seconds"])
                   for label, checkout in sides}
            cells = []
            for m in metrics:
                p = got["parent"].get(m["name"])
                c = got["change"].get(m["name"])
                results[m["name"]].append((p, c))
                cells.append(f"{m['name']} {p} -> {c}")
            print(f"pair {i + 1} seed {seed} ({sides[0][0]} first): "
                  + "; ".join(cells), flush=True)
        for m in metrics:
            summarize(m["name"], m["better"], m["bound"], results[m["name"]])
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force",
                        parent_dir], capture_output=True)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
