"""Generate plans/manifest.json: physical-plan node counts for every batch
query.  Regenerate after a change that moves a plan:

    python tools/gen_plan_manifest.py

An intended plan change regenerates the manifest in the same commit, so
the diff shows the plan change.  tests/test_plans.py fails while the
committed file is stale, and on any entry with a CartesianProduct, an
unpartitioned Window, a collapsed Generate or a DISTINCT aggregate beside
a sketch.  The input is the same sf0.001 testdata the test suite's
``sf_dir`` fixture reads.

Each batch query (every registered name not starting with ``streaming_``)
is built, never collected, at sf0.001 and its
``queryExecution().executedPlan()`` is read.  A node is counted by the name
at the start of its plan line, so ``BroadcastExchange`` is not also an
``Exchange``.  The session is pinned: ``defaultParallelism`` sizes some
plans (scan coalescing, the layout fan-out), so the core count is a
constant here, not the box's.  Spark job counts are left out: fixture
tables are written on a cold run only.  Every entry starts from empty
caches (the generation registry and Spark's CacheManager), so its counts
do not depend on the entries built before it: a cached frame's
``InMemoryRelation`` prints its final adaptive plan.
"""

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "plans", "manifest.json")
SF_DIR = "/root/testdata/sf0.001"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4

sys.path.insert(0, ROOT)

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.functions import cachegen
from marketstream_etl_spark.session import get_spark

import __spark_entry__ as entry

COUNTED = {
    "Exchange",
    "BroadcastExchange",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Window",
    "WindowGroupLimit",
    "Generate",
    "InMemoryRelation",
    # where Python runs
    "ArrowEvalPython",
    "BatchEvalPython",
    "BatchEvalPythonUDTF",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "MapInPandas",
}
# Plan smells, counted so that a regenerated manifest cannot hide one; the
# manifest test requires each to be zero.
UNPARTITIONED_WINDOW = "Window unpartitioned"
COLLAPSED_GENERATE = "Generate collapsed"
DISTINCT_BESIDE_SKETCH = "Aggregate distinct beside a sketch"
SMELLS = (
    "CartesianProduct",
    UNPARTITIONED_WINDOW,
    COLLAPSED_GENERATE,
    DISTINCT_BESIDE_SKETCH,
)

_NODE = re.compile(r"^[\s:+-]*(?:\*\(\d+\) )?(\w+) ?(.*)$")
_SORT_ORDER = re.compile(r" (?:ASC|DESC) NULLS (?:FIRST|LAST)")
_SKETCH = re.compile(r"approx_count_distinct\(|percentile|collect_")


def is_batch(name: str) -> bool:
    return not name.startswith("streaming_")


def _top_level_args(text: str) -> list[str]:
    """Split a node's argument string on the ", " that no bracket encloses."""
    args, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif depth == 0 and text.startswith(", ", i):
            args.append(text[start:i])
            start = i + 2
    return args + [text[start:]]


def node_counts(plan: str) -> dict[str, int]:
    """Counted node names of one plan string, zero counts left out."""
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name, rest = m.group(1), m.group(2)
        keys = [name] if name in COUNTED else []
        # A DISTINCT aggregate next to a buffer aggregate: Spark's distinct
        # rewrite groups by the distinct key first and carries every
        # sketch buffer per key (approx_aggs' measured class).
        if name.endswith("Aggregate"):
            functions = rest.partition("functions=")[2]
            if "(distinct " in functions and _SKETCH.search(functions):
                keys.append(DISTINCT_BESIDE_SKETCH)
        if not keys:
            continue
        args = _top_level_args(rest)
        # Window [functions], [partition], [order]: Spark omits an empty
        # list, so no partition list leaves the order (or nothing) second.
        if name == "Window" and (len(args) < 2 or _SORT_ORDER.search(args[1])):
            keys.append(UNPARTITIONED_WINDOW)
        # (pos)explode over an array_distinct / zip_with build re-evaluates
        # the build once per output row (projection collapse through
        # GenerateExec): the measured ~40x class that a localCheckpoint
        # before the explode fixes.
        if (
            name == "Generate"
            and re.match(r"(?:pos)?explode\(", args[0])
            and re.search(r"array_distinct\(|zip_with\(", args[0])
        ):
            keys.append(COLLAPSED_GENERATE)
        for key in keys:
            counts[key] = counts.get(key, 0) + 1
    return counts


def entry_counts(spark, fn) -> dict[str, int]:
    """Counted nodes of one query's plan, built from empty caches."""
    cachegen.clear()
    spark.catalog.clearCache()
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan()
    return node_counts(plan.toString())


def render() -> str:
    spark = get_spark(
        "plan-manifest", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS
    )
    lines = []
    try:
        for name, fn in sorted(entry.queries().items()):
            if not is_batch(name):
                continue
            try:
                counts = json.dumps(entry_counts(spark, fn), sort_keys=True)
            except Exception as e:
                raise RuntimeError(f"batch query {name!r} failed to build") from e
            lines.append(f"{json.dumps(name)}: {counts}")
    finally:
        spark.stop()
    return "{\n" + ",\n".join(lines) + "\n}\n"


if __name__ == "__main__":
    text = render()
    with open(MANIFEST, "w") as f:
        f.write(text)
    print(f"wrote {os.path.relpath(MANIFEST, ROOT)} ({len(json.loads(text))} queries)")
