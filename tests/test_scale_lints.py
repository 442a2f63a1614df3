"""Source-level scale lints: lock in the posture decisions earlier rounds
paid to learn, so a future edit cannot silently reintroduce them.

1. r5 VERDICT's one 100x scale-killer: forced F.broadcast() hints on
   TPC-H tables that grow with scale factor (customer/supplier/part/
   lineitem/orders).  Hints are allowed ONLY on fixed-cardinality
   nation/region aliases and bounded 1-row/aggregate frames.
2. Driver-side .collect() inventory: every site must be a known bounded
   materialization (codebooks, scalars, vocab, fixture probes).  A new
   .collect() fails the lint until it is reviewed and whitelisted here.
3. One stream runner: outside streaming/replay.py no package, bench or
   tool code starts a writeStream, awaits a query or sets a checkpoint
   location; bounded drains go through replay.run_bounded, which owns
   the deadline, the stop and the checkpoint.
4. One relational writer: outside sources/sinks.py no package code writes
   to a JDBC target or opens a driver-side JDBC connection.
5. No test-only package code: every top-level function and class in the
   package is used as an identifier (a name, an attribute or an import)
   somewhere outside tests/, except the allow-listed reference
   implementations.  A docstring that names a function is not a use.
6. No setting without a setter: every defaulted parameter of a top-level
   package function that is called by name is passed by at least one
   call; an option no caller sets is a module constant.
7. Runs from any checkout: no Python file names the absolute checkout
   path except __spark_entry__.py, whose loader is external.
8. One generation cache: outside functions/cachegen.py no package module
   imports OrderedDict or keeps a module-level dict annotated with
   DataFrame; cachegen's public names are memo, clear, scan_coalesce and
   GENERATIONS_PER_FAMILY, and no code imports any other name from it.
9. One table stream: outside sources/tables.py no package code opens a
   file-source stream over sf_dir (a readStream chain ending in
   .parquet(sf_dir)); testdata tables stream through
   tables.stream_table, beside load_table.  A stream over a directory
   the package wrote itself (a replay fixture) is not a testdata table.
10. One fixed-point quantizer: outside functions/fixedpoint.py no package
   code calls floor(<expr> + 0.5) (with F.lit(0.5) or a bare 0.5), writes
   a float lit(1e6) or defines FX; every quantization goes through
   to_fx/half_up/from_fx, which own the quantum and the rounding rule.
   The scan is AST-based, so the DuckDB oracle SQL text is not a site.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "marketstream_etl_spark"

# identifiers that are provably bounded at any scale factor
BOUNDED_BROADCAST_NAMES = {
    "nation", "region", "n1", "n2", "cnat", "snat",  # 25 / 5 rows fixed
    "total", "max_rev", "avg_qty", "avg_bal", "threshold",  # 1-row aggs
    "top_brands",  # LIMIT-bounded
}

SCALING_TABLES = ("cust", "supp", "part", "li", "orders", "lineitem",
                  "customer", "supplier")


def test_no_forced_broadcast_on_scaling_tables():
    src = (PKG / "plans" / "tpch.py").read_text()
    for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z_0-9]*)", src):
        name = m.group(1)
        assert name not in SCALING_TABLES, (
            f"F.broadcast({name}) forces a broadcast of a table that grows "
            "with scale factor — r5 VERDICT's executor-OOM scale-killer; "
            "let AQE/autoBroadcastJoinThreshold decide instead"
        )
        assert name in BOUNDED_BROADCAST_NAMES, (
            f"F.broadcast({name}) is not in the bounded whitelist — review "
            "whether it is fixed-cardinality at ANY scale factor, then add "
            "it to BOUNDED_BROADCAST_NAMES with a comment"
        )


def test_collect_sites_are_whitelisted():
    # file -> max allowed .collect() occurrences (all reviewed bounded:
    # dedup fixed-point scalar, kmeans codebooks + recall scalar + the
    # semantic_dedup capped-√rows codebook + the _nearest_buckets codebook
    # collect (≤ CODEBOOK_MAX_CENTROIDS rows by construction — r11, the
    # sf100-probe fix), vocab, sentinel fixture probe + socket-emitter
    # test fixture, stream-static anomaly stats.  training_data's second
    # site (r14): contamination_verbatim's benchmark gram-HASH set —
    # bounded by the benchmark slice exactly like the gram-STRING
    # broadcast the query has always done, at 8 bytes/gram instead of a
    # full string)
    # relevance.py (r14): bm25_search's query-vocabulary collect —
    # bounded by the n_queries docs' term count (a query parse, the
    # same class as the codebook collect), applied as the IN-list that
    # batch-prunes the term-clustered postings cache
    allowed = {
        "operators/dedup.py": 1,
        "operators/relevance.py": 1,
        "operators/similarity.py": 4,
        "plans/training_data.py": 2,
        "streaming/docs.py": 1,
        "streaming/ticks.py": 2,
    }
    found: dict[str, int] = {}
    for py in PKG.rglob("*.py"):
        n = py.read_text().count(".collect()")
        if n:
            found[str(py.relative_to(PKG))] = n
    for f, n in found.items():
        assert f in allowed and n <= allowed[f], (
            f"{f} has {n} .collect() site(s); the whitelist allows "
            f"{allowed.get(f, 0)}. A driver-side collect is only OK for "
            "provably bounded frames — review the new site and update the "
            "whitelist with its bound"
        )


RUNNER = "marketstream_etl_spark/streaming/replay.py"
# (file, function) sites that may manage a query's lifecycle themselves
STREAM_LIFECYCLE_ALLOWED = {
    # a live socket query (not availableNow) polled until every emitted
    # frame is counted; it keeps its own start/stop
    ("marketstream_etl_spark/streaming/ticks.py", "drain_deadletter_socket"),
}


def _chain_has_attr(node: ast.AST, attr: str) -> bool:
    """True when a call/attribute chain such as df.writeStream.x(...).y
    passes through `.attr`."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr == attr:
                return True
            node = node.value
        else:
            node = node.func
    return False


def stream_lifecycle_sites(src: str) -> list[tuple[str, str]]:
    """(enclosing function, construct) for every writeStream….start(),
    awaitTermination call and "checkpointLocation" literal in `src`."""
    sites: list[tuple[str, str]] = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and isinstance(
                child.func, ast.Attribute
            ):
                if child.func.attr == "start" and _chain_has_attr(
                    child.func.value, "writeStream"
                ):
                    sites.append((fn, "writeStream.start()"))
                elif child.func.attr == "awaitTermination":
                    sites.append((fn, "awaitTermination()"))
            elif (
                isinstance(child, ast.Constant)
                and child.value == "checkpointLocation"
            ):
                sites.append((fn, "checkpointLocation"))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_stream_lifecycle_lint_detects_hand_written_drain():
    src = (
        "def drain(df, ck):\n"
        "    q = df.writeStream.format('memory').option(\n"
        "        'checkpointLocation', ck).start()\n"
        "    q.awaitTermination()\n"
        "    t.start()\n"
    )
    assert sorted(stream_lifecycle_sites(src)) == [
        ("drain", "awaitTermination()"),
        ("drain", "checkpointLocation"),
        ("drain", "writeStream.start()"),
    ]


def test_streams_run_only_through_the_runner():
    files = [
        *PKG.rglob("*.py"),
        ROOT / "bench.py",
        *(ROOT / "tools").rglob("*.py"),
    ]
    offenders, allowed_seen = [], set()
    for py in files:
        rel = py.relative_to(ROOT).as_posix()
        if rel == RUNNER:
            continue
        for fn, what in stream_lifecycle_sites(py.read_text()):
            if (rel, fn) in STREAM_LIFECYCLE_ALLOWED:
                allowed_seen.add((rel, fn))
            else:
                offenders.append(f"{rel}:{fn}: {what}")
    assert offenders == [], (
        "bounded streams must run through streaming/replay.run_bounded "
        "(or drain_to_memory), which owns the deadline, the stop and the "
        f"checkpoint; found: {offenders}"
    )
    # a stale allow-list entry would silently widen the lint
    assert allowed_seen == STREAM_LIFECYCLE_ALLOWED


SINKS = "marketstream_etl_spark/sources/sinks.py"


def test_jdbc_writes_only_through_sinks():
    offenders = [
        f"{py.relative_to(ROOT).as_posix()}:{i}"
        for py in PKG.rglob("*.py")
        if py.relative_to(ROOT).as_posix() != SINKS
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if ".jdbc(" in line or "DriverManager" in line
    ]
    assert offenders == [], (
        "relational writes and driver-side JDBC statements go through "
        f"sources/sinks.py (write_jdbc_bulk, drop_if_exists); found: {offenders}"
    )


# top-level definitions that only tests call, each kept on purpose
TEST_ONLY_ALLOWED = {
    "z_value_py": "the pure-Python Morton reference test_zorder checks against",
    "init_schema": "S7 DDL parity, README's coverage row for init_schema",
    "bulk_load_with_index_ddl": "S8's adopted drop/rebuild-index bulk load",
    "cosine": "the declarative cosine the similarity kernels are checked against",
    "kafka_tick_stream": "BASELINE's Kafka source, gated on the connector jar",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(*roots: Path) -> list[Path]:
    return [p for r in roots for p in ([r] if r.is_file() else r.rglob("*.py"))]


def identifier_uses(tree: ast.AST) -> Counter[str]:
    """Names, attributes and imported names in `tree`; prose never counts."""
    uses: Counter[str] = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            uses[n.id] += 1
        elif isinstance(n, ast.Attribute):
            uses[n.attr] += 1
        elif isinstance(n, ast.alias):
            uses[n.name.rsplit(".", 1)[-1]] += 1
    return uses


def unused_definitions(package: list[str], users: list[str]) -> set[str]:
    """Top-level functions and classes of the `package` sources that no
    source in `package` + `users` uses outside their own definition."""
    uses: Counter[str] = Counter()
    trees = [ast.parse(src) for src in package]
    for tree in [*trees, *map(ast.parse, users)]:
        uses.update(identifier_uses(tree))
    return {
        node.name
        for tree in trees
        for node in tree.body
        if isinstance(node, _DEFS)
        and uses[node.name] == identifier_uses(node)[node.name]
    }


def test_rule5_detects_a_function_named_only_in_a_docstring():
    package = [
        "def helper():\n    return 1\n\n\n"
        "def query():\n    \"\"\"Calls helper() once.\"\"\"\n    return 2\n"
    ]
    users = ["from pkg import query\nquery()\n"]
    assert unused_definitions(package, users) == {"helper"}


def test_package_code_is_used_outside_tests():
    users = _py_files(
        ROOT / "tools",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *(p for p in (ROOT / "perfbench").rglob("*.py")
          if not p.name.startswith("test_")),
    )
    unused = unused_definitions(
        [p.read_text() for p in PKG.rglob("*.py")],
        [p.read_text() for p in users],
    )
    assert unused == set(TEST_ONLY_ALLOWED), (
        "every top-level package function or class needs a caller outside "
        "tests/ (wire it into a query path or delete it); an entry of "
        "TEST_ONLY_ALLOWED that now has a caller is stale. Unused: "
        f"{sorted(unused)}"
    )


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted param."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(pos) if i >= first]
    out += [
        (None, p.arg)
        for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None
    ]
    return out


def unpassed_defaults(package: dict[str, str], callers: list[str]) -> list[str]:
    """`file:function.param` for every defaulted parameter of a top-level
    function in `package` ({file: source}) that no call in `package` +
    `callers` passes, by keyword or by position.  Functions never called
    by name, used as a value (a callback, a partial, a kernel) or called
    with *args/**kwargs are skipped: their call sites cannot be read."""
    passed: dict[str, set[str | int]] = {}
    opaque: set[str] = set()
    for src in [*package.values(), *callers]:
        tree = ast.parse(src)
        renamed = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        callees = set()
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            if not isinstance(f, (ast.Name, ast.Attribute)):
                continue
            callees.add(id(f))
            name = f.id if isinstance(f, ast.Name) else f.attr
            name = renamed.get(name, name)
            if any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            ):
                opaque.add(name)
            seen = passed.setdefault(name, set())
            seen.update(range(len(n.args)))
            seen.update(k.arg for k in n.keywords)
        for n in ast.walk(tree):
            if isinstance(n, (ast.Name, ast.Attribute)) and id(n) not in callees:
                name = n.id if isinstance(n, ast.Name) else n.attr
                opaque.add(renamed.get(name, name))
    found = []
    for file, src in package.items():
        for fn in ast.parse(src).body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name in opaque or fn.name not in passed:
                continue
            for i, param in _defaulted(fn):
                if param not in passed[fn.name] and i not in passed[fn.name]:
                    found.append(f"{file}:{fn.name}.{param}")
    return found


def test_rule6_detects_a_default_no_call_passes():
    package = {
        "pkg.py": "def top(df, k=5, n=8):\n    return df\n\n\n"
        "def run(df):\n    return top(df, 3)\n"
    }
    assert unpassed_defaults(package, []) == ["pkg.py:top.n"]


def test_rule6_keeps_a_parameter_only_a_test_passes():
    package = {"pkg.py": "def top(df, k=5):\n    return df\n\n\nx = top(1)\n"}
    assert unpassed_defaults(package, ["def test_small():\n    top(1, k=2)\n"]) == []


def test_every_default_has_a_caller_that_sets_it():
    package = {
        py.relative_to(ROOT).as_posix(): py.read_text()
        for py in PKG.rglob("*.py")
    }
    callers = _py_files(
        ROOT / "tools",
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        ROOT / "perfbench",
        ROOT / "tests",
    )
    unpassed = unpassed_defaults(package, [p.read_text() for p in callers])
    assert unpassed == [], (
        "a defaulted parameter that no call passes is an option with one "
        "value: read the module constant in the body and delete the "
        f"parameter (a test passing it keeps it). Unpassed: {unpassed}"
    )


ENTRY = "__spark_entry__.py"


def pinned_checkouts(entry_src: str) -> set[str]:
    """The literal paths the entry module puts on sys.path for its
    external loader — the one place a checkout path may be written."""
    return {
        a.value
        for n in ast.walk(ast.parse(entry_src))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "insert"
        and _chain_has_attr(n.func.value, "path")
        for a in n.args
        if isinstance(a, ast.Constant) and isinstance(a.value, str)
    }


def test_no_absolute_checkout_path():
    pinned = pinned_checkouts((ROOT / ENTRY).read_text())
    offenders = []
    for py in ROOT.rglob("*.py"):
        rel = py.relative_to(ROOT)
        if rel.parts[0].startswith(".") or rel.as_posix() == ENTRY:
            continue
        for n in ast.walk(ast.parse(py.read_text())):
            if isinstance(n, ast.Constant) and isinstance(n.value, str) and any(
                n.value == p or n.value.startswith(p + "/") for p in pinned
            ):
                offenders.append(f"{rel.as_posix()}:{n.lineno}")
    assert offenders == [], (
        "resolve the checkout from __file__ (Path(__file__).resolve()."
        f"parents[...]) instead of naming it; found: {offenders}"
    )


CACHEGEN = "marketstream_etl_spark/functions/cachegen.py"
CACHEGEN_IMPORTS = {"memo", "clear", "scan_coalesce"}
CACHEGEN_EXPORTS = CACHEGEN_IMPORTS | {"GENERATIONS_PER_FAMILY"}


def private_caches(src: str) -> list[str]:
    """OrderedDict imports and module-level dicts annotated with DataFrame
    in `src`: the makings of a cache beside cachegen.memo."""
    found = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.alias) and node.name.endswith("OrderedDict"):
            found.append(f"{node.lineno}: imports OrderedDict")
    for node in ast.parse(src).body:
        if isinstance(node, ast.AnnAssign):
            ann = ast.unparse(node.annotation)
            if "dict" in ann.lower() and "DataFrame" in ann:
                found.append(f"{node.lineno}: module-level {ann}")
    return found


def cachegen_imports(src: str) -> set[str]:
    """Names imported from functions.cachegen in `src`."""
    return {
        a.name
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").endswith("functions.cachegen")
        for a in node.names
    }


def test_rule8_detects_a_private_frame_cache():
    src = (
        "from collections import OrderedDict\n"
        "_CACHE: dict[tuple[str, str], DataFrame] = {}\n"
        "def f():\n    seen: dict[str, DataFrame] = {}\n"
    )
    assert private_caches(src) == [
        "1: imports OrderedDict",
        "2: module-level dict[tuple[str, str], DataFrame]",
    ]


def test_one_generation_cache():
    offenders = [
        f"{py.relative_to(ROOT).as_posix()}:{site}"
        for py in PKG.rglob("*.py")
        if py.relative_to(ROOT).as_posix() != CACHEGEN
        for site in private_caches(py.read_text())
    ]
    assert offenders == [], (
        "per-generation caching goes through functions/cachegen.memo, which "
        f"owns keying and eviction; found: {offenders}"
    )
    importers = _py_files(
        PKG, ROOT / "tools", ROOT / "bench.py", ROOT / "__spark_entry__.py",
        ROOT / "tests",
    )
    imported = {
        f"{py.relative_to(ROOT).as_posix()}: {name}"
        for py in importers
        for name in cachegen_imports(py.read_text())
        if name not in CACHEGEN_IMPORTS
    }
    assert imported == set(), f"import only memo/clear/scan_coalesce: {imported}"
    defined = set()
    for node in ast.parse((ROOT / CACHEGEN).read_text()).body:
        if isinstance(node, _DEFS):
            defined.add(node.name)
        elif isinstance(node, ast.Assign):
            defined.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign):
            defined.add(node.target.id)
    assert {n for n in defined if not n.startswith("_")} == CACHEGEN_EXPORTS


TABLES = "marketstream_etl_spark/sources/tables.py"


def table_stream_sites(src: str) -> list[str]:
    """The enclosing function of every readStream….parquet(sf_dir) call
    in `src`."""
    sites: list[str] = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and _chain_has_attr(child.func.value, "readStream")
                and any(
                    isinstance(a, ast.Name) and a.id == "sf_dir"
                    for a in child.args
                )
            ):
                sites.append(fn)
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else fn)

    visit(ast.parse(src), "<module>")
    return sites


def test_rule9_detects_a_hand_written_table_stream():
    src = (
        "def docs(spark, sf_dir):\n"
        "    schema = spark.read.parquet(sf_dir).schema\n"
        "    return spark.readStream.schema(schema).option(\n"
        "        'pathGlobFilter', 'documents.parquet').parquet(sf_dir)\n"
        "\n\n"
        "def replay(spark, replay_dir):\n"
        "    return spark.readStream.schema('v string').parquet(replay_dir)\n"
    )
    assert table_stream_sites(src) == ["docs"]


def test_testdata_tables_stream_only_through_stream_table():
    offenders = [
        f"{py.relative_to(ROOT).as_posix()}:{fn}"
        for py in PKG.rglob("*.py")
        if py.relative_to(ROOT).as_posix() != TABLES
        for fn in table_stream_sites(py.read_text())
    ]
    assert offenders == [], (
        "a testdata table streams through sources/tables.stream_table, "
        "which owns the cached schema, the file filter and the events ts "
        f"normalization; found: {offenders}"
    )
    assert table_stream_sites((ROOT / TABLES).read_text()) == ["stream_table"]


FIXEDPOINT = "marketstream_etl_spark/functions/fixedpoint.py"


def _is_half(node: ast.AST) -> bool:
    """A bare 0.5 or a lit(0.5)."""
    if isinstance(node, ast.Call) and _call_name(node) == "lit" and node.args:
        node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == 0.5


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def fixed_point_sites(src: str) -> list[str]:
    """Hand-spelled round-half-up quantizations in `src`: floor(x + 0.5)
    calls, float lit(1e6) literals and FX definitions."""
    sites = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call) and node.args:
            name, arg = _call_name(node), node.args[0]
            if (
                name == "floor"
                and isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and (_is_half(arg.left) or _is_half(arg.right))
            ):
                sites.append(f"{node.lineno}: floor(... + 0.5)")
            if (
                name == "lit"
                and isinstance(arg, ast.Constant)
                and isinstance(arg.value, float)
                and arg.value == 1e6
            ):
                sites.append(f"{node.lineno}: lit(1e6)")
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "FX" for t in node.targets
        ):
            sites.append(f"{node.lineno}: FX =")
    return sites


def test_rule10_detects_a_local_fixed_point_lambda():
    src = (
        "def stat(x):\n"
        "    fp = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa\n"
        "        'long'\n"
        "    )\n"
        "    h = F.floor(x * 100 + 0.5)\n"
        "    sql = 'CAST(floor(x * 1e6 + 0.5) AS BIGINT)'\n"
        "    return fp(x), h, sql, F.floor(x)\n"
        "FX = 1_000_000\n"
    )
    assert sorted(fixed_point_sites(src)) == [
        "2: floor(... + 0.5)",
        "2: lit(1e6)",
        "5: floor(... + 0.5)",
        "8: FX =",
    ]


def test_one_fixed_point_quantizer():
    offenders = [
        f"{py.relative_to(ROOT).as_posix()}:{site}"
        for py in PKG.rglob("*.py")
        if py.relative_to(ROOT).as_posix() != FIXEDPOINT
        for site in fixed_point_sites(py.read_text())
    ]
    assert offenders == [], (
        "fixed-point quantization goes through functions/fixedpoint "
        "(to_fx/half_up/from_fx), which owns the quantum and the "
        f"round-half-up rule; found: {offenders}"
    )
