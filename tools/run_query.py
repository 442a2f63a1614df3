"""Run any registered query from the command line and print its result —
the user-facing entry point (the reference ships a CLI binary;
`SURVEY.md §3`).  Lists the registry when called bare.

    python tools/run_query.py                          # list all queries
    python tools/run_query.py indicators               # run at sf0.01
    python tools/run_query.py tpch_q5 /root/testdata/sf0.1
    python tools/run_query.py ks_drift --explain       # plan instead of rows
    python tools/run_query.py bm25_search --limit 5

Rows print through Spark's show() (full column values, no driver-side
materialization beyond the display limit); --explain prints the
formatted physical plan — the first-order scale signal.
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.session import get_spark

import __spark_entry__ as entrymod

DEFAULT_SF = "/root/testdata/sf0.01"
DEFAULT_LIMIT = 20


def main() -> int:
    args = sys.argv[1:]
    explain = "--explain" in args
    if explain:
        args.remove("--explain")
    limit = DEFAULT_LIMIT
    if "--limit" in args:
        i = args.index("--limit")
        # re.fullmatch rather than .isdigit() so every malformed value
        # ("--5", "1e3", "+4") takes the usage path, not a ValueError
        if i + 1 >= len(args) or not re.fullmatch(r"\d+", args[i + 1]):
            print("usage: --limit N  (N a non-negative integer)")
            return 2
        limit = int(args[i + 1])
        del args[i : i + 2]
    qs = entrymod.queries()
    if not args:
        oracles = entrymod.oracle_sql()
        print(f"{len(qs)} registered queries "
              f"({sum(1 for n in qs if n in oracles)} oracle-paired):")
        for n in qs:
            print(f"  {n}")
        return 0
    name = args[0]
    if name not in qs:
        close = [n for n in qs if name.lower() in n]
        print(
            f"unknown query {name!r}" + (f"; close: {close}" if close else "")
        )
        return 2
    sf_dir = args[1] if len(args) > 1 else DEFAULT_SF
    spark = get_spark("run-query")
    t0 = time.perf_counter()
    df = qs[name](spark, sf_dir)
    if explain:
        df.explain("formatted")
        return 0
    # One materialization: collect limit+1 rows, display locally, and report
    # "N rows" exactly up to the display limit ("> limit" past it) — a
    # bare .count() after .show() would re-execute the whole query and
    # double the printed wall time.
    rows = df.limit(limit + 1).collect()
    truncated = len(rows) > limit
    df.sparkSession.createDataFrame(
        rows[:limit], schema=df.schema
    ).show(limit, truncate=False)
    shown = f"> {limit}" if truncated else str(len(rows))
    print(f"{name}: {shown} rows in {time.perf_counter() - t0:.2f}s ({sf_dir})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
