"""Generate docs/QUERY_INDEX.md from the query registry — one row per
registered query with its implementing function and summary (first
docstring line).  Regenerate after adding a query:

    python tools/gen_query_index.py

tests/test_entry.py fails while the committed file is stale.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INDEX = os.path.join(ROOT, "docs", "QUERY_INDEX.md")

sys.path.insert(0, ROOT)

import __spark_entry__ as entry


def render() -> str:
    qs = entry.queries()
    lines = [
        "# Query index",
        "",
        f"All {len(qs)} registered queries (auto-generated by "
        "tools/gen_query_index.py; `driver gate` marks the first 50 slots "
        "the external correctness gate records).  Every query listed has a "
        "DuckDB oracle and is value-hash checked by tools/check_oracle.py.",
        "",
        "| # | query | implementation | summary |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        mod = fn.__module__.replace("marketstream_etl_spark.", "")
        doc = (fn.__doc__ or "").strip().split("\n")[0].strip()
        gate = " *(driver gate)*" if name in entry.GATE else ""
        lines.append(f"| {i}{gate} | `{name}` | `{mod}.{fn.__name__}` | {doc} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    with open(INDEX, "w") as f:
        f.write(render())
    print(f"wrote {os.path.relpath(INDEX, ROOT)}")
