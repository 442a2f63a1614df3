"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
shape, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [--vanilla] [--json OUT] [query ...]

A name that is not a registered query exits 2 before anything runs.

--json writes a machine-readable summary (the CORRECTNESS_LOCAL.json
artifact committed per round) after the run.

--vanilla uses a plain ``SparkSession.builder.getOrCreate()`` (no session.py
confs) to replicate the external driver exactly — round 1 failed 21 queries
because the nanosAsLong conf that only session.py sets masked a dependency.
Its master is ``local[$SPARK_GRAFT_CPUS]``, or ``local[32]`` when unset.

Floats are hashed at %.17g, the exact double round-trip: r13's
incremental_agg failure differed only in the 10th significant digit, which
the old %.6g default hid.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)

import duckdb

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.schemas import TESTDATA_TABLES
from marketstream_etl_spark.session import get_spark

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return format(v, ".17g")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    qs = entrymod.queries()
    only = set(args)
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    # result lines start a line only without the console progress bar
    quiet = {"spark.ui.showConsoleProgress": "false"}
    if vanilla:
        # Plain session, no session.py confs: replicates the external driver.
        # The JVM it starts inherits this process's PYTHONPATH and hands it
        # to the Python workers, which start in the cwd and must import
        # this checkout's package too.
        from pyspark.sql import SparkSession

        os.environ["PYTHONPATH"] = os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")])
        )
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = SparkSession.builder.master(f"local[{cpus}]")
        spark = builder.config(map=quiet).getOrCreate()
    else:
        spark = get_spark("oracle-check", extra_conf=quiet)
    oracles = entrymod.oracle_sql()
    failures = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            rel = con.sql(oracles[name])
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
            ocols = rel.columns
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        # HUGEINT guard: DuckDB sum(BIGINT) yields HUGEINT, and a
        # pandas/Arrow fetch (which the external driver appears to use)
        # converts HUGEINT to float64 — lossy above 2^53.  fetchall()
        # stays exact, so this replica would silently PASS a query the
        # driver fails (r06: hll_cardinality/streaming_hll).  Fail loudly
        # instead and require a CAST(... AS BIGINT) in the oracle SQL.
        for ci, tname in enumerate(otypes):
            if tname in ("HUGEINT", "UHUGEINT") and any(
                r[ci] is not None and abs(r[ci]) >= (1 << 53) for r in orows
            ):
                problems.append(
                    f"col {ocols[ci]} is {tname} with |value| >= 2^53 "
                    "(lossy under the driver's pandas fetch); CAST it "
                    "to BIGINT in the oracle SQL"
                )
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        else:
            sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
        dt = time.time() - t0
        results[name] = {
            "pass": not problems,
            "seconds": round(dt, 2),
            "rows": len(srows),
            "problems": problems,
        }
        if problems:
            failures += 1
            print(f"FAIL {name} ({dt:.1f}s): {'; '.join(problems)}")
            # show a small diff sample
            sset = {
                tuple(norm_cell(v) for v in r) for r in srows[:2000]
            }
            oset = {
                tuple(norm_cell(v) for v in r) for r in orows[:2000]
            }
            for r in list(sset - oset)[:3]:
                print(f"   spark-only: {r}")
            for r in list(oset - sset)[:3]:
                print(f"   duck-only:  {r}")
        else:
            print(f"PASS {name} ({dt:.1f}s, {len(srows)} rows)")
    if json_out:
        import datetime
        import json

        checked = {n: r for n, r in results.items()}
        summary = {
            "date": datetime.date.today().isoformat(),
            "command": "python tools/check_oracle.py "
            + " ".join(sys.argv[1:]),
            "sf_dir": SF_DIR,
            "vanilla": vanilla,
            "session": "vanilla" if vanilla else "tuned (session.get_spark)",
            "queries_total": len(qs) if not only else len(only),
            "queries_pass": sum(1 for r in checked.values() if r["pass"]),
            "queries_fail": failures,
            "wall_seconds": round(
                sum(r["seconds"] for r in checked.values()), 1
            ),
            "per_query_seconds": {
                n: r["seconds"] for n, r in checked.items()
            },
            "failures": {
                n: r["problems"] for n, r in checked.items() if not r["pass"]
            },
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1)
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
