"""The decade tool: run registered queries at one or more scale factors
and report each query's best wall time, its row count and, from the
second dir on, the ratio to the previous dir.

    python tools/sweep_sf.py [--ops a,b,...] [DIR ...]

Defaults: every registered query, at /root/testdata/sf0.1.  `--ops`
names the queries and times each best of 3 (the first run warms codegen);
the whole registry runs once per query.  A failure prints FAIL, the
socket emitter's by-design cap prints SKIP, the run goes on, and the exit
code is 1 on any FAIL.  The correctness gate runs at sf0.01; the sweep
catches failures that only show at larger data (its first run caught an
ANSI DIVIDE_BY_ZERO from a parser-default 0.0 close no sf0.01 bar hits).

    python tools/sweep_sf.py                      # scale-abort sweep, sf0.1
    python tools/gen_sf1.py                       # once: the 10x dir
    python tools/sweep_sf.py --ops indicators,ohlc_bars,ann_ivf \
        /root/testdata/sf0.1 /tmp/marketstream_sf1
    python tools/gen_sf1.py /tmp/marketstream_sf10 --scale 10 --skip-tpch

Every run forces the query one way: an observation counts the rows while
a noop write computes every output column in the same action (count() lets
Catalyst prune a column nothing aggregates, so a failing or expensive
output column read "ok" and cheap).  Values are NOT compared — that is
check_oracle.py's job at the gate SF.
"""

from __future__ import annotations

import glob
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import Observation
from pyspark.sql import functions as F

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.session import get_spark
from marketstream_etl_spark.streaming.ticks import EmitterCapExceeded

import __spark_entry__ as entrymod

DEFAULT_DIR = "/root/testdata/sf0.1"
BEST_OF = 3

# Above this input volume the default 4g test heap is known-insufficient
# (sf1's containment_pairs shingle explode OOMs mid-sweep: local[32]
# shares one heap across 32 "executors" ≈ 128 MiB/thread, far below any
# real cluster's per-executor memory).  sf0.1 is ~17 MB, sf1 ~178 MB —
# the threshold sits between the decades.
BIG_SWEEP_BYTES = 64 * 1024 * 1024
BIG_SWEEP_MEM = "32g"  # still modest: 1 GiB per local[32] thread


def _input_bytes(sf_dir: str) -> int:
    return sum(
        os.stat(p).st_size
        for pat in ("*.parquet", "*/*.parquet")
        for p in glob.glob(os.path.join(sf_dir, pat))
    )


def shuffle_width(sf_dir: str) -> int | None:
    """Input-scaled shuffle width for decade-scale runs (r12), or None
    when the input needs no more than the default 32: fixed 32 reduce
    slots spill once per-partition shuffle blocks outgrow memory —
    tfidf_keywords' ~300M-row postings shuffles measured 90.0 s at 32
    vs 57.0 s at 256 warm (226 -> 84 s cold) at the sf100 decade.  The
    width is ~input_bytes/32MB capped at 1024 and goes to
    get_spark(shuffle_partitions=...).  On a real cluster this is the
    ops-owned spark.sql.shuffle.partitions sizing.

    A GLOBAL fix via AQE (coalescePartitions.initialPartitionNum=1024,
    with and without parallelismFirst=false) was tried first and
    rejected by measurement: cached plans materialize at full initial
    width (AQE cannot re-coalesce a cache without
    canChangeCachedPlanOutputPartitioning) and the sf0.1 headline
    regressed 13.9 -> 17.2/20.2 s (etl_1m sink 0.32 -> 3.2/3.3 s writing
    hundreds of tiny files), so the width stays scoped to the tool runs
    whose input demands it."""
    nbytes = _input_bytes(sf_dir)
    width = min(1024, nbytes // (32 * 1024 * 1024))
    if width <= 32:
        return None
    print(
        f"sweep: input {nbytes / 1e6:.0f} MB — shuffle width {width} "
        "(fixed 32 spills at decade scale)",
        flush=True,
    )
    return width


def _mem_gib(spec: str) -> float:
    spec = spec.strip().lower()
    units = {"k": 1 / (1024 * 1024), "m": 1 / 1024, "g": 1, "t": 1024}
    if spec and spec[-1] in units:
        return float(spec[:-1]) * units[spec[-1]]
    return float(spec) / (1024**3)  # bare bytes


def ensure_driver_mem(sf_dir: str) -> None:
    """Fail fast (or auto-provision) the driver-heap requirement BEFORE
    the session starts, instead of OOMing 40 minutes into the sweep
    (r8 VERDICT item 5).  Unset → auto-set 32g for big inputs; explicitly
    set too low → exit immediately with the posture note."""
    nbytes = _input_bytes(sf_dir)
    if nbytes <= BIG_SWEEP_BYTES:
        return
    cur = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if cur is None:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = BIG_SWEEP_MEM
        print(
            f"sweep: input {nbytes / 1e6:.0f} MB > threshold — auto-set "
            f"SPARK_GRAFT_DRIVER_MEM={BIG_SWEEP_MEM} (local[32] shares one "
            "heap; ~1 GiB/thread is the correctly-sized-executor posture)",
            flush=True,
        )
        return
    if _mem_gib(cur) < 16:
        print(
            f"sweep: refusing to start — SPARK_GRAFT_DRIVER_MEM={cur} is "
            f"below the 16g floor for a {nbytes / 1e6:.0f} MB sweep "
            "(containment_pairs' shingle explode OOMs mid-sweep at small "
            f"heaps; use {BIG_SWEEP_MEM} or unset to auto-provision)",
            flush=True,
        )
        raise SystemExit(2)


def forced_rows(spark, fn, sf_dir: str) -> int:
    """Run one query to completion, every output column computed, and
    return its row count, counted in the same action."""
    seen = Observation()
    df = fn(spark, sf_dir).observe(seen, F.count(F.lit(1)).alias("rows"))
    df.write.format("noop").mode("overwrite").save()
    return seen.get["rows"]


def _line(e: Exception) -> str:
    return " ".join(str(e).split())[:200]


def main() -> int:
    args = sys.argv[1:]
    ops = None
    if "--ops" in args:
        i = args.index("--ops")
        ops = args[i + 1].split(",")
        del args[i : i + 2]
    dirs = args or [DEFAULT_DIR]
    qs = entrymod.queries()
    unknown = [name for name in ops or () if name not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    names, runs = (ops, BEST_OF) if ops else (list(qs), 1)
    # fail fast on the heap before the session starts; one shared session
    # takes the widest dir's shuffle width
    for d in dirs:
        ensure_driver_mem(d)
    widths = [w for w in map(shuffle_width, dirs) if w is not None]
    spark = get_spark(
        "sweep-sf",
        shuffle_partitions=max(widths, default=None),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    pad = max(map(len, names)) + 2
    hdr = "".join(f"{Path(d).name:>27}" for d in dirs)
    print(f"{'query':<{pad}}{hdr}   (best of {runs}: s, rows, x previous)")
    fails: list[str] = []
    skips: list[str] = []
    for name in names:
        cells, prev = "", None
        try:
            for d in dirs:
                times = []
                for _ in range(runs):
                    t0 = time.perf_counter()
                    rows = forced_rows(spark, qs[name], d)
                    times.append(time.perf_counter() - t0)
                best = min(times)
                ratio = "" if prev is None else f"x{best / prev:.1f}"
                cells += f"{best:>9.2f}s {rows:>9}{ratio:>7}"
                prev = best
        except EmitterCapExceeded as e:
            # by-design guard, not an operator failure: the socket-test
            # emitter refuses driver-side buffers past its documented cap
            skips.append(name)
            cells += f"  SKIP {_line(e)}"
        except Exception as e:  # noqa: BLE001 — report and continue
            fails.append(name)
            cells += f"  FAIL {type(e).__name__}: {_line(e)}"
        print(f"{name:<{pad}}{cells}", flush=True)
    print(
        f"sweep done: {len(names) - len(fails) - len(skips)}/{len(names)} ok, "
        f"{len(skips)} skipped {skips}, {len(fails)} failed {fails}"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
