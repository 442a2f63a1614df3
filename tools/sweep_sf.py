"""Execute EVERY registered query end-to-end at a given scale factor and
report failures — the scale-abort sweep.

The correctness gate runs at sf0.01; this sweep exists to catch failures
that only manifest at larger data (its first run caught a real one: an
ANSI DIVIDE_BY_ZERO from a parser-default 0.0 close that no sf0.01 bar
ever hits).  Run after operator changes and before a round closes:

    python tools/sweep_sf.py                      # sf0.1 (10x the gate)
    python tools/sweep_sf.py /root/testdata/sf0.01

Rows are counted (forces full materialization); values are NOT compared
— that is check_oracle.py's job at the gate SF.
"""

from __future__ import annotations

import glob
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.session import get_spark

import __spark_entry__ as entrymod
from marketstream_etl_spark.streaming.ticks import EmitterCapExceeded

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


def main() -> int:
    args = [a for a in sys.argv[1:]]
    skips: dict[str, str] = {}
    while "--skip" in args:
        i = args.index("--skip")
        name, reason = args[i + 1].split("=", 1)
        skips[name] = reason
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    ensure_driver_mem(sf_dir)
    spark = get_spark("sweep-sf", shuffle_partitions=shuffle_width(sf_dir))
    qs = entrymod.queries()
    fails: list[str] = []
    n_skipped = 0
    for name, fn in qs.items():
        if name in skips:
            # no silent caps: every skipped query is logged with its reason
            n_skipped += 1
            print(f"SKIP {name}: {skips[name]}", flush=True)
            continue
        t0 = time.time()
        try:
            n = fn(spark, sf_dir).count()
            print(f"ok   {name} ({time.time() - t0:.1f}s, {n} rows)", flush=True)
        except EmitterCapExceeded as e:
            # by-design guard, not an operator failure: the socket-test
            # emitter refuses driver-side buffers past its documented cap
            n_skipped += 1
            print(f"SKIP {name}: {str(e)[:200]}", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue
            fails.append(name)
            print(f"FAIL {name}: {type(e).__name__} {str(e)[:200]}", flush=True)
    print(
        f"sweep done: {len(qs) - len(fails) - n_skipped}/{len(qs)} ok"
        f" ({n_skipped} skipped, reasons above); fails: {fails}"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
