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

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from marketstream_etl_spark.session import get_spark
from marketstream_etl_spark.streaming.ticks import EmitterCapExceeded

# Above this input volume the default 4g test heap is known-insufficient
# (sf1's containment_pairs shingle explode OOMs mid-sweep: local[32]
# shares one heap across 32 "executors" ≈ 128 MiB/thread, far below any
# real cluster's per-executor memory).  sf0.1 is ~17 MB, sf1 ~178 MB —
# the threshold sits between the decades.
BIG_SWEEP_BYTES = 64 * 1024 * 1024
BIG_SWEEP_MEM = "32g"  # still modest: 1 GiB per local[32] thread


def ensure_shuffle_width(sf_dir: str) -> None:
    """Input-scaled shuffle width for decade-scale runs (r12): fixed 32
    reduce slots spill once per-partition shuffle blocks outgrow memory
    — tfidf_keywords' ~300M-row postings shuffles measured 90.0 s at 32
    vs 57.0 s at 256 warm (226 -> 84 s cold) at the sf100 decade.  Sets
    SPARK_GRAFT_SHUFFLE_PARTITIONS (read by session.get_spark) to
    ~input_bytes/32MB clamped to [32, 1024]; small inputs stay at the
    harness default and an explicitly-set env is respected.  On a real
    cluster this is the ops-owned spark.sql.shuffle.partitions sizing —
    a global AQE initialPartitionNum fix was tried and rejected by
    measurement (see session.py).

    Multi-dir runs (probe_decade) call this once per dir BEFORE the
    shared session is built; r12 ADVICE caught that an
    early-return on an already-set env let the FIRST >32-width dir win,
    so ascending dirs (sf1, sf10, sf100) ran the largest decade at the
    smaller dir's width.  An auto-set width (marked by the _AUTO twin
    env) is therefore raised to the max over all dirs seen; only a
    user-set env (no marker) is respected as-is."""
    env_width = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    auto_marked = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS_AUTO") == "1"
    if env_width and not auto_marked:
        return  # user-set: respect verbatim
    nbytes = sum(
        os.stat(p).st_size
        for pat in ("*.parquet", "*/*.parquet")
        for p in glob.glob(os.path.join(sf_dir, pat))
    )
    width = max(32, min(1024, nbytes // (32 * 1024 * 1024)))
    if auto_marked and env_width and env_width.isdigit():
        width = max(width, int(env_width))
    if width > 32:
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(width)
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS_AUTO"] = "1"
        print(
            f"sweep: input {nbytes / 1e6:.0f} MB — auto-set "
            f"SPARK_GRAFT_SHUFFLE_PARTITIONS={width} (fixed 32 spills at "
            "decade scale; see session.get_spark)",
            flush=True,
        )


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
    nbytes = sum(
        os.stat(p).st_size
        for pat in ("*.parquet", "*/*.parquet")
        for p in glob.glob(os.path.join(sf_dir, pat))
    )
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
    ensure_shuffle_width(sf_dir)
    spark = get_spark("sweep-sf")
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
