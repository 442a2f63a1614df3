"""Second-decade scale probe: time the headline + heavy operator families
at sf0.1 (real testdata) vs 'sf1' (tools/gen_sf1.py synthetic, 10x) in
one warm session — the same methodology as the README's sf0.01→sf0.1
probes (codegen pre-warmed at sf0.001, count()-forced, best-of-N).

    python tools/gen_sf1.py            # once
    python tools/probe_decade.py       # prints per-op sf0.1 / sf1 / ratio

Third decade (r8 VERDICT item 7): generate the sf10 probe set and pass
its dir plus --ops for the headline five — extends the scaling table to
sf0.1 -> sf1 -> sf10 where the 100x claim lives:

    python tools/gen_sf1.py /tmp/marketstream_sf10 --scale 10 --skip-tpch
    python tools/probe_decade.py /root/testdata/sf0.1 /tmp/marketstream_sf1 \
        /tmp/marketstream_sf10 --ops indicators,ohlc_bars,dedup_minhash_lsh,ann_ivf,bm25_search
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# the package before the entry module, whose own sys.path line would
# otherwise pick the package of another checkout
from marketstream_etl_spark.session import get_spark
from tools.sweep_sf import ensure_driver_mem, shuffle_width

import __spark_entry__ as entrymod

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/marketstream_sf1"
WARM = "/root/testdata/sf0.001"
N = 3

OPS = [
    "indicators",
    "ohlc_bars",
    "volume_bars",
    "dedup_minhash_lsh",
    "winnowing_pairs",
    "ann_ivf",
    "ann_bruteforce",
    "bm25_search",
    "text_analysis",
    "contamination",
    "hll_cardinality",
    # TPC-H rows are excluded: sf1 synthesizes only the events/documents/
    # embeddings tables (gen_sf1.py); the TPC-H surface has its own
    # sf0.01→sf0.1 evidence and its tables are driver-generated.
]


def main() -> None:
    args = sys.argv[1:]
    ops = OPS
    if "--ops" in args:
        i = args.index("--ops")
        ops = args[i + 1].split(",")
        del args[i : i + 2]
    # --force-columns: materialize via sum(hash(*)) instead of count().
    # count() lets Catalyst PRUNE expensive columns nothing consumes —
    # honest for aggregate-shaped queries (the window feeds the agg) but
    # it under-priced rolling_time_window 0.28 s vs 17.84 s forced at
    # sf100 (r12).  Use this flag when probing ops whose cost lives in a
    # projected-but-unaggregated column.
    force_columns = "--force-columns" in args
    if force_columns:
        args.remove("--force-columns")
    dirs = args or [SF01, SF1]
    # same fail-fast heap provisioning as the scale-abort sweep: a probe
    # list that includes a >64 MB decade must not OOM the default 4g test
    # heap mid-batch (an sf10 dedup_clusters probe killed the context via
    # GCLocker allocation failure and poisoned every later row)
    for d in dirs:
        ensure_driver_mem(d)
    # one shared session: the largest dir's width serves every decade
    widths = [w for w in map(shuffle_width, dirs) if w is not None]
    spark = get_spark(
        "probe-decade", shuffle_partitions=max(widths, default=None)
    )
    qs = entrymod.queries()
    hdr = "".join(f"{d.rstrip('/').rsplit('/', 1)[-1]:>18}" for d in dirs)
    print(f"{'op':<22}{hdr}   (best-of-{N} s, rows; ratio vs previous)")
    for name in ops:
        if name not in qs:
            print(f"{name:<22}  -- not registered")
            continue
        fn = qs[name]
        try:
            fn(spark, WARM).count()  # codegen warm
            cells, prev = [], None
            for sf in dirs:
                runs, rows = [], 0
                for _ in range(N):
                    t0 = time.perf_counter()
                    df = fn(spark, sf)
                    if force_columns:
                        from pyspark.sql import functions as F
                        from pyspark.sql import types as T

                        # r12 ADVICE: F.hash(*df.columns) throws on map
                        # columns (Spark cannot hash MapType) and dotted
                        # names would mis-resolve as paths; index via
                        # df[c] and to_json any unhashable column so the
                        # probe still forces full-row materialization.
                        cols = [
                            F.to_json(df[c])
                            if isinstance(
                                f.dataType, (T.MapType, T.VariantType)
                            )
                            else df[c]
                            for c, f in zip(df.columns, df.schema.fields)
                        ]
                        df.select(F.sum(F.hash(*cols))).collect()
                        rows = -1  # rows not counted on this basis
                    else:
                        rows = df.count()
                    runs.append(time.perf_counter() - t0)
                best = min(runs)
                ratio = "" if prev is None else f" x{best / prev:.1f}"
                cells.append(f"{best:>8.2f}s {rows:>7}{ratio}")
                prev = best
            print(f"{name:<22}{''.join(cells)}", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue
            print(f"{name:<22}  FAIL {type(e).__name__}: {str(e)[:160]}")


if __name__ == "__main__":
    main()
