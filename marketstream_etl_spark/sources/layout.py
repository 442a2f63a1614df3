"""Scan layout: `fan_out_small_scan` gives expression-heavy operators full
parallelism when the source scan has fewer splits than cores (small
single-row-group files — a test-scale artifact; at production scale scans
split naturally and this is a no-op).

The written layouts that serve the reference's composite B-tree index
`(symbol, timestamp)` (DatabaseLoader.cpp:117-125, SURVEY §4) live next to
their queries: `sources/partitioned.py` (partition pruning),
`sources/bucketed.py` (co-located joins) and `sources/zorder.py`
(multi-column data skipping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# COMPRESSED bytes of input per fan-out task.  The fanned-out consumers
# are expression-heavy maps (JSON access, regex validation, window prep);
# parquet compresses these string-heavy rows ~5-10x, so 512 KB compressed
# ≈ 3-5 MB of decompressed work ≈ 20-50 ms per task — comfortably above
# local task-launch overhead (~5-15 ms).  Measured on the sf0.1 events
# scan (2.0 MB → width 4): validate-split noop best-of-5 was 0.554 s at
# width 4 / 0.562 at 8 vs 0.697 at the natural width 1 and ~0.62 at the
# old unconditional full-parallelism 32, so width ≈ size/512 KB sits at
# the measured optimum while still reaching full cluster width once the
# input exceeds 512 KB × defaultParallelism.
_FAN_OUT_TARGET_BYTES = 512 * 1024


def fan_out_small_scan(df: DataFrame, input_bytes: int) -> DataFrame:
    """Round-robin repartition toward full parallelism when the scan has
    fewer splits than the data warrants.

    Parquet scans split by byte range (`spark.sql.files.maxPartitionBytes`),
    but a file with a single row group yields exactly one task no matter the
    setting, so downstream regex/window/JSON work would serialize on one
    core.  The shuffle moves only the scan's raw bytes (small by premise);
    callers apply it BEFORE expensive projections so those run wide.

    The width is INPUT-SCALED from `input_bytes`, the source's file size
    (optimization guide §2: derive partitioning from input size, not a
    constant tuned for one deployment): ceil(bytes / 512 KB) clamped to
    [1, defaultParallelism] — see _FAN_OUT_TARGET_BYTES for the width
    measurement.  A tiny input keeps its natural split count while
    anything over 512 KB * defaultParallelism still fans out to full
    width.  Skipped entirely when the scan itself already yields at least
    that many splits (estimated from maxPartitionBytes driver-side; no
    df.rdd materialization, which cost ~50 ms per plan build)."""
    para = df.sparkSession.sparkContext.defaultParallelism
    width = min(para, max(1, -(-int(input_bytes) // _FAN_OUT_TARGET_BYTES)))
    try:
        max_pb = int(
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes")
        )
    except Exception:
        max_pb = 128 * 1024 * 1024
    splits_est = max(1, -(-int(input_bytes) // max_pb))
    if width <= splits_est:
        return df
    return df.repartition(width)
