"""Data-layout helpers — the lakehouse analog of the reference's composite
B-tree index `(symbol, timestamp)` (DatabaseLoader.cpp:117-125, SURVEY §4):

- `write_partitioned_sorted`: hive-partition by the equality key and sort
  files by the range key → `WHERE symbol='X' AND ts BETWEEN a AND b` becomes
  partition pruning + parquet min/max row-group skipping.  That is the F5
  "key lookup" query served without any index structure.
- `write_bucketed_table`: pre-shuffle a fact table into N buckets on the
  join key so repeated joins on that key are co-located — no exchange at
  query time (the managed-table analog of the reference's one-off index
  rebuild amortized over many queries).
- `fan_out_small_scan`: give expression-heavy operators full parallelism
  when the source scan has fewer splits than cores (small single-row-group
  files — a test-scale artifact; at production scale scans split naturally
  and this is a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned_sorted(
    df: DataFrame,
    path: str,
    partition_col: str,
    sort_cols: list[str],
    target_file_partitions: int | None = None,
) -> None:
    """Partition by `partition_col`, one sorted parquet file per partition
    (sortWithinPartitions → parquet writes monotone min/max page stats)."""
    n = target_file_partitions or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartition(n, partition_col)
        .sortWithinPartitions(partition_col, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


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


def fan_out_small_scan(df: DataFrame, input_bytes: int | None = None) -> DataFrame:
    """Round-robin repartition toward full parallelism when the scan has
    fewer splits than the data warrants.

    Parquet scans split by byte range (`spark.sql.files.maxPartitionBytes`),
    but a file with a single row group yields exactly one task no matter the
    setting, so downstream regex/window/JSON work would serialize on one
    core.  The shuffle moves only the scan's raw bytes (small by premise);
    callers apply it BEFORE expensive projections so those run wide.

    The width is INPUT-SCALED when the caller supplies `input_bytes`
    (optimization guide §2: derive partitioning from input size, not a
    constant tuned for one deployment): ceil(bytes / 512 KB) clamped to
    [1, defaultParallelism] — see _FAN_OUT_TARGET_BYTES for the width
    measurement.  A tiny input keeps its natural split count while
    anything over 512 KB * defaultParallelism still fans out to full
    width exactly as before.  Skipped entirely when the scan itself
    already yields at least
    that many splits (estimated from maxPartitionBytes driver-side; no
    df.rdd materialization, which cost ~50 ms per plan build).

    Without `input_bytes` the legacy behavior stands: probe the RDD and
    fan out to full parallelism when narrower."""
    sc = df.sparkSession.sparkContext
    para = sc.defaultParallelism
    if input_bytes is None:
        if df.rdd.getNumPartitions() >= para:
            return df
        return df.repartition(para)
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
