"""Z-ordered lineitem layout — two-dimensional data skipping from one copy.

A hive-partitioned table (sources/partitioned.py) serves the reference's
composite-index query pattern for ONE leading key.  This module lays
lineitem out in Morton order of ``(l_partkey, l_suppkey)``
(functions/zorder.py): repartitionByRange on the z-value puts nearby
(part, supp) boxes in the same files, and the in-file sort makes parquet
row-group min/max stats tight on BOTH columns.  A box predicate on either
or both keys then skips most row groups at scan time — no index, no second
sorted copy.  tests/test_zorder.py measures the per-file key spread against
a linear single-key sort to prove the claim.

Write-once per source dir under the warehouse, keyed like formats.py.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.zorder import z_value
from marketstream_etl_spark.sources.tables import load_table, warehouse_path

Z_BITS = 12  # 4096 buckets per dimension after min/max scaling


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16
) -> None:
    """Write `df` as parquet files clustered by z(col_a, col_b).

    Both keys are first scaled to a common Z_BITS-bit space from their
    min/max (one cheap agg — at warehouse scale these bounds come from
    table stats).  Without the scaling a wider-domain key owns all the
    high interleave bits and the layout degenerates to a single-key sort.
    repartitionByRange samples the z distribution so files get contiguous,
    evenly-sized z slices; sortWithinPartitions orders rows inside each file
    so row-group stats are tight, not just file-level."""
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    if lo_a is None or lo_b is None:  # empty input: write the empty layout
        df.write.mode("overwrite").parquet(path)
        return

    def scaled(col: str, lo, hi) -> Column:
        span = max(int(hi) - int(lo), 1)
        return (
            (F.col(col) - F.lit(int(lo))).cast("double")
            * ((1 << Z_BITS) - 1)
            / span
        ).cast("long")

    z = z_value(scaled(col_a, lo_a, hi_a), scaled(col_b, lo_b, hi_b), Z_BITS)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def ensure_zordered_lineitem(spark: SparkSession, sf_dir: str) -> str:
    path = warehouse_path(spark, "zorder_lineitem", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_zordered(
            load_table(spark, sf_dir, "lineitem"),
            path,
            "l_partkey",
            "l_suppkey",
        )
    return path


def zordered_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(ensure_zordered_lineitem(spark, sf_dir))
