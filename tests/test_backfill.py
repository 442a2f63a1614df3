"""Dynamic partition overwrite (sources/partitioned.py backfill)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from marketstream_etl_spark.sources.partitioned import (
    BACKFILL_DAY_OFFSET,
    ensure_backfilled_events,
)
from marketstream_etl_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_backfill_rewrites_only_one_partition(spark):
    path = ensure_backfilled_events(spark, SF_DIR)
    day_dirs = sorted(glob.glob(os.path.join(path, "day=*")))
    assert len(day_dirs) > 2

    bday = min(
        int(d.rsplit("=", 1)[1]) for d in day_dirs
    ) + BACKFILL_DAY_OFFSET
    corrected_dir = os.path.join(path, f"day={bday}")
    assert corrected_dir in day_dirs

    def newest(d: str) -> int:
        return max(
            os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(d, "*.parquet"))
        )

    # the corrected partition was written by the second (dynamic) job, so
    # its files are strictly newer than every untouched partition's files
    others = [d for d in day_dirs if d != corrected_dir]
    assert all(newest(corrected_dir) > newest(d) for d in others)

    # and the doubled values live exactly there
    df = spark.read.parquet(path)
    src = load_table(spark, SF_DIR, "events").select(
        F.expr("(ts - ts % 1000) DIV 86400000000000").alias("day"), "value"
    )
    got = df.filter(F.col("day") == bday).agg(F.sum("value")).first()[0]
    want = src.filter(F.col("day") == bday).agg(F.sum("value")).first()[0]
    assert abs(got - 2 * want) < 1e-6
