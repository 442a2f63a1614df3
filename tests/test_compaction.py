"""Small-file compaction (sources/compaction.py)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from marketstream_etl_spark.sources.compaction import compact_parquet

SF_DIR = "/root/testdata/sf0.001"


def _parquet_files(path: str) -> list[str]:
    return glob.glob(f"{path}/*.parquet")


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    docs.repartition(40).write.parquet(frag)
    assert len(_parquet_files(frag)) == 40

    n = docs.count()
    n_files = compact_parquet(spark, frag, out, target_rows_per_file=-(-n // 4))
    assert n_files == 4
    assert len(_parquet_files(out)) == 4

    before = docs.agg(
        F.count("*"), F.count_distinct("doc_id"), F.sum(F.length("text"))
    ).first()
    after = spark.read.parquet(out).agg(
        F.count("*"), F.count_distinct("doc_id"), F.sum(F.length("text"))
    ).first()
    assert tuple(before) == tuple(after)


def test_compaction_floor_is_one_file(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    docs.repartition(8).write.parquet(frag)
    assert compact_parquet(spark, frag, out, target_rows_per_file=1 << 20) == 1
    assert len(_parquet_files(out)) == 1
    assert spark.read.parquet(out).count() == 10
