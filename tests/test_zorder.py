"""Z-order layout (functions/zorder.py, sources/zorder.py).

The skipping test measures the thing the layout claims: under a linear
l_partkey sort, a predicate on the OTHER key (l_suppkey) can skip nothing
— every file's suppkey range spans the whole domain — while the z-order
layout bounds both keys per file, so footer min/max stats exclude most
files for either dimension.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.zorder import z_value, z_value_py
from marketstream_etl_spark.sources.zorder import write_zordered

SF_DIR = "/root/testdata/sf0.01"  # 60K rows: partkey 0..1999, suppkey 0..99


def test_z_value_matches_python_reference(spark):
    pairs = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 255), (1999, 99), (4095, 4095)]
    df = spark.createDataFrame(pairs, "a int, b int")
    got = {
        (r.a, r.b): r.z
        for r in df.select(
            "a", "b", z_value(F.col("a"), F.col("b"), 12).alias("z")
        ).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == z_value_py(a, b, 12), (a, b)


@given(
    a=st.integers(min_value=0, max_value=4095),
    b=st.integers(min_value=0, max_value=4095),
)
def test_z_value_py_is_bijective(a, b):
    """Interleave is invertible: de-interleaving the even/odd bits of z
    recovers (a, b) exactly — no two key pairs share a z-value."""
    z = z_value_py(a, b, 12)
    got_a = sum(((z >> (2 * i)) & 1) << i for i in range(12))
    got_b = sum(((z >> (2 * i + 1)) & 1) << i for i in range(12))
    assert (got_a, got_b) == (a, b)
    assert 0 <= z < 1 << 24


def test_write_zordered_accepts_empty_input(spark, tmp_path):
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .filter("l_partkey < 0")
    )
    out = str(tmp_path / "empty")
    write_zordered(li, out, "l_partkey", "l_suppkey", n_files=4)
    assert spark.read.parquet(out).count() == 0


def _files_intersecting(path: str, column: str, lo: int, hi: int):
    """(n_intersecting, n_total) by parquet row-group footer stats — the
    same min/max the Spark reader uses to skip."""
    ds = pq.ParquetDataset(path)
    n_total = n_hit = 0
    for frag in ds.fragments:
        md = frag.metadata
        idx = md.schema.names.index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            n_total += 1
            if st.min <= hi and st.max >= lo:
                n_hit += 1
    return n_hit, n_total


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(li, zpath, "l_partkey", "l_suppkey", n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    # layout must not change the data
    assert spark.read.parquet(zpath).count() == li.count()
    z_sum = spark.read.parquet(zpath).agg(F.sum("l_quantity")).first()[0]
    l_sum = li.agg(F.sum("l_quantity")).first()[0]
    assert abs(z_sum - l_sum) < 1e-6

    # second-dimension predicate: suppkey BETWEEN 10 AND 39 (30% of domain)
    z_hit, z_tot = _files_intersecting(zpath, "l_suppkey", 10, 39)
    l_hit, l_tot = _files_intersecting(lpath, "l_suppkey", 10, 39)
    assert l_hit == l_tot  # linear partkey sort cannot skip on suppkey
    assert z_hit <= 0.75 * z_tot  # z-order skips at least a quarter

    # leading-dimension predicate still skips under z-order too
    z_hit_a, z_tot_a = _files_intersecting(zpath, "l_partkey", 100, 299)
    assert z_hit_a <= 0.75 * z_tot_a
