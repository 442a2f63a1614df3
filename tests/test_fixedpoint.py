"""functions/fixedpoint: the one quantizer every order-independent sum uses.

The rounding rule is pinned against a pure-Python model and against the
DuckDB expression the oracles spell; the exact sums are pinned against
partition count and row order, beside a plain double sum that moves."""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from marketstream_etl_spark.functions.fixedpoint import (
    FX,
    avg_fx_sql,
    favg_fx,
    from_fx,
    fsum_fx,
    half_up,
    sum_fx_sql,
    to_fx,
)

# ±(k + 0.5)·1e-6 half-boundaries, zeros, and values whose products land
# just beside a boundary
EDGE = sorted(
    {s * (k + 0.5) * 1e-6 for k in (0, 1, 2, 3, 10, 123, 99999) for s in (1, -1)}
    | {0.0, -0.0, 0.5, -0.5, 2.5, -2.5, 0.1234565, -0.1234565, 1.0000005,
       -7.25, 123456.0000005, -123456.0000005}
)

# a plain double sum of these depends on the order it adds them in
SUMMANDS = [
    0.1, 0.2, 0.3, 123456.789012, -123456.789011, 1e8 + 0.1234565, -1e8,
    0.7, 1 / 3, 2.5e-6, -7.25, 1e-7,
]


def _g(x: float) -> str:
    return "%.17g" % x


def test_to_fx_matches_the_python_and_duckdb_models(spark):
    df = spark.createDataFrame([(x,) for x in EDGE], "x double")
    got = df.select(
        "x",
        to_fx(F.col("x")).alias("e6"),
        to_fx(F.col("x"), 100).alias("c"),
        to_fx(F.col("x"), 10_000).alias("e4"),
        half_up(F.col("x")).alias("h"),
    ).collect()
    assert len(got) == len(EDGE)
    for r in got:
        x = r["x"]
        assert r["e6"] == math.floor(x * 1e6 + 0.5), x
        assert r["c"] == math.floor(x * 100.0 + 0.5), x
        assert r["e4"] == math.floor(x * 1e4 + 0.5), x
        assert r["h"] == math.floor(x + 0.5), x
    con = duckdb.connect()
    con.register("t", pa.table({"x": pa.array(EDGE, pa.float64())}))
    duck = dict(
        con.execute(
            "SELECT x, CAST(floor(x * 1e6 + 0.5) AS BIGINT) FROM t"
        ).fetchall()
    )
    assert {r["x"]: r["e6"] for r in got} == duck
    # the rounding is half UP: a negative half goes toward +inf
    assert {x: duck[x] for x in (0.5e-6, -0.5e-6, 1.5e-6, -1.5e-6)} == {
        0.5e-6: 1, -0.5e-6: 0, 1.5e-6: 2, -1.5e-6: -1,
    }


def test_from_fx_divides_once_in_double(spark):
    ks = [0, 1, -1, 1_234_567, -9_876_543_210, 10**15 + 1]
    got = spark.createDataFrame([(k,) for k in ks], "k long").select(
        "k", from_fx(F.col("k")).alias("d"), from_fx(F.col("k"), 100).alias("c")
    ).collect()
    for r in got:
        assert _g(r["d"]) == _g(r["k"] / float(FX))
        assert _g(r["c"]) == _g(r["k"] / 100.0)


def test_exact_sums_ignore_partitioning_and_row_order(spark):
    schema = "x double"
    arrangements = {
        "1 partition": spark.createDataFrame(
            [(x,) for x in SUMMANDS], schema
        ).coalesce(1),
        "1 partition, reversed": spark.createDataFrame(
            [(x,) for x in reversed(SUMMANDS)], schema
        ).coalesce(1),
        "7 partitions": spark.createDataFrame(
            [(x,) for x in SUMMANDS], schema
        ).repartition(7),
    }
    exact, plain = set(), set()
    for df in arrangements.values():
        r = df.agg(
            fsum_fx(F.col("x")).alias("s"),
            fsum_fx(F.col("x"), 10_000).alias("s4"),
            favg_fx(F.col("x")).alias("a"),
            F.sum("x").alias("plain"),
        ).first()
        exact.add((_g(r["s"]), _g(r["s4"]), _g(r["a"])))
        plain.add(_g(r["plain"]))
    assert len(exact) == 1, exact
    # what the quantizer pins: the plain double sum moves with row order
    assert len(plain) > 1, plain
    con = duckdb.connect()
    con.register("t", pa.table({"x": pa.array(SUMMANDS, pa.float64())}))
    duck = con.execute(
        f"SELECT {sum_fx_sql('x')}, {sum_fx_sql('x', 10_000)}, "
        f"{avg_fx_sql('x')} FROM t"
    ).fetchone()
    assert exact == {tuple(_g(v) for v in duck)}


def test_oracle_sql_text_is_unchanged():
    assert avg_fx_sql("v") == (
        "CAST(sum(CAST(floor((v) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
        " / count(*) / 1000000"
    )
    assert sum_fx_sql("a.dist", 10**12) == (
        "CAST(sum(CAST(floor((a.dist) * 1000000000000 + 0.5) AS BIGINT))"
        " AS DOUBLE) / 1000000000000"
    )
