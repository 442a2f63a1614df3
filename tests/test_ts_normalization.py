"""events.ts normalization across parquet timestamp encodings.

The driver regenerates /root/testdata between rounds and has already
changed the events.ts encoding once (round 1: INT64 TIMESTAMP(NANOS);
round 2+: TIMESTAMP(MICROS) → TIMESTAMP_NTZ in Spark).  load_table must
yield int64 epoch-ns for BOTH, and the values must equal DuckDB's
naive-as-UTC read (epoch_us(ts)*1000 — the oracle convention).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from marketstream_etl_spark.sources import tables
from marketstream_etl_spark.sources.tables import load_table, stream_table

TS_US = [1_704_067_200_000_000, 1_704_067_200_123_456, 1_735_689_599_999_999]


def _write_events(tmpdir: str, unit: str) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [t * 1000 for t in TS_US] if unit == "ns" else TS_US,
                pa.timestamp(unit),
            ),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["view", "click", "purchase"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(['{"k": 1}', '{"k": 2}', '{"k": 3}']),
        }
    )
    pq.write_table(table, os.path.join(tmpdir, "events.parquet"))
    return tmpdir


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_load_table_yields_epoch_ns(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "bigint"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert got == [t * 1000 for t in TS_US]


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_stream_table_matches_load_table(spark, tmp_path, monkeypatch, unit):
    """The file-source replay of events has load_table's columns and
    types (ts normalized to epoch-ns) and reads the schema load_table
    cached instead of inferring it from the footer again."""
    from pyspark.sql.readwriter import DataFrameReader

    sf_dir = _write_events(str(tmp_path), unit)
    batch = load_table(spark, sf_dir, "events")
    path = os.path.join(sf_dir, "events.parquet")
    assert (path, os.stat(path).st_mtime_ns) in tables._SCHEMA_CACHE
    inferred = []
    real = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader,
        "parquet",
        lambda self, *paths, **kw: inferred.append(paths) or real(self, *paths, **kw),
    )
    stream = stream_table(spark, sf_dir, "events")
    assert stream.isStreaming
    assert stream.dtypes == batch.dtypes
    assert dict(stream.dtypes)["ts"] == "bigint"
    assert inferred == []


def test_caller_timezone_survives_load_table(spark, tmp_path):
    """normalize_event_ts must not own spark.sql.session.timeZone: the
    conversion is expression-scoped (NTZ timestampdiff), so a caller-set
    non-UTC zone survives AND the ns values still match the naive-as-UTC
    oracle convention."""
    sf_dir = _write_events(str(tmp_path), "us")
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, sf_dir, "events")
        got = [r.ts for r in df.orderBy("event_id").collect()]
        assert got == [t * 1000 for t in TS_US]
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_matches_duckdb_oracle_convention(spark, tmp_path):
    sf_dir = _write_events(str(tmp_path), "us")
    spark_ns = [
        r.ts
        for r in load_table(spark, sf_dir, "events").orderBy("event_id").collect()
    ]
    duck_ns = [
        r[0]
        for r in duckdb.sql(
            f"SELECT epoch_us(ts) * 1000 FROM '{sf_dir}/events.parquet' "
            "ORDER BY event_id"
        ).fetchall()
    ]
    assert spark_ns == duck_ns
