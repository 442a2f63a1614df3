"""S8/S9 sink surface: the JDBC option set a real PostgreSQL bulk target
needs, locked against the embedded-Derby sandbox (r5 VERDICT item 7).

What stays environment-bound and untestable here: the PostgreSQL server
itself (wire protocol, COPY vs batched INSERT throughput, server-side
TRUNCATE semantics).  What this file DOES lock: the exact writer options
and connection properties our sink builders hand to `df.write.jdbc`, so
pointing the same code at `jdbc:postgresql://...` exercises an
already-tested surface rather than untested option paths.
"""

from __future__ import annotations

import pytest

from marketstream_etl_spark.sources.sinks import (
    DEFAULT_BATCHSIZE,
    DERBY_DRIVER,
    derby_url,
    drop_if_exists,
    jdbc_write_options,
    pg_connection_properties,
    read_jdbc,
    write_jdbc_bulk,
)


def test_jdbc_write_options_exact_default_set():
    # the exact keys/values a Postgres bulk load needs — a missing or
    # renamed key here means production hits an untested write path
    assert jdbc_write_options() == {
        "truncate": "true",
        "batchsize": str(DEFAULT_BATCHSIZE),
        "isolationLevel": "READ_COMMITTED",
    }


def test_jdbc_write_options_parameterized():
    opts = jdbc_write_options(truncate=False)
    assert opts == {
        "truncate": "false",
        "batchsize": str(DEFAULT_BATCHSIZE),
        "isolationLevel": "READ_COMMITTED",
    }
    # DataSource option maps are untyped: every value must be a string
    assert all(isinstance(v, str) for v in opts.values())


def test_pg_connection_properties_url_gated():
    base = {"driver": "org.postgresql.Driver", "user": "etl"}
    pg = pg_connection_properties(base, "jdbc:postgresql://db:5432/mkt")
    assert pg["reWriteBatchedInserts"] == "true"  # the ~2-3x bulk lever
    assert pg["driver"] == "org.postgresql.Driver"
    # non-postgres targets must NOT receive the foreign driver flag
    derby = pg_connection_properties(
        {"driver": DERBY_DRIVER}, derby_url("optprobe")
    )
    assert "reWriteBatchedInserts" not in derby
    # and the input dict is never mutated
    assert "reWriteBatchedInserts" not in base


def test_write_jdbc_bulk_derby_roundtrip_and_truncate(spark):
    """Drive write_jdbc_bulk (the S9 builder with the full Postgres option
    set) against embedded Derby twice: the second overwrite exercises the
    truncate=true path (TRUNCATE TABLE, not DROP+CREATE), and the readback
    proves all rows landed exactly once each time."""
    url = derby_url("sink_options_roundtrip")
    table = "bulk_opts"
    drop_if_exists(spark, url, [table])
    props = {"driver": DERBY_DRIVER}

    df1 = spark.range(100).selectExpr("id AS trade_id", "id * 2 AS volume")
    write_jdbc_bulk(df1, url, table, props, num_streams=2, truncate=True)
    back1 = read_jdbc(spark, url, table)
    assert back1.count() == 100
    assert back1.agg({"volume": "sum"}).collect()[0][0] == sum(
        2 * i for i in range(100)
    )

    # overwrite with truncate: table survives (no DROP), rows replaced
    df2 = spark.range(7).selectExpr("id AS trade_id", "id AS volume")
    write_jdbc_bulk(df2, url, table, props, num_streams=2, truncate=True)
    back2 = read_jdbc(spark, url, table)
    assert back2.count() == 7
    assert {r["trade_id"] for r in back2.collect()} == set(range(7))


def test_write_jdbc_bulk_append_mode(spark):
    url = derby_url("sink_options_append")
    table = "bulk_append"
    drop_if_exists(spark, url, [table])
    props = {"driver": DERBY_DRIVER}
    df = spark.range(10).selectExpr("id AS trade_id", "id AS volume")
    write_jdbc_bulk(df, url, table, props, num_streams=2, truncate=False)
    write_jdbc_bulk(df, url, table, props, num_streams=2, truncate=False)
    assert read_jdbc(spark, url, table).count() == 20


@pytest.mark.parametrize("truncate", [True, False])
def test_bulk_options_reach_the_writer(spark, truncate, monkeypatch):
    """The builder must pass jdbc_write_options() through verbatim —
    captured at the DataFrameWriter boundary so a silent option drop
    (e.g. a refactor replacing .options() with a lone .option()) fails
    here rather than in production."""
    captured = {}
    from pyspark.sql.readwriter import DataFrameWriter

    orig_options = DataFrameWriter.options

    def options_spy(self, **opts):
        captured.setdefault("options", {}).update(opts)
        return orig_options(self, **opts)

    def jdbc_spy(self, url, table, mode=None, properties=None):
        captured["properties"] = dict(properties or {})
        return None  # never touch a database in this test

    monkeypatch.setattr(DataFrameWriter, "options", options_spy)
    monkeypatch.setattr(DataFrameWriter, "jdbc", jdbc_spy)
    df = spark.range(3).selectExpr("id AS trade_id")
    write_jdbc_bulk(
        df,
        "jdbc:postgresql://db:5432/mkt",
        "t",
        {"driver": "org.postgresql.Driver"},
        num_streams=2,
        truncate=truncate,
    )
    assert captured["options"]["truncate"] == str(truncate).lower()
    assert captured["options"]["batchsize"] == str(DEFAULT_BATCHSIZE)
    assert captured["options"]["isolationLevel"] == "READ_COMMITTED"
    assert captured["properties"]["reWriteBatchedInserts"] == "true"


@pytest.mark.parametrize(
    "name, truncate",
    [("parallel_jdbc_roundtrip", True), ("streaming_jdbc_sink", False)],
)
def test_registered_jdbc_queries_write_the_bulk_option_set(
    spark, sf_dir, name, truncate, monkeypatch
):
    """Both registered JDBC queries hand the writer the option set locked
    above, captured at the DataFrameWriter boundary while the real Derby
    write runs: the batch load overwrites with TRUNCATE, the stream's
    foreachBatch epochs append."""
    from pyspark.sql.readwriter import DataFrameWriter

    import marketstream_etl_spark.plans.analytics  # noqa: F401 (registers)
    import marketstream_etl_spark.streaming.jdbc_sink  # noqa: F401
    from marketstream_etl_spark.registry import QUERIES

    captured = []
    orig_options = DataFrameWriter.options

    def options_spy(self, **opts):
        captured.append(opts)
        return orig_options(self, **opts)

    monkeypatch.setattr(DataFrameWriter, "options", options_spy)
    assert QUERIES[name](spark, sf_dir).count() > 0
    # the stream writes two tables per epoch
    assert len(captured) >= (1 if truncate else 2)
    assert all(o == jdbc_write_options(truncate=truncate) for o in captured)


def test_derby_log_path_is_per_user_per_process():
    """r10 ADVICE: a fixed world-shared /tmp path is a symlink/ownership
    hazard on multi-user hosts — the path must embed uid and pid."""
    import os

    from marketstream_etl_spark.sources.sinks import derby_log_path

    p = derby_log_path()
    assert str(os.getpid()) in p
    assert p != "/tmp/spark_graft_derby.log"


def test_redirect_derby_log_keys_idempotence_on_jvm(spark):
    """Idempotence probes the JVM property, not a Python global, so a
    fresh JVM later in the same process would be re-covered."""
    from marketstream_etl_spark.sources import sinks

    sinks.redirect_derby_log(spark)
    jsys = spark._sc._jvm.java.lang.System
    val = jsys.getProperty("derby.stream.error.file")
    assert val is not None
    # second call leaves the already-set value alone
    sinks.redirect_derby_log(spark)
    assert jsys.getProperty("derby.stream.error.file") == val
    assert not hasattr(sinks, "_DERBY_LOG_REDIRECTED")
