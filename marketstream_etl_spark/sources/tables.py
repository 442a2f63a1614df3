"""Parquet table loaders for the driver testdata (TESTDATA.md).

Thin wrappers over ``spark.read.parquet`` — the vectorized Parquet reader
gives predicate pushdown, column pruning and row-group skipping for free, so
there is nothing to hand-build here (SURVEY §4).  ``stream_table`` reads the
same tables as bounded file-source streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from marketstream_etl_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread(df: DataFrame) -> DataFrame:
    """Repartition to the cluster's parallelism before a CPU-bound map.

    Small-file inputs arrive as ONE scan partition (the sf0.1 documents/
    embeddings tables measured exactly that), serializing tokenize/
    explode/dot-product stages on a single thread.  At 100 TB the scan is
    already parallel and this degrades to a cheap narrow-row shuffle; the
    call sites are the operator family entry points whose next stage is
    compute-heavy, never the cheap relational plans (where an extra
    exchange would just burn a shuffle)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def source_key(sf_dir: str) -> str:
    """8-hex cache key for every write-once fixture derived from a testdata
    dir.  Keyed on path AND data mtime: regenerated testdata must not be
    served from a fixture built against the previous generation."""
    import glob
    import hashlib

    mtime = max(
        (os.stat(p).st_mtime_ns for p in glob.glob(os.path.join(sf_dir, "*.parquet"))),
        default=0,
    )
    return hashlib.md5(f"{sf_dir}@{mtime}".encode()).hexdigest()[:8]


def sink_name(prefix: str, sf_dir: str) -> str:
    """Deterministic memory-sink / temp-view / scratch-DB name for a
    dataset dir.  source_key is unique per (path, data generation),
    unlike the salted-Python-hash % 1e5 it replaces (r8 ADVICE: two runs
    against DIFFERENT sf_dirs could collide in the 1e5 keyspace and the
    second complete-mode snapshot would silently replace the first)."""
    return f"{prefix}_{source_key(sf_dir)}"


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet footer metadata — driver-side, no
    Spark job.  Handles both a single file and a Spark-written directory
    of part files.  Used as a planner hint (e.g. the simhash broadcast-vs-
    shuffle switch, the IVF codebook size); None when absent/unreadable."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def warehouse_path(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Canonical cache path for a derived dataset: one directory per
    (artifact name, source key) under the session warehouse.  Every
    write-once fixture (ORC/XML/JSONL copies, z-order layout, compaction)
    keys through here so the keying scheme has a single definition."""
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    return os.path.join(warehouse, f"{name}_{source_key(sf_dir)}")


def normalize_event_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Restore the repo-wide invariant `events.ts is int64 epoch-ns`
    regardless of the parquet timestamp encoding of the testdata:

    - TIMESTAMP(NANOS) files (+ nanosAsLong) arrive as LongType ns → pass.
    - TIMESTAMP(MICROS) files arrive as TIMESTAMP_NTZ → interpret the wall
      clock as UTC (exactly DuckDB's ``epoch_us(ts)*1000`` oracle, which is
      tz-naive) and widen to ns.

    The engine keeps raw int64 ns downstream to match the reference's time
    model (Trade.hpp:21) and because ns magnitudes exceed double's 2^53
    mantissa — all bucketing stays in integer arithmetic.  Pure projection:
    valid on both batch and streaming frames.
    """
    dtypes = dict(df.dtypes)
    if dtypes.get("ts") == "timestamp_ntz":
        # Wall-clock-as-UTC via pure NTZ arithmetic: timestampdiff on NTZ
        # operands never consults the session timezone, so the caller's
        # spark.sql.session.timeZone is left untouched (a conf the engine
        # must not own — see ensure_engine_confs' only-if-default contract).
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000),
        )
    elif dtypes.get("ts") == "timestamp":
        # LTZ carries an absolute instant (isAdjustedToUTC parquet encoding);
        # unix_micros reads the instant directly, timezone-independent.
        df = df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def ensure_engine_confs(spark: SparkSession) -> None:
    """One-time session tuning when the engine runs under a caller-owned
    vanilla session (the external driver's): each conf is set only if still
    at its Spark default, so a caller's explicit choice always wins.

    - nanosAsLong: NANOS-era testdata is unreadable without it
      (PARQUET_TYPE_ILLEGAL); no-op for MICROS files.
    - shuffle partitions: the Spark default of 200 is wrong for local[32]
      and makes every STATEFUL streaming query build 200 state-store
      partitions per side (measured 31s for the stream-stream join at
      sf0.01); 32 matches session.py.  Batch plans are unaffected either
      way — AQE coalesces them at runtime.
    """
    # memoized per session OBJECT: every load_table call otherwise pays
    # 2 py4j conf reads (~ms each); the flag dies with the session, and a
    # fresh getOrCreate() session re-runs the checks
    if getattr(spark, "_msetl_engine_confs_done", False):
        return
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark._msetl_engine_confs_done = True


# Driver-side schema cache for the testdata parquet scans, keyed by
# (file path, file mtime).  `spark.read.parquet(path)` without a schema
# runs footer-based schema inference on EVERY call — measured ~0.2 s of
# pure driver work per call at sf0.1 (Hadoop FS + footer parse + pandas
# metadata), paid again on every warm bench run because queries rebuild
# their DataFrames each run.  Caching the inferred StructType and passing
# it back via `.schema(...)` is exactly what a table format's catalog
# metadata does at scale (manifest-held schemas — optimization guide §6);
# it caches PLAN metadata, never data or results.  The mtime key means a
# regenerated testdata file re-infers.  The inferred schema depends on
# spark.sql.legacy.parquet.nanosAsLong, which ensure_engine_confs pins
# before every inference, so entries are session-portable.
_SCHEMA_CACHE: dict[tuple[str, int], StructType] = {}


def _table_schema(spark: SparkSession, path: str) -> StructType:
    """The footer schema of one testdata table file, inferred once per
    (path, mtime) and served from _SCHEMA_CACHE after that."""
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path).schema  # let Spark raise its own error
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_table_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(spark, df)
    return df


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The testdata table `name` as a bounded file-source stream: the
    streaming twin of load_table, with the same cached schema and, for
    events, the same int64 epoch-ns `ts`.

    The file source reads a directory, so `sf_dir` is filtered down to
    the one file with pathGlobFilter=<name>.parquet.  That needs the
    testdata's single-file layout (tools/gen_sf1.write_single): the
    part-NNNN files of a Spark-written table directory do not match the
    filter, and the stream would replay nothing."""
    ensure_engine_confs(spark)
    schema = _table_schema(spark, os.path.join(sf_dir, f"{name}.parquet"))
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events":
        df = normalize_event_ts(spark, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql plans."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
