"""SparkSession factory.

Local-mode defaults tuned for the test harness (local[32], 128 GiB), but the
knobs that matter at cluster scale (AQE, skew-join handling, shuffle
partitions, Arrow) are set so the same plans survive a 1000-executor run.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# the checkout this module belongs to: Python workers import the package
# from here, not from whatever directory the process started in
REPO_ROOT = str(Path(__file__).resolve().parents[1])


def get_spark(
    app_name: str = "marketstream_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with scale-sane defaults.

    - AQE on: runtime coalescing of shuffle partitions and skew-join
      splitting replace hand-tuned partition counts at 100 TB.
    - Arrow on: every Pandas-UDF boundary is Arrow-batched.
    - UTC session timezone: deterministic oracle comparison (DuckDB is
      UTC-naive).
    - Workers' PYTHONPATH holds this checkout, so Python UDFs and
      ``mapInPandas`` kernels import the driver's package from any cwd.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # decade-scale tools pass an input-scaled width instead
        # (tools/sweep_sf.shuffle_width)
        shuffle_partitions = (
            int(cpus) if cpus.isdigit() else DEFAULT_SHUFFLE_PARTITIONS
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # measured on the local[32] harness: 4g is the sweet spot for the
        # single-JVM driver+executor heap (1g default degrades long runs
        # under GC pressure; oversized heaps measured far worse on the
        # streaming bench). Cluster deployments size executors separately.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", REPO_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 16 MB scan splits (default 128 MB): the single-FILE testdata
        # layout otherwise maps a whole 100+ MB table to ONE scan task at
        # the sf1 decade, serializing the scan and first shuffle write.
        # Needs multi-row-group files to bite (gen_sf1 writes 8 MB row
        # groups).  At real cluster scale data arrives pre-split across
        # many files, so a smaller split size only adds task granularity
        # — AQE coalesces the excess.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # testdata events.ts is parquet TIMESTAMP(NANOS); read as int64 ns —
        # matching the reference's raw-ns time model (Trade.hpp:21)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_benign_scheduler_errors(spark)
    # keep embedded Derby's engine log out of the process CWD (repo root)
    from marketstream_etl_spark.sources.sinks import redirect_derby_log

    redirect_derby_log(spark)
    return spark


def _silence_benign_scheduler_errors(spark: SparkSession) -> None:
    """Pin the DAGScheduler logger to FATAL.

    The non-eager ``localCheckpoint`` barriers (the GenerateExec
    projection-collapse fix) cause Spark's known-benign
    ``ERROR DAGScheduler: Failed to update accumulator N ...
    non-existent accumulator`` stack traces: checkpoint truncation GCs
    the accumulators of the pre-checkpoint lineage while straggler task
    completions still reference them.  Every affected query still
    returns correct results (verified by the oracle gate), but one such
    multi-KB trace on stderr nearly pushed the bench headline JSON out
    of the driver's 2000-char tail capture in round 8.  Real job
    failures surface as Python exceptions regardless of log level, so
    suppressing this logger loses no actionable signal.
    """
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.scheduler.DAGScheduler",
            jvm.org.apache.logging.log4j.Level.FATAL,
        )
    except Exception:
        # log4j2 internals are not a hard dependency of correctness —
        # on an exotic logging backend the traces are merely noisy.
        pass
