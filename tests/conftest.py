from __future__ import annotations

import sys
import uuid
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from marketstream_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("marketstream-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for hypothesis tests (function-scoped @given works with
    a session-scoped session)."""
    return spark


def shuffle_write(spark, action) -> tuple[int, int]:
    """Shuffle-write (records, bytes) of the jobs that `action()` runs,
    read from the status store."""
    sc = spark.sparkContext
    group = f"shuffle-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "shuffle write")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    records = written = 0
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        for stage_id in sc.statusTracker().getJobInfo(job_id).stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a skipped stage never ran
                continue
            records += st.shuffleWriteRecords()
            written += st.shuffleWriteBytes()
    return records, written


def write_docs_parquet(path: str, texts: dict[int, str]) -> None:
    """Write a documents.parquet matching the driver testdata schema —
    shared by every test that fabricates a corpus (single definition so a
    schema change to the documents table is fixed in one place)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids], pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["src0"] * len(ids), pa.string()),
                "n_chars": pa.array(
                    [len(texts[i]) for i in ids], pa.int64()
                ),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )
