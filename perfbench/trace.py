"""Spans and per-layer counters, recorded from the benchmark's side of each
call into the program.

Sources, all read through the public session or its JVM status store:

- ``setJobGroup`` per span, which labels the span's jobs; jobs are counted
  by submission time, since the program submits some from its own threads;
- ``queryExecution().tracker().phases()`` for Catalyst analysis,
  optimization and planning time;
- the status store's job and stage data for scheduler counts, executor
  run/CPU/GC time, shuffle bytes and spill;
- ``StreamingQuery.recentProgress`` for per-trigger phase durations, input
  rows and state-store figures.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class RssSampler:
    """Peak resident memory of this process plus the JVM and its children,
    sampled from /proc on a background thread while active.

    Each process counts its proportional set size, so pages shared between
    processes (libraries, a JVM forked to run a shell command) count once.
    """

    def __init__(self, pids_fn, interval: float = 0.2):
        self._pids_fn = pids_fn
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        total = sum(pss_bytes(p) for p in self._pids_fn())
        self.peak_bytes = max(self.peak_bytes, total)


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def cpu_seconds(pids) -> float:
    """User plus system CPU time of the live processes `pids`."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def descendants(pid: int) -> list[int]:
    """`pid` and every process below it, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


class Tracer:
    """Collects spans and per-layer counters for one run."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._bookkeeping_s = 0.0

    def take_bookkeeping(self) -> float:
        """Seconds the tracer itself spent since the last call."""
        s, self._bookkeeping_s = self._bookkeeping_s, 0.0
        return s

    @contextmanager
    def span(self, name: str):
        """Time a call into a layer under its own job group.

        Yields the span record, which the caller may add counters to.
        """
        if not self.enabled:
            yield {}
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time(),
        }
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{sid}", name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def catalyst(self, rec: dict, df) -> None:
        """Plan `df` now and record its analysis/optimization/planning ms."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self._as_java(qe.tracker().phases())
        for key in ("analysis", "optimization", "planning"):
            ph = phases.get(key)
            rec[f"catalyst.{key}_ms"] = float(ph.durationMs()) if ph is not None else 0.0
        self._bookkeeping_s += time.perf_counter() - t0

    def _as_java(self, scala_coll):
        return self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)

    def _jobs(self, t_start: float, t_end: float) -> list:
        """Status-store records of the jobs submitted in [t_start, t_end]
        (epoch seconds).  The benchmark is the only client, so the window
        attributes jobs even when the program submits them from its own
        threads, which do not inherit the job group."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        out = []
        for job in self._as_java(jsc.statusStore().jobsList(None)):
            sub = job.submissionTime()
            if sub.isDefined() and t_start <= sub.get().getTime() / 1e3 <= t_end:
                out.append(job)
        return out

    def construct_metrics(self, recs: list[dict]) -> dict:
        """Python-side construction time and the jobs it started eagerly."""
        t0 = time.perf_counter()
        jobs = sum(len(self._jobs(r["start"], r["end"])) for r in recs)
        self._bookkeeping_s += time.perf_counter() - t0
        return {
            "plans.construct_ms": sum(r["end"] - r["start"] for r in recs) * 1e3,
            "plans.eager_jobs": jobs,
        }

    def job_metrics(self, t_start: float, t_end: float) -> dict:
        """Scheduler, executor, shuffle and spill figures for the jobs
        submitted over the wall interval [t_start, t_end] (epoch seconds)."""
        from py4j.protocol import Py4JJavaError

        t0 = time.perf_counter()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        m = {
            "scheduler.jobs": 0, "scheduler.stages": 0, "scheduler.tasks": 0,
            "executor.run_s": 0.0, "executor.cpu_s": 0.0, "executor.gc_s": 0.0,
            "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
            "spill.disk_bytes": 0,
        }
        intervals = []
        for job in self._jobs(t_start, t_end):
            m["scheduler.jobs"] += 1
            if job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1e3,
                                  job.completionTime().get().getTime() / 1e3))
            for sid in self._as_java(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                m["scheduler.stages"] += 1
                m["scheduler.tasks"] += st.numCompleteTasks()
                m["executor.run_s"] += st.executorRunTime() / 1e3
                m["executor.cpu_s"] += st.executorCpuTime() / 1e9
                m["executor.gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle.write_bytes"] += st.shuffleWriteBytes()
                m["shuffle.read_bytes"] += st.shuffleReadBytes()
                m["spill.disk_bytes"] += st.diskBytesSpilled()
        wall = max(t_end - t_start, 1e-9)
        m["scheduler.gap_ms"] = (wall - union_length(intervals, t_start, t_end)) * 1e3
        cores = self.spark.sparkContext.defaultParallelism
        m["executor.busy_ratio"] = m["executor.run_s"] / (wall * cores)
        self._bookkeeping_s += time.perf_counter() - t0
        return m

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1,
                                   default=str))


def union_length(intervals, lo: float, hi: float) -> float:
    """Total length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- streaming progress ---------------------------------------------------

PROGRESS_PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
}


def progress_layers(progress: list[dict]) -> dict:
    """Per-trigger means of the streaming phases over triggers that read
    input, plus state-store figures of the last such trigger."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    n = max(len(data), 1)
    out = {
        name: sum(p["durationMs"].get(key, 0) for p in data) / n
        for name, key in PROGRESS_PHASES.items()
    }
    out["streaming.triggers"] = len(data)
    out["streaming.rows_per_trigger"] = sum(p["numInputRows"] for p in data) / n
    state = data[-1]["stateOperators"][0] if data and data[-1]["stateOperators"] else {}
    out["streaming.state_rows"] = state.get("numRowsTotal", 0)
    out["streaming.state_memory_bytes"] = state.get("memoryUsedBytes", 0)
    out["streaming.state_commit_ms"] = (
        sum(p["stateOperators"][0].get("commitTimeMs", 0)
            for p in data if p["stateOperators"]) / n
    )
    return out
