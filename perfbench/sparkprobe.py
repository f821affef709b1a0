"""Spark-side probes: the benchmark's own session factory, per-call job and
task counts through job groups, and executor time from the event log.

Everything is read from outside the engine, the way Structured Streaming's
monitoring reads listener records: job groups and ``statusTracker`` while
the run is live, the JSON event log after the session stops.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager


def bench_spark(app: str, workdir: str, trace: bool):
    """A session from the repo's own factory, with scratch space, the JVM
    temp dir and (traced runs only) an uncompressed event log kept inside
    ``workdir``. Returns (spark, start_seconds)."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                # Spark 4 defaults to zstd, which needs the optional
                # zstandard module to read; plain JSON lines parse anywhere
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    from flyq_spark.session import get_spark

    spark = get_spark(app, extra_conf=extra)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (PySpark's gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warm_python_workers(spark) -> float:
    """Start one Python worker per core with an Arrow UDF job, so the first
    timed call does not pay worker start-up. Returns seconds."""
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    n = spark.range(0, cores * 1000, numPartitions=cores).select(plus_one("id").alias("x")).agg(
        F.sum("x")
    ).collect()[0][0]
    if n != sum(range(1, cores * 1000 + 1)):
        raise RuntimeError("python worker warm-up returned a wrong sum")
    return time.perf_counter() - t0


class JobGroups:
    """Tag the calling thread's Spark jobs with a fresh job group and count
    the jobs and tasks it ran. Disabled instances cost nothing."""

    def __init__(self, spark, enabled: bool, prefix: str = "pb"):
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self._n = itertools.count(1)
        self.prefix = prefix

    @contextmanager
    def group(self, name: str):
        box = {"group": None, "jobs": 0, "tasks": 0}
        if not self.enabled:
            yield box
            return
        gid = f"{self.prefix}-{next(self._n)}-{name}"
        box["group"] = gid
        self.sc.setJobGroup(gid, name)
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            box["jobs"], box["tasks"] = self.count(gid)

    def count(self, gid: str) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(gid)
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks
        return len(job_ids), tasks


def event_log_by_group(evdir: str) -> dict[str, dict]:
    """Parse the (stopped) session's event log into per-job-group totals:
    jobs, tasks, executor run seconds and shuffle bytes written. A stage
    listed by several jobs is charged to the first job that lists it, which
    is the one that ran it."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    paths = sorted(
        glob.glob(os.path.join(evdir, "*", "events_*")) + glob.glob(os.path.join(evdir, "local-*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(
            g,
            {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0},
        )

    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "_none"
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "_none")
            m = ev.get("Task Metrics") or {}
            b = bucket(g)
            b["tasks"] += 1
            b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return out


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f
