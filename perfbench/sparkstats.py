"""Spark-side counts per operation, read from outside the program.

Each traced operation runs under its own job group.  Afterwards its jobs,
stages and tasks come from ``statusTracker``; run time, CPU time,
shuffle, input and spill bytes come from the core status store (it is
populated with ``spark.ui.enabled=false``); Catalyst phase times come
from a DataFrame's query-execution tracker.
"""

from __future__ import annotations

import time
from typing import Any

from py4j.protocol import Py4JJavaError

SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.input_bytes", "spark.spill_bytes",
)
PHASES = ("analysis", "optimization", "planning")


class SparkStats:
    def __init__(self, spark: Any) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def job_ids(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def _settle(self, jobs: list[int], timeout: float = 5.0) -> None:
        """Wait until the listener bus has recorded every job's end."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                return
            time.sleep(0.02)

    def collect(self, group: str) -> dict[str, float]:
        """Totals over every job the operation's group launched."""
        jobs = self.job_ids(group)
        self._settle(jobs)
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        out["spark.jobs"] = float(len(jobs))
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped stage: its shuffle output was reused
            out["spark.stages"] += 1
            out["spark.tasks"] += info.numCompletedTasks
            try:
                d = self.store.stageAttempt(
                    sid, info.currentAttemptId, False, self._no_status,
                    False, self._no_quantiles,
                )._1()
            except Py4JJavaError:  # evicted from the store: counts only
                continue
            out["spark.executor_run_s"] += d.executorRunTime() / 1e3
            out["spark.executor_cpu_s"] += d.executorCpuTime() / 1e9
            out["spark.shuffle_read_bytes"] += d.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spark.input_bytes"] += d.inputBytes()
            out["spark.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out


def catalyst_phases(df: Any) -> dict[str, float]:
    """Analysis / optimization / planning seconds of ``df``'s own query
    execution.  Pass only frames executed through it (``collect``): a
    write such as the ``noop`` sink plans the query in a nested command
    execution whose phases this tracker does not see."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {f"catalyst.{p}_s": 0.0 for p in PHASES}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        key = f"catalyst.{kv._1()}_s"
        if key in out:
            out[key] += kv._2().durationMs() / 1e3
    return out
