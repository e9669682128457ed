"""Spark job and task ledger, kept from outside the engine.

``JobLedger.group(name)`` tags every Spark job the body launches with a
job group; ``counts(name)`` then reads the group's jobs, tasks and
failed tasks from ``SparkContext.statusTracker()``. The status store is
fed by the asynchronous listener bus, so ``counts`` waits (bounded) until
every job of the group has finished.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class JobLedger:
    def __init__(self, spark, prefix):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.groups = []

    @contextmanager
    def group(self, name):
        gid = f"{self.prefix}:{name}"
        self.groups.append(gid)
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, gid, settle_s=5.0):
        """(jobs, tasks run, failed tasks) of one group."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + settle_s
        while True:
            ids = st.getJobIdsForGroup(gid)
            infos = [st.getJobInfo(j) for j in ids]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        tasks = failed = 0
        for info in infos:
            for sid in (info.stageIds if info is not None else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
        return len(ids), tasks, failed
