"""Spark's own job, stage and task counters for one timed operation.

Each operation runs under its own job group. Afterwards the group's jobs
are listed through the status tracker and each stage's last attempt is
read from the application status store (``AppStatusStore.lastStageAttempt``
through py4j). This works with ``spark.ui.enabled=false``. A
``SegmentIndex`` queries through an isolated ``newSession()`` of the same
SparkContext, so its jobs carry the group too.

The status store is fed by an asynchronous listener, so the reader waits
until every job of the group has ended before it sums the stages.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

FIELDS = ("jobs", "stages", "tasks", "task_ms", "input_bytes", "shuffle_bytes")
_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}


class JobCounters:
    def __init__(self, spark, settle_timeout: float = 5.0):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._timeout = settle_timeout
        self._n = 0
        # op kind -> [ops, {field: total}]
        self.totals: dict[str, list] = defaultdict(lambda: [0, defaultdict(float)])

    @contextmanager
    def group(self, kind: str):
        gid = f"perfbench-{self._n}-{kind}"
        self._n += 1
        self._sc.setJobGroup(gid, kind, False)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            got = self.read(gid)
            rec = self.totals[kind]
            rec[0] += 1
            for k, v in got.items():
                rec[1][k] += v

    def read(self, gid: str) -> dict[str, float]:
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + self._timeout
        while True:
            ids = sorted(tracker.getJobIdsForGroup(gid))
            infos = [tracker.getJobInfo(j) for j in ids]
            done = all(i is not None and i.status in _DONE_JOB for i in infos)
            if done:
                time.sleep(0.01)
                if sorted(tracker.getJobIdsForGroup(gid)) == ids:
                    break
            if time.monotonic() > deadline:
                break
            time.sleep(0.005)
        out = dict.fromkeys(FIELDS, 0.0)
        out["jobs"] = float(len(ids))
        seen = set()
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._stage(sid, deadline)
                if sd is None or sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["task_ms"] += sd.executorRunTime()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return out

    def _stage(self, sid: int, deadline: float):
        while True:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage not (yet) in the store
                sd = None
            if sd is not None and sd.status().toString() in _DONE_STAGE:
                return sd
            if time.monotonic() > deadline:
                return sd
            time.sleep(0.005)

    def per_op(self, kind: str) -> dict[str, float]:
        ops, tot = self.totals.get(kind, (0, {}))
        return {k: (tot.get(k, 0.0) / ops if ops else 0.0) for k in FIELDS}


class NoCounters:
    """The untraced run sets no job groups."""

    def group(self, kind: str):
        return nullcontext()
