"""Stage and task metrics from Spark's own application status store.

Every measured phase runs under its own job group.  Metrics are read
only after the status store reports every job of the group finished and
every stage of those jobs complete or skipped: the store is fed
asynchronously from the listener bus, so reading right after an action
returns can miss the last stage's totals.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_DONE_STAGE = {"COMPLETE", "SKIPPED", "FAILED"}
_DONE_JOB = {"SUCCEEDED", "FAILED"}
_STORE_TIMEOUT_S = 30.0  # longest wait for the status store to catch up
_groups = itertools.count()


@dataclass
class StageStats:
    stage_id: int
    status: str
    num_tasks: int
    wall_s: float
    run_s: float          # summed executor run time of its tasks
    gc_s: float
    input_mb: float
    shuffle_write_mb: float
    spill_mb: float
    task_s: list[float] = field(default_factory=list)


@dataclass
class GroupStats:
    jobs: int
    stages: list[StageStats]

    @property
    def tasks(self) -> int:
        return sum(s.num_tasks for s in self.stages if s.status == "COMPLETE")

    def sum(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)


class JobGroup:
    """``with JobGroup(spark, "phase") as g: ...`` then ``g.stats()``."""

    def __init__(self, spark, name: str):
        self.spark = spark
        self.group = f"perfbench-{next(_groups)}-{name}"

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return False

    def stats(self, with_tasks: bool = False) -> GroupStats:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        deadline = time.monotonic() + _STORE_TIMEOUT_S
        while True:
            job_ids = list(tracker.getJobIdsForGroup(self.group))
            try:
                jobs = [tracker.getJobInfo(j) for j in job_ids]
                stage_ids = sorted(
                    {int(s) for j in jobs if j for s in j.stageIds}
                )
                stages = [_stage(store, sid) for sid in stage_ids]
                done = all(
                    j is not None and j.status in _DONE_JOB for j in jobs
                ) and all(
                    s is not None and s.status().toString() in _DONE_STAGE
                    for s in stages
                )
            except Py4JJavaError:
                done = False  # job not yet in the store
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        if not done:
            raise TimeoutError(f"status store never completed {self.group}")
        out = []
        for sid, s in zip(stage_ids, stages):
            status = s.status().toString()
            wall = 0.0
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                wall = (
                    s.completionTime().get().getTime()
                    - s.submissionTime().get().getTime()
                ) / 1e3
            st = StageStats(
                stage_id=sid, status=status, num_tasks=int(s.numTasks()),
                wall_s=wall, run_s=s.executorRunTime() / 1e3,
                gc_s=s.jvmGcTime() / 1e3, input_mb=s.inputBytes() / 1e6,
                shuffle_write_mb=s.shuffleWriteBytes() / 1e6,
                spill_mb=(s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            )
            if with_tasks and status == "COMPLETE":
                tl = store.taskList(sid, s.attemptId(), 1_000_000)
                for i in range(tl.size()):
                    m = tl.apply(i).taskMetrics()
                    if m.isDefined():
                        st.task_s.append(m.get().executorRunTime() / 1e3)
            out.append(st)
        return GroupStats(jobs=len(job_ids), stages=out)


def _stage(store, sid: int):
    seq = store.stageData(sid, False, None, False, None)
    return seq.apply(seq.size() - 1) if seq.size() else None
