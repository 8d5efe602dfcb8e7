"""Spark's own job and stage accounting, read per call through a job group.

This is the benchmark's only reach into private PySpark/JVM handles
(``sc._jsc.sc()``: the status store and the listener bus; ``sc._jvm`` and
``sc._gateway``).  Keeping them in one place lets
``perfbench/test_perfbench.py`` fail loudly when a Spark upgrade renames
the accessor or a ``StageData`` field.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import SparkSession

# StageData accessors this module reads; the canary test calls each one
STAGE_FIELDS = (
    "status", "numCompleteTasks", "executorRunTime", "shuffleReadBytes",
    "shuffleWriteBytes", "inputBytes", "submissionTime", "completionTime",
)


@dataclass
class CallStats:
    """What Spark ran for one call: summed over its completed stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    input_b: int = 0
    stage_busy_s: float = 0.0  # union of the stages' [submit, complete] spans

    def add(self, other: "CallStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total / 1000.0


class SparkAccounting:
    """Runs calls under unique job groups and reads back their stages."""

    def __init__(self, sc: SparkContext):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def set_group(self, group: str | None) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", group)

    def settle(self) -> None:
        """Wait until the listener has seen every event posted so far, so
        the status store holds the call's finished stages."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_rows(self, group: str) -> tuple[int, list]:
        """(job count, StageData of every completed stage) for ``group``."""
        job_ids = list(self._tracker.getJobIdsForGroup(group))
        seen: set[int] = set()
        stages = []
        for job_id in job_ids:
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                raise RuntimeError(f"job {job_id} of {group} left the status store")
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                data = self._store.lastStageAttempt(stage_id)
                if data.status().toString() == "COMPLETE":
                    stages.append(data)
        return len(job_ids), stages

    def read(self, group: str) -> CallStats:
        n_jobs, stages = self.stage_rows(group)
        out = CallStats(jobs=n_jobs, stages=len(stages))
        spans = []
        for d in stages:
            out.tasks += d.numCompleteTasks()
            out.exec_s += d.executorRunTime() / 1000.0
            out.shuffle_read_b += d.shuffleReadBytes()
            out.shuffle_write_b += d.shuffleWriteBytes()
            out.input_b += d.inputBytes()
            sub, done = d.submissionTime(), d.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        out.stage_busy_s = _union_s(spans)
        return out

    def jvm_pid(self) -> int:
        return int(self._sc._jvm.ProcessHandle.current().pid())

    def live_heap_mb(self) -> float:
        """JVM heap in use right after a full collection."""
        jvm = self._sc._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_jvm(spark: SparkSession) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
