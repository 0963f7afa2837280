"""Per-job-group Spark counters read from the driver's in-process status store.

The session runs with the UI disabled (``session.get_spark``), but the status
store behind it is always live.  Jobs come from the Python ``statusTracker``;
job intervals, stage task counts and the byte, spill, CPU and GC totals come
from the JVM ``AppStatusStore``.  Nothing here submits a Spark job.
"""

from __future__ import annotations

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkStats:
    """Reads counters for the jobs a job group ran; create one per session."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._sc.statusTracker()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished job's
        events to the status store, so the counters below are complete."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def collect(self, groups: list[str]) -> tuple[dict, list[tuple[float, float]]]:
        """Counters summed over the jobs of ``groups`` plus each job's
        (submitted, completed) wall-clock interval in epoch seconds.

        A stage shared by several jobs is counted once; skipped stages ran
        no tasks and are not counted."""
        out = dict.fromkeys(COUNTERS, 0)
        intervals = []
        seen_stages: set[int] = set()
        for group in groups:
            for jid in self.job_ids(group):
                out["jobs"] += 1
                job = self._store.job(jid)
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append(
                        (
                            job.submissionTime().get().getTime() / 1000.0,
                            job.completionTime().get().getTime() / 1000.0,
                        )
                    )
                info = self._tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen_stages:
                        continue
                    seen_stages.add(sid)
                    self._add_stage(out, sid)
        return out, intervals

    def _add_stage(self, out: dict, sid: int) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the store's retention window
            return
        if sd.status().toString() == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["task_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["input_bytes"] += sd.inputBytes()
        out["output_bytes"] += sd.outputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def jvm_pid(self) -> int:
        return int(self._sc._jvm.ProcessHandle.current().pid())


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total
