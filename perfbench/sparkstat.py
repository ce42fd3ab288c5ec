"""Per-pass diff of Spark's application status store.

Reads the AppStatusStore the SparkContext keeps even with the UI
disabled: the jobs and stages that appeared since a snapshot, their
task counts, executor run and CPU time, shuffle bytes and spill, and
the stage spans from which the driver residue (pass wall time not
covered by any running stage) follows.
"""

from __future__ import annotations

import statistics


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def _list(self, seq) -> list:
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _drain(self) -> None:
        # Stage and job events reach the store through the listener bus;
        # wait until it has delivered everything the pass produced.
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._list(self._sc.statusStore().jobsList(None))

    def _stages(self):
        no_quantiles = self._gw.new_array(self._jvm.double, 0)
        return self._list(self._sc.statusStore().stageList(
            None, False, False, no_quantiles, self._jvm.java.util.ArrayList()))

    def snapshot(self) -> tuple[int, int]:
        """(max job id, max stage id) seen so far."""
        self._drain()
        jobs = [j.jobId() for j in self._jobs()]
        stages = [s.stageId() for s in self._stages()]
        return (max(jobs, default=-1), max(stages, default=-1))

    def _task_durations(self, stage) -> list[float]:
        seq = self._sc.statusStore().taskList(stage.stageId(), stage.attemptId(), 100_000)
        return [t.duration().get() / 1000.0 for t in self._list(seq) if t.duration().isDefined()]

    def diff(self, since: tuple[int, int], wall_start: float, wall_end: float,
             slots: int) -> dict[str, float]:
        """Metrics of everything that ran after ``since`` within
        [wall_start, wall_end] (epoch seconds)."""
        self._drain()
        job0, stage0 = since
        jobs = [j for j in self._jobs() if j.jobId() > job0]
        # A skipped stage reused earlier shuffle output and ran no task.
        stages = [s for s in self._stages()
                  if s.stageId() > stage0 and s.status().toString() != "SKIPPED"]
        spans, run_s, cpu_s = [], 0.0, 0.0
        tasks = wbytes = rbytes = spill = 0
        longest, longest_s = None, -1.0
        for s in stages:
            tasks += s.numTasks()
            run_s += s.executorRunTime() / 1000.0
            cpu_s += s.executorCpuTime() / 1e9
            wbytes += s.shuffleWriteBytes()
            rbytes += s.shuffleReadBytes()
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
            a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if a is not None and b is not None:
                spans.append((max(a, wall_start), min(b, wall_end)))
                if b - a > longest_s:
                    longest, longest_s = s, b - a
        covered = union_length(spans)
        wall = wall_end - wall_start
        skew = 0.0
        if longest is not None:
            durs = self._task_durations(longest)
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": tasks,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": cpu_s,
            "spark.shuffle_write_mb": wbytes / 2**20,
            "spark.shuffle_read_mb": rbytes / 2**20,
            "spark.spill_mb": spill / 2**20,
            "spark.driver_residue_s": wall - covered,
            "spark.slot_busy_ratio": run_s / (wall * slots) if wall > 0 else 0.0,
            "spark.max_task_skew": skew,
        }


def union_length(spans: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(s for s in spans if s[1] > s[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
