"""Spark runtime figures read from the SparkContext's status store.

The status store (`SparkContext.statusStore()`) is populated whether or
not the web UI runs, so it works with `spark.ui.enabled=false`.  Each
query covers the stages and jobs that started after a mark, so a caller
brackets one engine call with `mark()` and `stages_since` / `jobs_since`.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class Stage:
    id: int
    tasks: int
    failed_tasks: int
    run_s: float
    start: float  # epoch seconds
    end: float
    input_bytes: int
    output_bytes: int
    shuffle_read: int
    shuffle_write: int
    spill_bytes: int
    task_max_s: float
    task_median_s: float


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._store = self._sc._jsc.sc().statusStore()

    def _empty(self):
        return self._jvm.java.util.ArrayList()

    def _list(self, seq) -> list:
        """A Scala Seq returned over py4j as a Python list."""
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters
                    .asJava(seq))

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id) — everything at or above is new."""
        jobs = [j.jobId() for j in self._list(
            self._store.jobsList(self._empty()))]
        st = self._stages()
        return (max(jobs) + 1 if jobs else 0,
                max((s.stageId() for s in st), default=-1) + 1)

    def _stages(self):
        arr = self._sc._gateway.new_array(self._jvm.double, 0)
        return self._list(self._store.stageList(
            self._empty(), False, False, arr, self._empty()))

    def jobs_since(self, mark) -> list:
        return [j for j in self._list(self._store.jobsList(self._empty()))
                if j.jobId() >= mark[0]]

    def stages_since(self, mark) -> list[Stage]:
        q = self._sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        out = []
        for s in self._stages():
            if s.stageId() < mark[1] or s.numTasks() == 0:
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue  # skipped (reused shuffle) or still running
            dist = self._store.taskSummary(s.stageId(), s.attemptId(), q)
            if dist.isDefined():
                rt = self._list(dist.get().executorRunTime())
                med, mx = rt[0] / 1e3, rt[1] / 1e3
            else:
                med = mx = 0.0
            out.append(Stage(
                id=s.stageId(), tasks=s.numCompleteTasks(),
                failed_tasks=s.numFailedTasks(),
                run_s=s.executorRunTime() / 1e3,
                start=sub.get().getTime() / 1e3,
                end=comp.get().getTime() / 1e3,
                input_bytes=s.inputBytes(), output_bytes=s.outputBytes(),
                shuffle_read=s.shuffleReadBytes(),
                shuffle_write=s.shuffleWriteBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                task_max_s=mx, task_median_s=med,
            ))
        return sorted(out, key=lambda s: s.id)


def postings_stages(stages: list[Stage], lo: float, hi: float
                    ) -> dict[str, list[Stage]]:
    """Split the stages that ran in the postings window [lo, hi] by I/O
    signature: inversion reads the docmap parquet and writes shuffle,
    merge reads and writes shuffle, write reads shuffle and writes
    parquet."""
    out: dict[str, list[Stage]] = {"invert": [], "merge": [], "write": []}
    for s in stages:
        if s.start < lo - 0.05 or s.end > hi + 0.05:
            continue
        if s.input_bytes > 0 and s.shuffle_write > 0:
            out["invert"].append(s)
        elif s.shuffle_read > 0 and s.shuffle_write > 0:
            out["merge"].append(s)
        elif s.shuffle_read > 0 and s.output_bytes > 0:
            out["write"].append(s)
    return out
