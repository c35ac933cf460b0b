"""Spark-side counters for the traced run, read from outside the program.

Each timed op runs in its own job group; after it returns, its jobs'
stages are read from the driver's status store (this works with the UI
disabled).  Streaming progress comes from a ``StreamingQueryListener``.
None of this is active in an untraced run.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

_MB = float(1 << 20)
STAGE_FIELDS = ("tasks", "run_ms", "cpu_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def settle(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, job_ids) -> dict[str, float]:
        """Summed task metrics of every stage that ran for these jobs (a
        stage shared by several jobs counts once; skipped stages ran no
        task and add nothing)."""
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in stages:
            d = store.lastStageAttempt(s)
            out["tasks"] += d.numCompleteTasks()
            out["run_ms"] += d.executorRunTime()
            out["cpu_s"] += d.executorCpuTime() / 1e9
            out["input_mb"] += d.inputBytes() / _MB
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / _MB
            out["shuffle_read_mb"] += d.shuffleReadBytes() / _MB
            out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / _MB
        return out

    @contextmanager
    def op(self, label: str, record: dict):
        """Run the body in a fresh job group; fill ``record`` with its job
        count and stage totals."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.settle()
            jobs = self.sc.statusTracker().getJobIdsForGroup(group)
            record["jobs"] = len(jobs)
            record.update(self.stage_totals(jobs))

    def group_totals(self, group: str) -> tuple[int, dict[str, float]]:
        """Jobs and stage totals of a job group the program set itself
        (a streaming query runs its batches under its run id)."""
        self.settle()
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        return len(jobs), self.stage_totals(jobs)


def stream_listener(spark) -> list[dict]:
    """Register a listener that keeps every progress event as a plain
    dict, appended to the returned list."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []
    lock = threading.Lock()

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators
            rec = {
                "name": p.name,
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration": dict(p.durationMs),
                "commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "shuffle_partitions": max((o.numShufflePartitions for o in ops), default=0),
            }
            with lock:
                events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Progress())
    return events
