"""Per-layer ledger for the traced run, read from outside the program.

Everything here observes Spark through public status surfaces:

- the AppStatusStore (``sc._jsc.sc().statusStore()``), read after EVERY op
  for the job ids that op created, because Spark keeps only the last 1,000
  jobs and stages and one pass of a registry workload runs more than that;
- the DAGScheduler's next job id, which brackets an op's jobs;
- ``CodegenMetrics`` and the driver's GarbageCollectorMXBeans via py4j;
- a ``StreamingQueryListener`` for micro-batch progress.

Spans (name, start, end, parent, op) stay in memory and are written when
the run ends.
"""

from __future__ import annotations

import datetime as dt
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# per-op counters summed into a pass; times in seconds, sizes in bytes
JOB_FIELDS = (
    "spark.jobs", "spark.stages", "spark.skipped_stages", "spark.tasks",
    "spark.failed_tasks", "spark.job_s", "shuffle.read_bytes",
    "shuffle.write_bytes", "spill.bytes", "sources.input_bytes",
    "jvm.executor_gc_s",
)


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


class SparkProbe:
    """Reads job/stage data for one op's job-id range from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self._quantiles = self.sc._gateway.new_array(self.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def next_job_id(self) -> int:
        return int(self.dag.nextJobId())

    def codegen_compiles(self) -> int:
        cm = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def driver_gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0

    def wait_idle(self, timeout: float = 10.0) -> None:
        """Job-end events reach the store asynchronously; wait until no job
        is still RUNNING before reading an op's range."""
        status = self.jvm.org.apache.spark.JobExecutionStatus.RUNNING
        lst = self.jvm.java.util.ArrayList()
        lst.add(status)
        end = time.monotonic() + timeout
        while self.store.jobsList(lst).size() and time.monotonic() < end:
            time.sleep(0.005)

    def jobs(self, j0: int, j1: int) -> dict:
        """Counters and job intervals for job ids in [j0, j1)."""
        out = {k: 0.0 for k in JOB_FIELDS}
        out["intervals"] = []
        out["task_skew_max"] = 0.0
        seen_stages: set[int] = set()
        for jid in range(j0, j1):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:  # evicted or never posted (e.g. cancelled)
                continue
            out["spark.jobs"] += 1
            out["spark.stages"] += int(job.stageIds().size())
            out["spark.skipped_stages"] += int(job.numSkippedStages())
            out["spark.failed_tasks"] += int(job.numFailedTasks())
            a, b = _date_s(job.submissionTime()), _date_s(job.completionTime())
            if a is not None and b is not None:
                out["spark.job_s"] += b - a
                out["intervals"].append((a, b))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                self._stage(sid, out)
        return out

    def _stage(self, sid: int, out: dict) -> None:
        try:
            st = self.store.lastStageAttempt(sid)
        except Py4JJavaError:
            return
        if str(st.status().toString()) == "SKIPPED":
            return
        out["spark.tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
        out["shuffle.read_bytes"] += int(st.shuffleReadBytes())
        out["shuffle.write_bytes"] += int(st.shuffleWriteBytes())
        out["spill.bytes"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
        out["sources.input_bytes"] += int(st.inputBytes())
        out["jvm.executor_gc_s"] += int(st.jvmGcTime()) / 1000.0
        if int(st.numTasks()) >= 2:
            summ = self.store.taskSummary(sid, int(st.attemptId()), self._quantiles)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = float(rt.apply(0)), float(rt.apply(1))
                out["task_skew_max"] = max(out["task_skew_max"], mx / max(med, 1.0))

    def job_floor_s(self, spark, n: int = 9) -> float:
        """Median wall time of an empty two-stage job (one shuffle)."""
        times = []
        for _ in range(n):
            t = time.perf_counter()
            spark.range(0, 1, 1, 1).repartition(2).count()
            times.append(time.perf_counter() - t)
        return statistics.median(times)


class StreamListener(StreamingQueryListener):
    """Collects micro-batch progress from every streaming query."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = p.durationMs or {}
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        batch_s = dur.get("triggerExecution", 0) / 1000.0
        with self.lock:
            self.batches.append(
                {
                    "batch_s": batch_s,
                    "add_batch_s": dur.get("addBatch", 0) / 1000.0,
                    "input_rows": int(p.numInputRows or 0),
                    "start": start,
                    "end": start + batch_s,
                    "query": str(p.name or p.id),
                    "batch_id": int(p.batchId),
                }
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self.lock:
            out, self.batches = self.batches, []
        return out


class Spans:
    """In-memory span list; one span per layer boundary."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: str | None, op: str | None) -> None:
        self.items.append(
            {"name": name, "start": start, "end": end, "parent": parent, "op": op}
        )
