"""Per-layer counters read from Spark's own status store.

A traced phase (one query's build, exec or drain) sets a job group,
runs, waits for the listener bus to drain, and then reads every job
submitted since the previous phase from ``SparkContext.statusStore()``.
The store is populated with ``spark.ui.enabled=false`` too, so no UI,
REST endpoint or event log is needed. A stage that a later job reuses
(a skipped stage) keeps its id, so each stage's metrics are counted
once, by the first phase that ran it.

Input is counted in rows (stage ``inputRecords``): in local mode
``inputBytes`` reports only what Hadoop's filesystem statistics see,
which for a vectorized parquet scan is a small fraction of the file.
"""

from __future__ import annotations

import os
import time

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024

# per-phase counter names, summed over the phase's jobs and new stages
STAGE_COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
    "input_rows", "output_rows", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_cpu_s", "executor_run_s", "gc_s", "action_s",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StreamingCounters:
    """Python ``StreamingQueryListener``: micro-batches, rows, batch time."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counters = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                counters.batches += 1
                counters.input_rows += p.numInputRows
                counters.batch_s += p.batchDuration / 1000.0

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = _Listener()
        self.batches = 0
        self.input_rows = 0
        self.batch_s = 0.0

    def snapshot(self) -> tuple[int, int, float]:
        return self.batches, self.input_rows, self.batch_s


class Tracer:
    """Job-group tagging plus status-store reads for one SparkContext."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.next_job = self._first_unseen_job()
        self.seen_stages: set[int] = set()
        self.streaming = StreamingCounters()
        spark.streams.addListener(self.streaming.listener)

    def _first_unseen_job(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1

    def skip(self) -> None:
        """Forget jobs run since the last read (an untraced pass)."""
        self.jsc.listenerBus().waitUntilEmpty()
        while True:
            try:
                self.store.job(self.next_job)
            except Py4JJavaError:  # NoSuchElementException: all skipped
                return
            self.next_job += 1

    def persistent_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def cached_mb(self) -> float:
        rdds = self.store.rddList(True)
        return sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())
        ) / MB

    def phase(self, query: str, phase: str):
        return _Phase(self, query, phase)

    def collect(self) -> tuple[dict, list[dict]]:
        """Counters and job spans for every job since the last call."""
        self.jsc.listenerBus().waitUntilEmpty()
        c = dict.fromkeys(STAGE_COUNTERS, 0)
        spans, intervals = [], []
        while True:
            try:
                job = self.store.job(self.next_job)
            except Py4JJavaError:  # NoSuchElementException: all read
                break
            self.next_job += 1
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            c["jobs"] += 1
            c["skipped_stages"] += job.numSkippedStages()
            c["failed_tasks"] += job.numFailedTasks()
            ids = job.stageIds()
            stage_ids = [ids.apply(i) for i in range(ids.size())]
            group = job.jobGroup()
            spans.append({
                "kind": "job", "job_id": job.jobId(),
                "group": group.get() if group.isDefined() else None,
                "start": start, "end": end, "stages": stage_ids,
                "status": str(job.status()),
            })
            for sid in stage_ids:
                if sid in self.seen_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage that never ran
                    continue
                if str(st.status()) not in ("COMPLETE", "FAILED"):
                    continue
                self.seen_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["input_rows"] += st.inputRecords()
                c["output_rows"] += st.outputRecords()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.diskBytesSpilled()
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["executor_run_s"] += st.executorRunTime() / 1000.0
                c["gc_s"] += st.jvmGcTime() / 1000.0
        c["action_s"] = _union_s(intervals)
        return c, spans

    def close(self) -> None:
        self.spark.streams.removeListener(self.streaming.listener)


class _Phase:
    def __init__(self, tracer: Tracer, query: str, phase: str) -> None:
        self.t, self.query, self.phase = tracer, query, phase

    def __enter__(self) -> _Phase:
        self.t.sc.setJobGroup(f"perfbench/{self.query}/{self.phase}", self.query)
        self.stream0 = self.t.streaming.snapshot()
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.counters, self.jobs = self.t.collect()
        b0, r0, s0 = self.stream0
        b1, r1, s1 = self.t.streaming.snapshot()
        self.counters.update(
            streaming_batches=b1 - b0, streaming_input_rows=r1 - r0, streaming_batch_s=s1 - s0,
        )
        self.t.sc._jsc.clearJobGroup()

    def span(self) -> dict:
        return {
            "kind": "phase", "name": self.phase, "start": self.start, "end": self.end,
            "counters": self.counters, "children": self.jobs,
        }


def disk_bytes(*roots: str) -> int:
    """Bytes of regular files under ``roots`` (missing roots count 0)."""
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                if not os.path.islink(p):
                    total += os.path.getsize(p)
    return total
