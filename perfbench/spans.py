"""Spans around calls into the engine's layers, Spark job/stage statistics
read by job group, and process-tree CPU and memory from ``/proc``.

Everything here measures from outside the engine: a span times one public
call, counts the py4j round trips made during it, and tags the Spark jobs
it launches with a job group of its own.  After the traced work the
listener bus is drained and each span's jobs and stages are read from
Spark's status tracker and ``AppStatusStore``.  Spans stay in memory until
the benchmark writes them out.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree (psutil-free)
# --------------------------------------------------------------------------


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants.  Children are listed per thread
    (``/proc/<pid>/task/<tid>/children``) because the JVM forks the PySpark
    daemon from a thread other than its main one."""
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return seen


def cpu_seconds(pids: list[int]) -> float:
    """User+system CPU of ``pids`` plus that of their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each live process's peak resident set (``VmHWM``), in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0
    jobs: list[dict] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"


class Tracer:
    """Records spans for one SparkContext; a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._calls = 0
        self._counting = True
        self.evicted = 0
        self.self_s = 0.0  # time spent in begin/end while tracing
        self._client = self._sc._gateway._gateway_client
        if enabled:
            send = self._client.send_command

            def counted(*args, **kwargs):
                if self._counting:
                    self._calls += 1
                return send(*args, **kwargs)

            self._client.send_command = counted

    def close(self) -> None:
        """Stop counting py4j calls and leave no job group set."""
        if self.enabled and "send_command" in vars(self._client):
            del self._client.send_command
            self._set_group(None)

    @contextlib.contextmanager
    def _quiet(self):
        """Keep the tracer's own py4j traffic out of the counts."""
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    def _set_group(self, span: Span | None) -> None:
        with self._quiet():
            if span is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(span.group, span.name)

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, t0)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span.py4j_calls = -self._calls
        self.self_s += time.perf_counter() - t0
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.py4j_calls += self._calls
        span.end = time.perf_counter()
        while self._stack and self._stack[-1] is not span:
            inner = self._stack.pop()  # a phase its parent closes implicitly
            inner.py4j_calls += self._calls
            inner.end = span.end
        if self._stack:
            self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.self_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def traced(self, fn, name: str):
        """``fn`` run inside a span called ``name``."""

        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    # ----------------------------------------------------------------------
    # Spark jobs and stages, read by job group
    # ----------------------------------------------------------------------

    def collect_jobs(self, spans: list[Span] | None = None) -> None:
        """Attach each span's jobs (with their stages) to the span.  Call
        soon after the work, before ``spark.ui.retainedStages`` and
        ``spark.ui.retainedJobs`` evict them."""
        if not self.enabled:
            return
        with self._quiet():
            jsc = self._sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty(60_000)
            store = jsc.statusStore()
            jvm = self._sc._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            mapper.registerModule(getattr(scala, "MODULE$"))
            tracker = self._sc.statusTracker()
            for span in spans if spans is not None else self.spans:
                for jid in sorted(tracker.getJobIdsForGroup(span.group)):
                    try:
                        job = json.loads(mapper.writeValueAsString(store.job(jid)))
                    except Exception:  # noqa: BLE001 - evicted from the store
                        self.evicted += 1
                        continue
                    job["stages"] = []
                    for sid in job["stageIds"]:
                        try:
                            st = json.loads(mapper.writeValueAsString(store.lastStageAttempt(sid)))
                        except Exception:  # noqa: BLE001 - evicted from the store
                            self.evicted += 1
                            continue
                        if st["status"] != "SKIPPED":
                            job["stages"].append({k: st.get(k) for k in _STAGE_KEYS})
                    span.jobs.append({k: job.get(k) for k in _JOB_KEYS})

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s.id for s in self.spans if s.parent == sid)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [vars(s) for s in self.spans]}, fh)


_JOB_KEYS = ("jobId", "submissionTime", "completionTime", "status", "stages")
_STAGE_KEYS = (
    "stageId", "status", "numTasks", "numCompleteTasks", "executorRunTime",
    "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "submissionTime", "completionTime",
)


def _covered_s(jobs: list[dict]) -> float:
    """Wall time covered by the union of the jobs' [submit, complete] spans."""
    iv = sorted(
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j["submissionTime"] and j["completionTime"]
    )
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def job_stats(spans: list[Span]) -> dict:
    """Job, stage, task, byte and executor-time totals over ``spans``."""
    jobs = [j for s in spans for j in s.jobs]
    stages = [st for j in jobs for st in j["stages"]]

    def tot(k: str) -> int:
        return sum(st[k] or 0 for st in stages)

    return {
        "jobs": len(jobs),
        "job_s": _covered_s(jobs),
        "stages": len(stages),
        "tasks": tot("numCompleteTasks"),
        "input_bytes": tot("inputBytes"),
        "output_bytes": tot("outputBytes"),
        "shuffle_read_bytes": tot("shuffleReadBytes"),
        "shuffle_write_bytes": tot("shuffleWriteBytes"),
        "spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
        "executor_run_s": tot("executorRunTime") / 1000.0,
        "executor_cpu_s": tot("executorCpuTime") / 1e9,
        "gc_s": tot("jvmGcTime") / 1000.0,
    }
