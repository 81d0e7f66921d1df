"""Observation helpers: in-memory spans, streaming progress, Spark's status
store and host probes.

Everything here observes the package from outside: spans wrap calls into
its public functions, progress comes from a ``StreamingQueryListener`` and
stage metrics from ``AppStatusStore`` over py4j.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans kept in memory and written once, when the run ends.

    A disabled tracer records nothing; its ``span`` still yields, so the
    traced and untraced runs execute the same code path.
    """

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent by the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None,
            parent: int | None = None, **attrs) -> dict:
        """Record a span whose bounds are known, e.g. a trigger taken from
        query progress; the parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "trace": self.trace_id, "name": name,
               "parent": parent, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed duration not covered by child spans."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"] or lo, s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"trace": self.trace_id, "spans": self.spans}, fh)


class ProgressLog(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` events of every query, keyed by
    query id, and the ids of terminated queries."""

    def __init__(self):
        # re-entrant: wait() predicates call rows_seen() under the lock
        self._lock = threading.RLock()
        self._cond = threading.Condition(self._lock)
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self._cond:
            self.started.append(str(event.id))
            self._cond.notify_all()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cond:
            self.progress.setdefault(p["id"], []).append(p)
            self._cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self.terminated.add(str(event.id))
            self._cond.notify_all()

    def wait(self, pred, timeout: float) -> bool:
        with self._cond:
            return self._cond.wait_for(pred, timeout)

    def rows_seen(self, qid: str) -> int:
        with self._lock:
            return sum(p["numInputRows"] for p in self.progress.get(qid, []))

    def batches(self, qid: str) -> list[dict]:
        """Progress of the query's data triggers (numInputRows > 0)."""
        with self._lock:
            return [p for p in self.progress.get(qid, []) if p["numInputRows"]]


def progress_start_epoch(p: dict) -> float:
    """A progress ``timestamp`` (trigger start, ISO-8601 UTC) as epoch s."""
    from datetime import datetime, timezone

    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


class StatusStore:
    """Job and stage metrics from the driver's ``AppStatusStore``, which is
    populated with the UI disabled."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > job_id:
                ids = j.stageIds()
                end = j.completionTime()
                out.append({
                    "job": j.jobId(),
                    "submit_ms": j.submissionTime().get().getTime(),
                    "end_ms": end.get().getTime() if end.isDefined() else None,
                    "tags": [t.rsplit("-", 1)[-1] for t in _seq(j.jobTags())],
                    "stages": [ids.apply(k) for k in range(ids.size())],
                })
        return out

    def stage_metrics(self, stage_ids: set[int]) -> dict[str, float]:
        gw = self._sc._gateway
        stages = self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None
        )
        tot = dict.fromkeys(
            ("stages", "tasks", "executor_run_ms_tasksum",
             "executor_cpu_ms_tasksum", "gc_ms_tasksum", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "input_records"), 0.0)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            tot["stages"] += 1
            tot["tasks"] += s.numCompleteTasks()
            tot["executor_run_ms_tasksum"] += s.executorRunTime()
            tot["executor_cpu_ms_tasksum"] += s.executorCpuTime() / 1e6
            tot["gc_ms_tasksum"] += s.jvmGcTime()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["input_records"] += s.inputRecords()
        return tot


def busy_ms(jobs: list[dict]) -> float:
    """Milliseconds covered by the union of the jobs' run intervals."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j["submit_ms"]):
        lo, hi = max(j["submit_ms"], end), j["end_ms"] or j["submit_ms"]
        if hi > lo:
            total += hi - lo
        end = max(end, hi)
    return total


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def host_probes(work_dir: str) -> dict[str, float]:
    """Context for reading a run: a fixed pure-Python CPU loop and a 4 KiB
    write+fsync, each the median of a few repetitions."""
    cpu = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        cpu.append(time.perf_counter() - t0)
    fs = []
    path = os.path.join(work_dir, "fsync.probe")
    for _ in range(5):
        t0 = time.perf_counter()
        with open(path, "wb") as fh:
            fh.write(os.urandom(4096))
            fh.flush()
            os.fsync(fh.fileno())
        fs.append((time.perf_counter() - t0) * 1000)
    os.remove(path)
    return {"host.cpu_probe_s": statistics.median(cpu),
            "host.fsync_ms": statistics.median(fs)}
