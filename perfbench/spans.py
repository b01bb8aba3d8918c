"""Outside-in tracing: spans kept in memory, plus readers of Spark's own
status surfaces.

Nothing here patches or wraps the program. Spans are opened around the
benchmark's calls into the program; the per-layer figures come from
surfaces Spark already exposes to any caller:

- the AppStatusStore (``sc._jsc.sc().statusStore()``) for the jobs and
  stages of a job group — tasks, failed tasks, executor run time and
  shuffle bytes;
- ``df._jdf.queryExecution().tracker().phases()`` for Catalyst's
  analysis / optimization / planning time;
- ``getPersistentRDDs`` for the RDDs a query left cached;
- a StreamingQueryListener for each microbatch's ``durationMs`` phases.

Any of these that is missing in a Spark build reads as ``None`` and never
stops a run.
"""

from __future__ import annotations

import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

#: microbatch phases in the order MicroBatchExecution runs them inside
#: ``triggerExecution``; child spans are laid out in this order
STREAM_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets",
)


class Tracer:
    """In-memory span recorder. Times are seconds since the tracer was
    made, on the monotonic clock; ``wall0`` anchors them to epoch time so
    spans rebuilt from Spark's progress timestamps line up."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.wall0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent reading Spark's surfaces (the tracer's own cost)
        self.collect_s = 0.0

    def now(self) -> float:
        return time.perf_counter() - self.t0

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self.wall0

    def add(self, name: str, start: float, end: float, trace_id: str,
            parent: int | None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "trace_id": trace_id, **attrs,
        })
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, self.now(), 0.0, trace_id, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self.now()

    @contextmanager
    def collecting(self):
        """Bracket the tracer's own reads so they count as overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.collect_s += time.perf_counter() - t

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span that its
        children cover (children of one parent may overlap; the covered
        part is the union of their intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            own = max(0.0, s["end"] - s["start"] - covered)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


def _unavailable(what: str, err: Exception) -> None:
    print(f"perfbench: {what} unavailable, recorded as null: {err!r}", file=sys.stderr)


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases(df) -> dict[str, tuple[int, int] | None]:
    """Catalyst phase (start, end) epoch ms of the action that ran on
    ``df``; a phase that never ran is absent from the tracker → None."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception as e:
        _unavailable("Catalyst phase tracker", e)
        return dict.fromkeys(CATALYST_PHASES)
    out: dict[str, tuple[int, int] | None] = {}
    for name in CATALYST_PHASES:
        p = phases.apply(name) if phases.contains(name) else None
        out[name] = (p.startTimeMs(), p.endTimeMs()) if p is not None else None
    return out


def group_jobs(spark, group: str) -> dict[str, float | int | None]:
    """Counts over every job of a job group, read from the AppStatusStore:
    jobs, stages run (skipped ones excluded), tasks, failed tasks, summed
    executor run time (s) and shuffle bytes, and the epoch ms from the
    first job's submission to the last one's completion."""
    rec: dict = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                 "run_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                 "first_ms": None, "last_ms": None}
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
        for jid in job_ids:
            job = store.job(jid)
            rec["jobs"] += 1
            for key, when, pick in (("first_ms", job.submissionTime(), min),
                                    ("last_ms", job.completionTime(), max)):
                if when.isDefined():
                    ms = when.get().getTime()
                    rec[key] = ms if rec[key] is None else pick(rec[key], ms)
            sids = job.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["failed_tasks"] += st.numFailedTasks()
                rec["run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
    except Exception as e:
        _unavailable("AppStatusStore job data", e)
        return {k: None for k in rec}
    return rec


def persisted_rdds(spark) -> int | None:
    try:
        return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    except Exception as e:
        _unavailable("getPersistentRDDs", e)
        return None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM the session's gateway launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class ProgressRecorder(StreamingQueryListener):
    """Keeps every microbatch's progress: run id, batch id, input rows,
    trigger start (epoch ms) and all ``durationMs`` phases. The
    benchmark's own listener; the program's listeners are untouched."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        with self._cv:
            self.batches.append({
                "run_id": str(p.runId), "batch_id": p.batchId,
                "rows": p.numInputRows, "start_ms": start.timestamp() * 1000.0,
                "phases": {k: float(v) for k, v in p.durationMs.items()},
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> bool:
        """Block until ``n`` queries have terminated (events are delivered
        asynchronously, after ``awaitTermination`` returns)."""
        with self._cv:
            return self._cv.wait_for(lambda: len(self.terminated) >= n, timeout)
