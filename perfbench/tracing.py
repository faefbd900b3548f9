"""Spans around zdb_spark's public calls, with Spark counters per span.

Used only by the system-under-test process in a traced run.  Each span
records name, start, end, parent and request id in memory; the Spark jobs
a span launches carry the span's job group, so at the end of the run the
status store gives each span its stages (tasks, executor run/CPU time, GC,
shuffle and spill bytes, stage intervals) and the SQL store gives its plan
counters (files and rows read, Python-eval nodes, MapInPandas output
rows).  Nothing is read from the status stores while the run is timed.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

_PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                  "MapInArrow", "FlatMapGroupsInPandas",
                  "FlatMapCoGroupsInPandas", "AggregateInPandas",
                  "WindowInPandas", "FlatMapGroupsInPandasWithState")


def _num(s) -> int:
    """SQL metric strings carry thousands separators: '150,000'."""
    try:
        return int(str(s).replace(",", ""))
    except ValueError:
        return 0


def _jiter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = iter(range(1, 1 << 62))
        self.phase = "setup"  # "run" once the workload's load starts

    # -- spans -------------------------------------------------------- #
    def set_request(self, req: str | None) -> None:
        self._local.req = req

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "req": getattr(self._local, "req", None),
               "group": f"perfbench-{sid}", "phase": self.phase,
               "start": time.time()}
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def wrap_function(self, owner, attr: str, name: str, after=None) -> None:
        """Replace the function or method ``owner.attr`` with one that runs
        it in a span; ``after(result)`` runs inside the span too."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out)
                return out

        setattr(owner, attr, wrapped)

    def wrap_classmethod(self, cls, attr: str, name: str) -> None:
        orig = getattr(cls, attr)  # bound to cls

        def wrapped(_cls, *args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(cls, attr, classmethod(wrapped))

    # -- counters ----------------------------------------------------- #
    def _stages(self, jobs) -> set[int]:
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return stages

    def _stage_counters(self, stages) -> dict:
        """Status-store sums over ``stages``, plus their (start, end)
        intervals in seconds."""
        store = self.sc._jsc.sc().statusStore()
        agg = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0,
               "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        intervals = []
        for s in sorted(stages):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # evicted from the store
                continue
            sub, done = sd.submissionTime(), sd.completionTime()
            if not sub.isDefined():
                continue  # skipped stage: its output was reused
            agg["stages"] += 1
            agg["tasks"] += sd.numTasks()
            agg["run_ms"] += sd.executorRunTime()
            agg["cpu_ms"] += sd.executorCpuTime() / 1e6
            agg["gc_ms"] += sd.jvmGcTime()
            agg["shuffle_bytes"] += (sd.shuffleReadBytes()
                                     + sd.shuffleWriteBytes())
            agg["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
            end = (done.get().getTime() if done.isDefined()
                   else sub.get().getTime())
            intervals.append((sub.get().getTime() / 1e3, end / 1e3))
        agg["stage_intervals"] = intervals
        return agg

    def whole_run_counters(self) -> dict:
        """GC time and spill over every stage the status store kept."""
        store = self.sc._jsc.sc().statusStore()
        jobs = [int(j.jobId()) for j in _jiter(store.jobsList(None))]
        agg = self._stage_counters(self._stages(jobs))
        return {"gc_ms": agg["gc_ms"], "spill_bytes": agg["spill_bytes"]}

    def collect_counters(self) -> None:
        """Attach status-store counters to every recorded span (own jobs
        only; ``inclusive`` sums are derived by the caller)."""
        tracker = self.sc.statusTracker()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            rec["jobs"] = len(jobs)
            job_span.update(dict.fromkeys(jobs, rec))
            rec.update(self._stage_counters(self._stages(jobs)))
            rec.update(files_read=0, scan_rows=0, py_eval_nodes=0,
                       map_in_pandas_rows=0)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _jiter(sql.executionsList()):
            owner = None
            for j in _jiter(e.jobs().keys()):
                owner = job_span.get(int(j))
                if owner is not None:
                    break
            if owner is None:
                continue
            values = sql.executionMetrics(e.executionId())
            for node in _jiter(sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                if name.startswith(_PY_EVAL_NODES):
                    owner["py_eval_nodes"] += 1
                for m in _jiter(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    if name.startswith("Scan") and \
                            m.name() == "number of files read":
                        owner["files_read"] += _num(v.get())
                    elif name.startswith("Scan") and \
                            m.name() == "number of output rows":
                        owner["scan_rows"] += _num(v.get())
                    elif name.startswith("MapInPandas") and \
                            m.name() == "number of output rows":
                        owner["map_in_pandas_rows"] += _num(v.get())


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of (start, end) second intervals,
    clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3
