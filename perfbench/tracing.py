"""Outside-in tracing for ``--trace 1`` runs.

Nothing under the engine package is edited: its public entry points are
rebound from here to wrappers that record spans, and each operation's Spark
jobs are tagged with a job group and read back from Spark's status store.
A span is ``[name, start_s, end_s, parent_index, op_id]``; the first part of
its name is its layer.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import threading
import time

MB = 1 << 20


class Tracer:
    def __init__(self):
        #: spans are recorded only while enabled (the untraced round of a
        #: traced run keeps the wrappers bound but records nothing)
        self.enabled = False
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.t0 = time.perf_counter()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_op(self, op_id) -> None:
        """Attribute the calling thread's next spans to operation ``op_id``."""
        self._local.op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = [name, time.perf_counter() - self.t0, None,
               stack[-1] if stack else None, getattr(self._local, "op", None)]
        with self._lock:
            stack.append(len(self.spans))
            self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter() - self.t0
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> None:
    """Rebind the engine's public entry points to traced wrappers."""
    from dcosb_cassandra_spark import catalog, cql, cql_session, registry, session

    session.get_spark = tracer.wrap(session.get_spark, "session.get_spark")
    registry.load_all = tracer.wrap(registry.load_all, "registry.load_all")
    catalog.warm_cache = tracer.wrap(catalog.warm_cache, "catalog.warm_cache")
    cql.parse = tracer.wrap(cql.parse, "cql.parse")
    # cql_session holds its own reference to cql.cql: rebind both
    translate = tracer.wrap(cql.cql, "cql.translate")
    cql.cql = translate
    cql_session.cql = translate
    cls = cql_session.CqlSession
    cls.snapshot = tracer.wrap(cls.snapshot, "cql_session.snapshot")
    cls.execute = tracer.wrap(cls.execute, "cql_session.execute")


def wrap_queries(tracer: Tracer, registry: dict, names) -> None:
    """Trace each query's plan construction (its registered ``fn``)."""
    for n in names:
        spec = registry[n]
        registry[n] = dataclasses.replace(spec, fn=tracer.wrap(spec.fn, f"operators.{n}.build"))


def layer(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list[list]) -> dict[str, float]:
    """Seconds spent in each span name minus time spent in its child spans."""
    child = [0.0] * len(spans)
    for _, start, end, parent, _ in spans:
        if parent is not None and end is not None:
            child[parent] += end - start
    out: dict[str, float] = {}
    for i, (name, start, end, _, _) in enumerate(spans):
        if end is not None:
            out[name] = out.get(name, 0.0) + (end - start) - child[i]
    return out


def op_times(spans: list[list]) -> dict:
    """op_id -> {span name: (total seconds, self seconds)}."""
    child = [0.0] * len(spans)
    for _, start, end, parent, _ in spans:
        if parent is not None and end is not None:
            child[parent] += end - start
    out: dict = {}
    for i, (name, start, end, _, op) in enumerate(spans):
        if op is None or end is None:
            continue
        tot, own = out.setdefault(op, {}).get(name, (0.0, 0.0))
        out[op][name] = (tot + end - start, own + end - start - child[i])
    return out


class JobReader:
    """Per-operation Spark job and stage figures from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.seq = 0

    def tag(self, label: str) -> str:
        """Put the calling thread's next jobs in a fresh job group."""
        self.seq += 1
        group = f"perfbench-{self.seq}-{threading.get_ident()}"
        self.sc.setJobGroup(group, label)
        return group

    def _job(self, jid):
        try:
            return self.store.job(jid)
        except Exception:  # not yet in the store
            return None

    def read(self, group: str, action_start_ms: float, action_end_ms: float) -> dict:
        """Figures for the jobs of ``group``; waits briefly for the listener
        bus to deliver their end events."""
        deadline = time.time() + 5
        while True:
            jobs = sorted(self.tracker.getJobIdsForGroup(group))
            data = [self._job(j) for j in jobs]
            if all(d is not None and d.completionTime().isDefined() for d in data):
                break
            if time.time() > deadline:
                data = [d for d in data if d is not None and d.completionTime().isDefined()]
                break
            time.sleep(0.01)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
             "input_records", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
        out["jobs"] = float(len(data))
        subs, ends = [], []
        for d in data:
            if d.submissionTime().isDefined():
                subs.append(d.submissionTime().get().getTime())
            ends.append(d.completionTime().get().getTime())
            ids = d.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(i))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["input_records"] += st.inputRecords()
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += st.diskBytesSpilled() / MB
        out["plan_ms"] = max(0.0, min(subs) - action_start_ms) if subs else 0.0
        out["fetch_ms"] = max(0.0, action_end_ms - max(ends)) if ends else 0.0
        return out

    def cached_mb(self) -> float:
        """Size of the cached RDDs (memory plus disk) in the status store."""
        rdds = self.store.rddList(True)
        return sum(
            (rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()) / MB
            for i in range(rdds.size())
        )
