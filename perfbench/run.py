#!/usr/bin/env python3
"""The engine's benchmark: seeded workloads through the package's public API.

    python3 perfbench/run.py --workload cql_serving --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Set-up (``get_spark``, ``load_all``,
``catalog.warm_cache`` and one untimed warm-up pass) is timed as
``setup_s``; then the workload's fixed round of operations runs
``round(--seconds / ROUND_SECONDS)`` times (at least once). Every output is
checked: CQL answers against a read-your-writes model, query results
against their DuckDB twins. The last line of standard output is one JSON
object with the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import re
import shlex
import statistics
import sys
import tempfile
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import cqlwork
import stats
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything the run writes (temp files, Spark scratch, result and trace
#: files) stays under this directory of the checkout
SCRATCH = os.path.join(ROOT, ".tmp", "perfbench")
#: scale factor directory, a sibling of the entry module's smoke data
SF_NAME = "sf0.01"

#: bench.py's 9 LLM-pipeline (D layer) operators, pinned here so an edit to
#: bench.py cannot change the workload
PIPELINE = (
    "d2b_minhash_lsh_pairs",
    "d2h_semdedup",
    "d4d_ivf_probe_knn",
    "d16_substring_dedup",
    "d13_sequence_packing",
    "d_pipeline_end_to_end",
    "d5u_bigram_lm_quality",
    "d7m_gif_lzw_decode",
    "d8g_ivfpq_search",
)

WORKLOADS = ("cql_serving", "llm_pipeline")
#: nominal length of one round of either workload on a 4-core host; a run
#: does round(--seconds / this) rounds (at least one), so the work a run
#: does is set by its arguments and never by how fast the engine is
ROUND_SECONDS = 10.0

#: name -> (unit, better); reported by every run with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "round_s": ("s", "lower"),
    "round_cpu_s": ("s", "lower"),
}

SPARK_FIGURES = {
    "plan_ms": "ms", "fetch_ms": "ms", "jobs": "count", "stages": "count",
    "tasks": "count", "failed_tasks": "count", "run_ms": "ms", "cpu_ms": "ms",
    "gc_ms": "ms", "input_records": "count", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}
LAYERS = ("bench", "spark", "session", "registry", "catalog", "cql", "cql_session", "operators")

#: name -> unit; reported by every run with --trace 1. A layer the
#: workload does not touch reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "catalog.warm_cache_s": "s",
    "bench.warmup_s": "s",
    "catalog.cached_mb": "MB",
    "bench.peak_rss_mb": "MB",
    "cql.parse_ms": "ms",
    "cql.translate_ms": "ms",
    "cql_session.snapshot_ms": "ms",
    "cql_session.read_mean_ms": "ms",
    "cql_session.write_us": "us",
    "cql_session.write_p90_us": "us",
    "cql_session.lwt_mean_ms": "ms",
    "cql_session.buffer_cells": "count",
    "cql_session.read_ms_per_kcell": "ms/kcell",
    "cql_session.input_batches_per_row": "count",
    **{f"spark.{k}": u for k, u in SPARK_FIGURES.items()},
    "spark.lwt.plan_ms": "ms",
    "spark.lwt.jobs": "count",
    "bench.concurrent_pass_s": "s",
    **{f"operators.{q}.{p}_s": "s" for q in PIPELINE for p in ("build", "exec")},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}


def data_dir() -> str | None:
    """``$PERFBENCH_SF_DIR``, else the sf0.01 sibling of the data directory
    the repo's entry module (``__spark_entry__.py``) reads."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    entry = os.path.join(ROOT, "__spark_entry__.py")
    if not os.path.isfile(entry):
        return None
    with open(entry) as f:
        m = re.search(r'_SMOKE_SF_DIR\s*=\s*"([^"]+)"', f.read())
    return os.path.join(os.path.dirname(m.group(1)), SF_NAME) if m else None


def contain_scratch() -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into the checkout, and read timestamps in UTC like the engine does."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} {submit}"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def host_canary_ms() -> float:
    """bench.py's host canary: median of 5 timings of sum(range(1e6))."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(range(1_000_000))
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[2] * 1000


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and its
    descendants, from /proc; a descendant that has exited counts through
    its parent's reaped-children times."""
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    total, todo = 0.0, [root_pid]
    while todo:
        p = todo.pop()
        total += cpu.get(p, 0.0)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return total


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Fetched:
    """A fetched pandas result in the shape ``compare.compare_query`` reads
    a frame in (``columns`` and ``collect()``), so checking a timed result
    does not run its query again."""

    def __init__(self, schema, pdf):
        self.columns = [f.name for f in schema.fields]
        cols = []
        for i, f in enumerate(schema.fields):
            vals = [_py(v) for v in pdf.iloc[:, i].tolist()]
            if f.dataType.typeName() in ("byte", "short", "integer", "long"):
                vals = [None if v is None else int(v) for v in vals]
            cols.append(vals)
        self._rows = list(zip(*cols))

    def collect(self):
        return self._rows


def _py(v):
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        return v.item()
    return v


class Bench:
    def __init__(self, args, sf_dir: str):
        self.args = args
        self.sf_dir = sf_dir
        self.nproc = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer() if args.trace else None
        self.jobs: tracing.JobReader | None = None
        self.spark = None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.lock = threading.Lock()
        self.wrong: list[str] = []
        self.errors: list[str] = []
        self.op_seq = 0
        self.buffer_cells = 0

    # -- shared ----------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def count(self, attempted: int, failed: int) -> None:
        with self.lock:
            self.attempted += attempted
            self.failed += failed

    def traced(self, on: bool) -> None:
        if self.tracer:
            self.tracer.enabled = on

    def next_op(self, on: bool, label: str, runs_jobs: bool = True):
        """(op id, job group), or (None, None) when not tracing."""
        if not on:
            return None, None
        self.op_seq += 1
        self.tracer.set_op(self.op_seq)
        return self.op_seq, self.jobs.tag(label) if runs_jobs else None

    def spark_figures(self, group, start_ms: float, end_ms: float):
        t = time.perf_counter()
        fig = self.jobs.read(group, start_ms, end_ms)
        return fig, time.perf_counter() - t

    def setup(self, warmup) -> float:
        t0 = time.perf_counter()
        from dcosb_cassandra_spark import catalog, registry, session

        if self.tracer:
            tracing.install(self.tracer)
            self.traced(True)
        t = time.perf_counter()
        self.spark = session.get_spark("perfbench", cpus=str(self.nproc))
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        if self.tracer:
            self.jobs = tracing.JobReader(self.spark)
            self.jobs.tag("setup")
        t = time.perf_counter()
        registry.load_all()
        self.layer["registry.load_all_s"] = time.perf_counter() - t
        self.registry = registry.REGISTRY
        if self.tracer:
            tracing.wrap_queries(self.tracer, self.registry, PIPELINE)
        t = time.perf_counter()
        catalog.warm_cache(self.spark, self.sf_dir)
        self.layer["catalog.warm_cache_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.span("bench.warmup"):
            warmup()
        self.layer["bench.warmup_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        if self.jobs:
            self.layer["catalog.cached_mb"] = self.jobs.cached_mb()
        return setup_s

    # -- cql_serving -----------------------------------------------------

    def cql_round(self, ops, on: bool, probe: bool = False) -> dict:
        """One session: the untimed fill writes, then the timed operations.
        With ``probe``, each of the round's reads also runs once before the
        fill, on an empty buffer, untimed, so read latency can be set
        against buffer size."""
        from dcosb_cassandra_spark.cql_session import CqlSession

        sess = CqlSession(self.spark, self.sf_dir)
        model = cqlwork.Model(self.base_rows, self.base_cols)
        fill = [op for op in ops if op.kind == "fill"]
        timed = [op for op in ops if op.kind != "fill"]
        probes = [self.cql_op(sess, model, op, False) for op in timed if probe and op.kind == "read"]
        done = [self.cql_op(sess, model, op, False) for op in fill]
        self.traced(on)
        recs, hidden, check_cpu = [], 0.0, 0.0
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        for op in timed:
            rec = self.cql_op(sess, model, op, on)
            if rec is not None:
                recs.append(rec)
                hidden += rec.pop("hidden", 0.0)
                check_cpu += rec.pop("check_cpu", 0.0)
        wall = time.perf_counter() - t0 - hidden
        cpu = tree_cpu_s(os.getpid()) - c0 - check_cpu
        self.traced(False)
        self.count(len(probes) + len(ops), len(probes) + len(ops) - len(recs)
                   - sum(r is not None for r in probes + done))
        probes = [r for r in probes if r is not None]
        self.buffer_cells = model.cells
        return {"wall": wall, "cpu": cpu, "recs": recs, "probes": probes, "cells": model.cells}

    def cql_op(self, sess, model, op, on: bool) -> dict | None:
        op_id, group = self.next_op(on, op.kind, runs_jobs=op.kind not in ("fill", "write"))
        cells = model.cells
        rows = None
        t = time.perf_counter()
        start_ms = act_ms = time.time() * 1000
        try:
            with self.span(f"bench.{op.kind}"):
                res = sess.execute(op.cql)
                if op.kind in ("read", "lwt"):
                    act_ms = time.time() * 1000
                    with self.span("spark.action"):
                        rows = res.collect()
        except Exception as e:  # counted in error_rate
            self.errors.append(f"{op.cql[:120]}: {str(e)[:200]}")
            return None
        ms = (time.perf_counter() - t) * 1000
        end_ms = time.time() * 1000
        t_check, cpu_check = time.perf_counter(), time.thread_time()
        rec = {"kind": op.kind, "ms": ms, "op": op_id, "cells": cells}
        if op.kind in ("fill", "write"):
            model.apply(op.muts)
        elif op.kind == "read":
            got = [r.asDict() for r in rows]
            why = cqlwork.check_rows(op.table, got, model.read(op))
            if why:
                self.wrong.append(f"{op.cql}: {why}")
            rec["rows"] = len(got)
            rec["buffered"] = model.buffered(op.table, op.pk)
        else:
            applied = bool(rows[0][0])
            if applied != model.lwt(op):
                self.wrong.append(f"{op.cql}: [applied] = {applied}")
        hidden = time.perf_counter() - t_check
        rec["check_cpu"] = time.thread_time() - cpu_check
        if group is not None:
            # an LWT's jobs start inside execute, so its action is the call
            start = act_ms if op.kind == "read" else start_ms
            rec["spark"], read_s = self.spark_figures(group, start, end_ms)
            hidden += read_s
        rec["hidden"] = hidden
        return rec

    def run_cql(self) -> dict:
        # the model's base rows are the benchmark's own preparation, not
        # the engine's set-up
        self.base_rows, self.base_cols = cqlwork.load_base(self.sf_dir)
        u = cqlwork.universe(self.base_rows)
        ops = cqlwork.round_ops(self.args.seed, u)
        warm = cqlwork.warmup_ops(u)

        def warmup():
            # every statement shape once on nproc clients, each with its own
            # session and model, so the cold starts overlap; then one round
            chunks = [warm[i::self.nproc] for i in range(self.nproc)]
            with ThreadPoolExecutor(max_workers=self.nproc) as pool:
                list(pool.map(lambda ops: self.cql_round(ops, False), chunks))
            self.cql_round(ops, False)

        setup_s = self.setup(warmup)
        rounds = self.measure(lambda on: self.cql_round(ops, on, probe=on))
        reads = [r for r in rounds[0]["recs"] if r["kind"] == "read"]
        out = {
            "setup_s": setup_s,
            "rounds_s": [rd["wall"] for rd in rounds],
            "rounds_cpu_s": [rd["cpu"] for rd in rounds],
            "detail": {k: [round(r["ms"], 1) for r in rounds[0]["recs"] if r["kind"] == k]
                       for k in ("read", "lwt")},
            "reads_on_buffered_keys": stats.mean(r["buffered"] for r in reads),
        }
        if self.tracer:
            self.cql_layers(rounds)
        return out

    def cql_layers(self, rounds) -> None:
        _, traced, plain = rounds
        recs = traced["recs"]
        opt = tracing.op_times(self.tracer.spans)

        def spent(r, name, own=False):
            v = opt.get(r["op"], {}).get(name)
            return (v[1] if own else v[0]) * 1000 if v else 0.0

        reads = [r for r in recs if r["kind"] == "read"]
        lwts = [r for r in recs if r["kind"] == "lwt"]
        writes_us = [r["ms"] * 1000 for r in recs if r["kind"] == "write"]
        L = self.layer
        L["cql.parse_ms"] = stats.mean(spent(r, "cql.parse") for r in reads)
        L["cql.translate_ms"] = stats.mean(spent(r, "cql.translate", own=True) for r in reads)
        L["cql_session.snapshot_ms"] = stats.mean(spent(r, "cql_session.snapshot") for r in reads)
        L["cql_session.read_mean_ms"] = stats.mean(r["ms"] for r in reads)
        L["cql_session.write_us"] = stats.percentile(writes_us, 50) or 0.0
        L["cql_session.write_p90_us"] = stats.percentile(writes_us, 90) or 0.0
        L["cql_session.lwt_mean_ms"] = stats.mean(r["ms"] for r in lwts)
        L["cql_session.buffer_cells"] = traced["cells"]
        # the probes ran the same reads on an empty buffer
        both = traced["probes"] + reads
        L["cql_session.read_ms_per_kcell"] = stats.slope(
            [r["cells"] / 1000 for r in both], [r["ms"] for r in both])
        L["cql_session.input_batches_per_row"] = stats.mean(
            r["spark"]["input_records"] / max(1, r["rows"]) for r in reads)
        self.spark_layers(reads)
        L["spark.lwt.plan_ms"] = stats.mean(r["spark"]["plan_ms"] for r in lwts)
        L["spark.lwt.jobs"] = stats.mean(r["spark"]["jobs"] for r in lwts)
        self.overhead(plain["wall"], traced["wall"])

    # -- llm_pipeline ----------------------------------------------------

    def query_op(self, name: str, on: bool, results: list) -> dict | None:
        op_id, group = self.next_op(on, name)
        t = time.perf_counter()
        try:
            with self.span("bench.query"):
                df = self.registry[name].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                start_ms = time.time() * 1000
                with self.span("spark.action"):
                    pdf = df.toPandas()
        except Exception as e:  # counted in error_rate
            self.errors.append(f"{name}: {str(e)[:200]}")
            return None
        t2 = time.perf_counter()
        end_ms = time.time() * 1000
        results.append((name, df.schema, pdf))
        rec = {"name": name, "op": op_id, "build": t1 - t, "exec": t2 - t1, "ms": (t2 - t) * 1000}
        if group is not None:
            rec["spark"], rec["hidden"] = self.spark_figures(group, start_ms, end_ms)
        return rec

    def pipeline_pass(self, on: bool, threads: int = 1) -> dict:
        names = PIPELINE
        results: list = []
        self.traced(on)
        t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
        if threads > 1:
            with ThreadPoolExecutor(max_workers=threads) as pool:
                recs = list(pool.map(lambda n: self.query_op(n, on, results), names))
        else:
            recs = [self.query_op(n, on, results) for n in names]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - c0
        self.traced(False)
        self.count(len(names), sum(r is None for r in recs))
        recs = [r for r in recs if r is not None]
        wall -= sum(r.pop("hidden", 0.0) for r in recs)
        return {"wall": wall, "cpu": cpu, "recs": recs, "results": results}

    def check(self, passes) -> None:
        """Compare each fetched result with its DuckDB twin (untimed)."""
        from dcosb_cassandra_spark import compare

        for name, schema, pdf in (r for p in passes for r in p.pop("results")):
            res = compare.compare_query(self.spark, name, self.sf_dir, sdf=Fetched(schema, pdf))
            if not res.get("ok"):
                self.wrong.append(f"{name}: {res.get('why', res)}")

    def run_pipeline(self) -> dict:
        # the warm-up is one pass on nproc threads, so the cold starts overlap
        setup_s = self.setup(lambda: self.pipeline_pass(False, threads=self.nproc))
        passes = self.measure(lambda on: self.pipeline_pass(on))
        self.check(passes)
        out = {
            "setup_s": setup_s,
            "rounds_s": [p["wall"] for p in passes],
            "rounds_cpu_s": [p["cpu"] for p in passes],
            "detail": {r["name"]: round(r["ms"]) for r in passes[0]["recs"]},
        }
        if self.tracer:
            _, traced, plain = passes
            conc = self.pipeline_pass(False, threads=self.nproc)
            self.check([conc])
            self.layer["bench.concurrent_pass_s"] = conc["wall"]
            for r in traced["recs"]:
                self.layer[f"operators.{r['name']}.build_s"] = r["build"]
                self.layer[f"operators.{r['name']}.exec_s"] = r["exec"]
            self.spark_layers(traced["recs"])
            self.overhead(plain["wall"], traced["wall"])
        return out

    # -- measurement -----------------------------------------------------

    def measure(self, one_round) -> list[dict]:
        """The run's untraced rounds. A traced run does three rounds
        instead, untraced, traced, untraced; the first round after set-up
        still runs slower, so the tracing overhead compares the last two."""
        if self.tracer:
            plan = [False, True, False]
        else:
            plan = [False] * max(1, round(self.args.seconds / ROUND_SECONDS))
        return [one_round(on) for on in plan]

    def spark_layers(self, recs) -> None:
        for k in SPARK_FIGURES:
            self.layer[f"spark.{k}"] = stats.mean(r["spark"][k] for r in recs if "spark" in r)

    def overhead(self, plain_s: float, traced_s: float) -> None:
        self.layer["trace.overhead_pct"] = (traced_s / plain_s - 1) * 100
        self.layer["trace.spans"] = len(self.tracer.spans)
        selfs = tracing.self_times(self.tracer.spans)
        for layer in LAYERS:
            self.layer[f"self.{layer}_s"] = sum(
                v for name, v in selfs.items() if tracing.layer(name) == layer)

    # -- run -------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        out = self.run_cql() if self.args.workload == "cql_serving" else self.run_pipeline()
        from pyspark import SparkContext

        sc = self.spark.sparkContext
        jvm_pid = SparkContext._gateway.proc.pid
        self.layer["bench.peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        env = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "sf_dir": os.path.basename(self.sf_dir),
            "nproc": self.nproc,
            "python": platform.python_version(),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "buffer_cells": self.buffer_cells,
            "reads_on_buffered_keys": out.get("reads_on_buffered_keys"),
            "peak_rss_mb": self.layer["bench.peak_rss_mb"],
            "setup_parts_s": {k: self.layer.get(k) for k in (
                "session.get_spark_s", "registry.load_all_s",
                "catalog.warm_cache_s", "bench.warmup_s")},
            "rounds_s": out["rounds_s"],
            "rounds_cpu_s": out["rounds_cpu_s"],
            "detail": out.get("detail"),
            "attempted": self.attempted,
            "failed": self.failed,
            "error_rate": self.failed / max(1, self.attempted),
            "errors": self.errors[:5],
            "wrong": self.wrong[:5],
        }
        if self.args.trace:
            metrics = {k: (float(self.layer.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
            self.write_trace()
        else:
            vals = {
                "setup_s": out["setup_s"],
                "round_s": statistics.median(out["rounds_s"]),
                "round_cpu_s": statistics.median(out["rounds_cpu_s"]),
            }
            metrics = {k: (float(vals[k]), u) for k, (u, _) in END_TO_END.items()}
        result = {
            "correct": not self.wrong,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return env, result

    def write_trace(self) -> None:
        selfs = tracing.self_times(self.tracer.spans)
        doc = {
            "span_fields": ["name", "start_s", "end_s", "parent", "op"],
            "spans": self.tracer.spans,
            "self_s": selfs,
            "self_s_by_layer": {
                layer: sum(v for n, v in selfs.items() if tracing.layer(n) == layer)
                for layer in LAYERS
            },
        }
        path = os.path.join(SCRATCH, f"trace-{self.args.workload}-{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(doc, f)

    def shutdown(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            if self.spark is not None:
                self.spark.stop()
        with contextlib.suppress(Exception):
            if gw is not None:
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dcosb_cassandra_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sf_dir = data_dir()
    if not sf_dir or not os.path.isdir(sf_dir):
        print(f"perfbench: no data directory ({sf_dir}); set PERFBENCH_SF_DIR", file=sys.stderr)
        return 2
    contain_scratch()
    sys.path.insert(0, ROOT)
    bench = Bench(args, sf_dir)
    t0 = time.perf_counter()
    try:
        env, result = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t1 = time.perf_counter()
        bench.shutdown()
    env["run_s"] = t1 - t0
    env["shutdown_s"] = time.perf_counter() - t1
    env["host_canary_ms"] = host_canary_ms()
    path = os.path.join(SCRATCH, f"result-{args.workload}-{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"environment": env, "result": result}, f, indent=1)
    print(json.dumps({"environment": env}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
