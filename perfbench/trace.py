"""Tracing for the benchmark's traced run, from outside the package.

Two sources, both read without changing the package:

* :class:`ModuleTracer` wraps every public function of each layer
  module (``goodreads_pyspark_spark.<layer>.*``) and records a span per
  call: name, start, end, parent span and the query execution it ran
  in. Spans stay in memory until the run writes them out.
* :class:`SparkProbe` reads Spark's status store after each query:
  the jobs in the query's job-id range, their stages' task metrics, and
  the Catalyst phase times of the query's final DataFrame.

Most layer functions return lazy DataFrames, so a layer's ``self_s`` is
plan construction plus any eager actions inside the function; the lazy
execution shows under ``queries.collect_s`` and the ``spark.*`` counters.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

PKG = "goodreads_pyspark_spark"

#: The package's layer modules, in the order metrics are reported.
LAYERS = (
    "sources",
    "operators",
    "functions",
    "dedup",
    "similarity",
    "graph",
    "ml",
    "streaming",
    "multimodal",
    "pipelines",
)

RUN_CONCURRENT = "operators.concurrency.run_concurrent"


@dataclass(frozen=True)
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    query_exec: int
    thread: int


def _layer_of(modname: str) -> str | None:
    parts = modname.split(".")
    if len(parts) >= 2 and parts[0] == PKG and parts[1] in LAYERS:
        return parts[1]
    return None


class ModuleTracer:
    """Spans around calls into the package's layer modules."""

    def __init__(self) -> None:
        self.active = False
        self.query_exec = -1
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._wrapped: dict = {}  # original function -> wrapper

    def install(self) -> None:
        """Wrap every public function of every layer module.

        Call before ``queries._load_all()`` and :meth:`rebind` after it:
        query bodies that import layer functions inside the function
        body then find the wrapper on the module, and module-level
        imports are re-pointed at it.
        """
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PKG}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                importlib.import_module(f"{pkg.__name__}.{info.name}")
        for modname, mod in list(sys.modules.items()):
            layer = _layer_of(modname)
            if layer is None:
                continue
            for attr, obj in vars(mod).items():
                if inspect.isfunction(obj) and not attr.startswith("_") and obj.__module__ == modname:
                    self._wrapped[obj] = self._wrap(obj, layer)
        self.rebind()

    def rebind(self) -> None:
        """Point every package module's reference to a wrapped function
        at its wrapper."""
        for modname, mod in list(sys.modules.items()):
            if modname != PKG and not modname.startswith(PKG + "."):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in self._wrapped:
                    setattr(mod, attr, self._wrapped[obj])

    def _wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__module__.rsplit('.', 1)[1]}.{fn.__name__}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                stack.pop()
                tracer.spans.append(
                    Span(sid, parent, layer, name, start, end, tracer.query_exec, threading.get_ident())
                )

        return traced

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_stats(spans: list[Span], jobs: list[dict], main_thread: int) -> dict[str, float]:
    """Calls, self time and jobs per layer for one query execution.

    A span opened on a driver pool thread (``run_concurrent``) has no
    parent on its own thread; it is adopted by the innermost main-thread
    span that was open when it started. A job belongs to the innermost
    span open at its submission time.
    """
    out: dict[str, float] = {}
    main = [s for s in spans if s.thread == main_thread]
    children: dict[int, list[Span]] = {}
    for s in spans:
        parent = s.parent
        if parent is None and s.thread != main_thread:
            hosts = [m for m in main if m.start <= s.start <= m.end]
            parent = max(hosts, key=lambda m: m.start).id if hosts else None
        if parent is not None:
            children.setdefault(parent, []).append(s)
    for s in spans:
        kids = [(max(k.start, s.start), min(k.end, s.end)) for k in children.get(s.id, ())]
        self_s = (s.end - s.start) - _union_s([k for k in kids if k[1] > k[0]])
        out[f"{s.layer}.calls"] = out.get(f"{s.layer}.calls", 0) + 1
        out[f"{s.layer}.self_s"] = out.get(f"{s.layer}.self_s", 0.0) + self_s
        if s.name == RUN_CONCURRENT:
            out["operators.run_concurrent_s"] = out.get("operators.run_concurrent_s", 0.0) + (
                s.end - s.start
            )
    for j in jobs:
        t = j["submitted"]
        open_spans = [s for s in spans if s.start <= t <= s.end]
        if open_spans:
            owner = max(open_spans, key=lambda s: s.start)
            out[f"{owner.layer}.jobs"] = out.get(f"{owner.layer}.jobs", 0) + 1
    return out


class SparkProbe:
    """Job, stage and task counters from Spark's status store.

    Jobs are taken by job-id range over each query window rather than
    by job group: jobs submitted from ``run_concurrent`` pool threads do
    not carry the caller's group.
    """

    _STAGE_SUMS = {
        "spark.executor_run_s": ("executorRunTime", 1e-3),
        "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
        "spark.gc_s": ("jvmGcTime", 1e-3),
        "spark.input_bytes": ("inputBytes", 1),
        "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
        "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spark.spill_bytes": ("diskBytesSpilled", 1),
        "spark.output_bytes": ("outputBytes", 1),
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        jvm = spark._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(getattr(scala_module, "MODULE$"))
        self._bus.waitUntilEmpty()
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        self._next_job = max(ids, default=-1) + 1
        self._seen_stages: set[int] = set()

    def new_jobs(self) -> list[dict]:
        """Every job submitted since the previous call, in id order."""
        self._bus.waitUntilEmpty()
        jobs = []
        while True:
            try:
                raw = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs
            j = json.loads(self._json.writeValueAsString(raw))
            submitted = j["submissionTime"] or 0  # unset for a job never submitted
            jobs.append(
                {
                    "id": j["jobId"],
                    "submitted": submitted / 1e3,
                    "completed": (j["completionTime"] or submitted) / 1e3,
                    "stages": j["stageIds"],
                }
            )
            self._next_job += 1

    def counters(self, jobs: list[dict]) -> dict[str, float]:
        """Stage and task sums over ``jobs``; a stage shared by several
        jobs counts once, and stages skipped by reuse do not count."""
        out = {"spark.jobs": len(jobs), "spark.stages": 0, "spark.tasks": 0, "spark.failed_tasks": 0}
        out.update({k: 0 for k in self._STAGE_SUMS})
        for sid in sorted({s for j in jobs for s in j["stages"]} - self._seen_stages):
            self._seen_stages.add(sid)
            try:
                st = json.loads(self._json.writeValueAsString(self._store.lastStageAttempt(sid)))
            except Py4JJavaError:  # stage never submitted
                continue
            if st["status"] == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st["numTasks"]
            out["spark.failed_tasks"] += st["numFailedTasks"]
            for k, (field, scale) in self._STAGE_SUMS.items():
                out[k] += st[field] * scale
        return out


def catalyst_s(df) -> float:
    """Analysis, optimisation and planning time of ``df``'s query."""
    phases = df._jdf.queryExecution().tracker().phases()
    total, it = 0.0, phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total += kv._2().durationMs() / 1e3
    return total


def no_job_s(window: tuple[float, float], jobs: list[dict]) -> float:
    """Time inside ``window`` during which none of ``jobs`` was running."""
    w0, w1 = window
    running = [(max(j["submitted"], w0), min(j["completed"], w1)) for j in jobs]
    return (w1 - w0) - _union_s([r for r in running if r[1] > r[0]])
