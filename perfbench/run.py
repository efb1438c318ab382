"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload job_heavy --seed 1 --seconds 50 --trace 0

Run from the root of a checkout. One invocation is one fresh process
with one Spark session on ``local[nproc]``. It

1. prepares the inputs (derived tables for ``copies > 1``) and computes
   every query's DuckDB oracle answer on them;
2. sets up: imports the package, starts the session, runs one warm-up
   scan and builds the shared kernels the workload's queries consume;
3. measures for about ``--seconds``: a cold pass, the workload's
   warm-up passes, then the number of warm passes it fits in
   ``--seconds`` on a 4-core host, each over the workload's queries in
   a seeded order, as a closed loop with one client, checking every
   output against its oracle answer.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
tracing of :mod:`perfbench.trace`, alternates traced and untraced warm
passes, and prints the per-layer metrics (medians over traced warm
passes) plus the tracing overhead. The last line of stdout is one JSON
object. Progress, failures and ledger drift go to stderr; the full
record, with every query execution of every pass, goes to
``.perfbench/runs/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent

sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from perfbench import inputs, procfs  # noqa: E402
from perfbench.workloads import SMALL_BASE, SMALL_COPIES, WORKLOADS  # noqa: E402

#: The percentile ``query_tail_s`` reports.
TAIL_PERCENTILE = 90


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--small", action="store_true", help=f"run on {SMALL_BASE} (the self-check's input)"
    )
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _pin_environment(work: Path) -> dict[str, str]:
    """Pin what the session factory and Spark's workers read from the
    environment; returns the pinned values for the run record."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(2, int(procfs.host_memory_gb() // 4)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # Spark's Python data-source and UDF workers import the package.
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CONF": ";".join(
            [
                "spark.ui.showConsoleProgress=false",
                # Spark's cache of generated classes (100 entries by
                # default, in segments that evict on their own) is smaller
                # than a workload's set, so warm passes recompiled 5-40
                # classes each, which ones depending on the seeded query
                # order. Holding every class makes a warm pass run warm
                # code; spark.codegen_compiles shows a change that
                # generates code a pass cannot reuse.
                "spark.sql.codegen.cache.maxEntries=1000",
                # A fixed heap (-Xms = the -Xmx Spark sets from driver
                # memory) leaves peak RSS to the program, not to when the
                # collector chose to grow the heap. The parallel collector
                # has no concurrent GC threads to contend with the task
                # threads: under G1, warm pass times of one run differed
                # from another's by up to a third on a 4-core VM.
                f"spark.driver.extraJavaOptions=-Xms{heap_gb}g -XX:+UseParallelGC "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            ]
        ),
    }
    os.environ.update(pinned)
    tempfile.tempdir = str(tmp)
    return pinned


def _resolve(short_names, registry) -> list[str]:
    out = []
    for s in short_names:
        hits = [n for n in registry if n == s or n.startswith(s + "_")]
        if len(hits) != 1:
            raise SystemExit(f"perfbench: query {s!r} matches {hits}")
        out.append(hits[0])
    return out


class Bench:
    """One run: a session, the workload's queries and their answers."""

    def __init__(self, args, wl, sf_dir: Path, tracer):
        from goodreads_pyspark_spark.queries import REGISTRY, SHARED_KERNELS

        self.args, self.wl, self.sf_dir, self.tracer = args, wl, sf_dir, tracer
        self.queries = _resolve(wl.queries, REGISTRY)
        self.registry = REGISTRY
        self.kernels = [
            k for k, spec in SHARED_KERNELS.items() if set(spec["consumers"]) & set(self.queries)
        ]
        missing = [q for q in self.queries if REGISTRY[q].oracle is None]
        if missing:
            raise SystemExit(f"perfbench: no oracle to check {missing} against")
        self.spark = None
        self.probe = None
        self.jvm_pid = None
        self.failures: list[dict] = []
        self.ledger: list[dict] = []
        self.main_thread = threading.get_ident()

    # -- set-up -------------------------------------------------------
    def set_up(self) -> dict:
        from goodreads_pyspark_spark.queries import SHARED_KERNELS
        from goodreads_pyspark_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.read.parquet(str(self.sf_dir / "lineitem.parquet")).count()
        t2 = time.perf_counter()
        kernels = {}
        for k in self.kernels:
            tk = time.perf_counter()
            SHARED_KERNELS[k]["build"](self.spark, str(self.sf_dir))
            self.spark.catalog.clearCache()
            kernels[k] = time.perf_counter() - tk
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return {
            "session_s": t1 - t0,
            "warmup_s": t2 - t1,
            "kernels_s": kernels,
            "total_s": time.perf_counter() - t0,
        }

    # -- measurement --------------------------------------------------
    def run_query(self, name: str, pass_no: int, traced: bool, expected) -> dict:
        from verify_local import _norm_rows

        spark, q = self.spark, self.registry[name]
        rec = {"pass": pass_no, "query": name, "ok": False}
        cpu0 = procfs.tree_cpu_s(self.jvm_pid)
        jvm0 = procfs.own_cpu_s(self.jvm_pid)
        steal0 = procfs.steal_s()
        if traced:
            self.probe.new_jobs()  # skip jobs of untraced passes
            self.tracer.query_exec = len(self.ledger)
            self.tracer.active = True
        w0 = time.time()
        t0 = time.perf_counter()
        df = rows = None
        try:
            df = q.spark_fn(spark, str(self.sf_dir))
            t1 = time.perf_counter()
            t1_epoch = time.time()
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            t1 = t2 = t1_epoch = None
            rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        t_end = time.perf_counter()
        w1 = time.time()
        if traced:
            self.tracer.active = False
        spark.catalog.clearCache()
        rec["window_s"] = time.perf_counter() - t0
        rec["steal_s"] = procfs.steal_s() - steal0
        rec["cpu_s"] = procfs.tree_cpu_s(self.jvm_pid) - cpu0
        rec["jvm_cpu_s"] = procfs.own_cpu_s(self.jvm_pid) - jvm0
        if rows is not None:
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, collect_s=t2 - t1, rows=len(rows))
            exp_cols, exp_norm = expected
            if sorted(cols) != sorted(exp_cols):
                rec["error"] = f"columns {sorted(cols)} != oracle {sorted(exp_cols)}"
            elif len(rows) != len(exp_norm):
                rec["error"] = f"{len(rows)} rows != oracle {len(exp_norm)}"
            elif _norm_rows(cols, rows) != exp_norm:
                rec["error"] = "values differ from the oracle"
            else:
                rec["ok"] = True
        else:
            rec["latency_s"] = t_end - t0
        if traced:
            self._trace_query(rec, df, (w0, w1), t1_epoch)
        if not rec["ok"]:
            self.failures.append({"pass": pass_no, "query": name, "error": rec["error"]})
            _log(f"FAIL pass {pass_no} {name}: {rec['error'][:300]}")
        self.ledger.append(rec)
        return rec

    def _trace_query(self, rec: dict, df, window, build_end) -> None:
        from perfbench import trace

        jobs = self.probe.new_jobs()
        rec.update(self.probe.counters(jobs))
        rec["spark.no_job_s"] = trace.no_job_s(window, jobs)
        rec["queries.build_jobs"] = sum(
            1 for j in jobs if build_end is not None and j["submitted"] < build_end
        )
        rec["spark.catalyst_s"] = trace.catalyst_s(df) if df is not None else 0.0
        spans = [s for s in self.tracer.spans if s.query_exec == len(self.ledger)]
        rec.update(trace.layer_stats(spans, jobs, self.main_thread))

    def codegen_compiles(self) -> int:
        """Classes Spark's code generator has compiled in this JVM."""
        jvm = self.spark._jvm
        metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
        return int(getattr(metrics, "MODULE$").METRIC_COMPILATION_TIME().getCount())

    def run_pass(self, pass_no: int, kind: str, traced: bool, expected: dict) -> dict:
        order = list(self.queries)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(order)
        compiles0 = self.codegen_compiles()
        recs = [self.run_query(n, pass_no, traced, expected[n]) for n in order]
        return {
            "pass": pass_no,
            "kind": kind,
            "traced": traced,
            "order": order,
            "wall_s": sum(r["window_s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            # vCPU time the hypervisor took during the pass, summed over
            # vCPUs: a slow pass with high steal was a contended host.
            "steal_s": sum(r["steal_s"] for r in recs),
            "codegen_compiles": self.codegen_compiles() - compiles0,
            "records": recs,
        }

    def measure(self, expected: dict) -> list[dict]:
        trace_on = bool(self.args.trace)
        if trace_on:
            from perfbench.trace import SparkProbe

            self.probe = SparkProbe(self.spark)
        # A fixed number of passes, sized from --seconds: pass times keep
        # falling for the first minute as the JIT warms, so a deadline
        # would make the number of passes, and with it the median, vary.
        # After the cold pass, the JIT keeps compiling for the workload's
        # warm-up passes, which count in no metric: their CPU and wall
        # time varied most from run to run.
        n_warm = self.wl.warm_passes(self.args.seconds)
        first_warm = 1 + self.wl.warmup
        passes: list[dict] = []
        for p in range(first_warm + n_warm):
            kind = "cold" if p == 0 else "warm-up" if p < first_warm else "warm"
            traced = trace_on and (p < first_warm or (p - first_warm) % 2 == 1)
            passes.append(self.run_pass(p, kind, traced, expected))
            _log(f"pass {p} ({kind}{', traced' if traced else ''}): "
                 f"{passes[-1]['wall_s']:.3f}s, cpu {passes[-1]['cpu_s']:.2f}s, "
                 f"{passes[-1]['codegen_compiles']} classes compiled, "
                 f"vCPU steal {passes[-1]['steal_s']:.2f}s")
        return passes


def _e2e_metrics(setup, passes, peak_rss) -> tuple[dict, dict]:
    warm = [p for p in passes if p["kind"] == "warm"]
    by_query: dict[str, list[float]] = {}
    for p in warm:
        for r in p["records"]:
            if r["ok"]:
                by_query.setdefault(r["query"], []).append(r["latency_s"])
    lat = [x for xs in by_query.values() for x in xs]
    # The tail interpolates between the ordered warm samples, so it
    # exists for any sample count and means the same on every workload.
    tail = statistics.quantiles(lat, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        # Each query's median warm latency, then their median: a median
        # of the pooled samples would fall between two queries' samples.
        "query_p50_s": (statistics.median(statistics.median(xs) for xs in by_query.values()), "s"),
        "query_tail_s": (tail, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    return metrics, {"tail_percentile": TAIL_PERCENTILE, "latency_samples": len(lat)}


def _layer_metrics(setup, passes) -> dict:
    from perfbench import trace
    from goodreads_pyspark_spark.queries import SHARED_KERNELS

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    summed_keys = (
        ["queries.build_s", "queries.build_jobs", "queries.collect_s", "queries.result_rows"]
        + [f"{m}.{k}" for m in trace.LAYERS for k in ("calls", "self_s", "jobs")]
        + ["operators.run_concurrent_s"]
        + ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.no_job_s"]
        + ["spark.catalyst_s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s"]
        + ["spark.input_bytes", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes"]
        + ["spark.spill_bytes", "spark.output_bytes"]
    )
    rename = {"queries.build_s": "build_s", "queries.collect_s": "collect_s", "queries.result_rows": "rows"}
    per_pass = []
    for p in traced:
        sums = {k: sum(r.get(rename.get(k, k), 0) for r in p["records"]) for k in summed_keys}
        jvm_cpu = sum(r["jvm_cpu_s"] for r in p["records"])
        sums["spark.driver_cpu_s"] = jvm_cpu - sums["spark.executor_cpu_s"]
        sums["spark.codegen_compiles"] = p["codegen_compiles"]
        sums["spark.executor_util"] = sums["spark.executor_cpu_s"] / (p["wall_s"] * cores)
        run_s = sums["spark.executor_run_s"]
        sums["spark.task_cpu_frac"] = sums["spark.executor_cpu_s"] / run_s if run_s else 0.0
        per_pass.append(sums)
    units = _units()
    out = {k: (statistics.median(s[k] for s in per_pass), units[k]) for k in per_pass[0]}
    out["session.start_s"] = (setup["session_s"], "s")
    kb = {k: setup["kernels_s"].get(k, 0.0) for k in SHARED_KERNELS}
    out["queries.kernel_build_s"] = (sum(kb.values()), "s")
    for k, v in kb.items():
        out[f"queries.kernel_build_s.{k}"] = (v, "s")
    out["trace.overhead_s"] = (
        statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in untraced),
        "s",
    )
    return out


def _units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _drift(passes) -> list[str]:
    """Queries whose job, stage or task counts differ between traced passes."""
    seen: dict[str, list[tuple]] = {}
    for p in passes:
        for r in p["records"]:
            if p["traced"] and "spark.jobs" in r:
                seen.setdefault(r["query"], []).append(
                    (r["spark.jobs"], r["spark.stages"], r["spark.tasks"])
                )
    return [f"{q}: (jobs, stages, tasks) per pass {c}" for q, c in seen.items() if len(set(c)) > 1]


def _stop_jvm() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    kids = procfs.descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - any failure to stop ends in a kill
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = SparkContext._jvm = None


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    work = ROOT / ".perfbench" / f"tmp-{os.getpid()}"
    out_dir = ROOT / ".perfbench" / "runs"
    started_jvm = False
    try:
        pinned = _pin_environment(work)
        # Input derivation and the oracle answers are preparation: they
        # are timed and left out of set-up. Everything else between
        # process start and ready counts, imports included.
        base = HERE / "data" / (SMALL_BASE if args.small else wl.base)
        copies = min(wl.copies, SMALL_COPIES) if args.small else wl.copies
        sf_dir = base
        p0 = time.perf_counter()
        if copies > 1:
            sf_dir = work / "input"
            inputs.derive(base, sf_dir, copies, args.seed)
        prep_s = time.perf_counter() - p0
        tracer = None
        if args.trace:
            from perfbench.trace import ModuleTracer, Span

            tracer = ModuleTracer()
            tracer.install()
        from goodreads_pyspark_spark.queries import _load_all

        _load_all()
        if tracer is not None:
            tracer.rebind()
        bench = Bench(args, wl, sf_dir, tracer)
        p0 = time.perf_counter()
        answers = inputs.oracle_answers(sf_dir, {q: bench.registry[q].oracle for q in bench.queries})
        prep_s += time.perf_counter() - p0
        _log(f"{wl.name}: {len(bench.queries)} queries on {sf_dir.name} x{copies}; "
             f"prepared in {prep_s:.2f}s")

        # -- set-up ---------------------------------------------------
        started_jvm = True
        setup = bench.set_up()
        setup["setup_s"] = time.perf_counter() - T0 - prep_s
        _log(f"set-up: {setup['setup_s']:.3f}s {setup}")

        from verify_local import _norm_rows

        expected = {q: (cols, _norm_rows(cols, rows)) for q, (cols, rows) in answers.items()}

        # -- measurement ----------------------------------------------
        passes = bench.measure(expected)
        peak_rss = procfs.peak_rss_mb(bench.jvm_pid)

        from bench import _host_tag

        record = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "input": {"base": base.name, "copies": copies},
            "host": _host_tag(),
            "environment": pinned,
            "prep_s": prep_s,
            "setup": setup,
            "passes": passes,
            "failures": bench.failures,
        }
        if args.trace:
            metrics = _layer_metrics(setup, passes)
            record["span_fields"] = [f.name for f in dataclasses.fields(Span)]
            record["spans"] = [dataclasses.astuple(s) for s in tracer.spans]
        else:
            metrics, record["latency"] = _e2e_metrics(setup, passes, peak_rss)
            _log(f"query_tail_s is p{record['latency']['tail_percentile']} "
                 f"of {record['latency']['latency_samples']} warm query executions")
        for line in _drift(passes):
            _log(f"ledger drift: {line}")
        attempted = sum(len(p["records"]) for p in passes)
        _log(f"{len(bench.failures)} of {attempted} query executions failed")
        record["metrics"] = metrics
        out_dir.mkdir(parents=True, exist_ok=True)
        out = out_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
        out.write_text(json.dumps(record, default=str) + "\n")
        _log(f"record: {out.relative_to(ROOT)}")
        return {
            "correct": not bench.failures,
            "attempted": attempted,
            "failed": len(bench.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if started_jvm:
            _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "goodreads_pyspark_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "verify_local.py"
    ).is_file():
        print("perfbench: run from a checkout that holds the goodreads_pyspark_spark package "
              "and tools/verify_local.py", file=sys.stderr)
        return 2
    result = run(args)
    _log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
