"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload recommend --seed 1 --seconds 15 --trace 0

One client runs the workload's queries in a closed loop: each query is
built through the registry and run to a ``noop`` sink, and the next one
starts when it has finished. A run

1. writes the fixed input tables under ``.bench_build/`` (first run only);
2. sets up a warmed Spark session with the registry imported, three
   times, and reports the median as ``setup_s``;
3. runs one cold pass over the queries, then repeat passes until
   ``--seconds`` have passed since the cold pass started (at least one);
   the first repeat pass also checks each query's output right after
   the query, outside the timed part.

The machine may be a shared virtual one whose hypervisor takes CPU time
away in bursts. Every end-to-end time is therefore reported less the
share of CPU time stolen while it was measured (``/proc/stat``), which
is what it would have been on an unshared machine; the raw wall time
and steal share of every set-up and pass are in the environment line.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
its one timed pass is a traced cold pass (longer than ``--seconds`` on
both workloads), followed by an untimed pass that checks the outputs: it
records spans around each layer's public functions, reads the executor,
codegen and Python-UDF counters per query, and reports the per-layer
metrics instead. The last line of standard output is one JSON object;
the line before it records the run's environment.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections.abc import Iterator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

import checks  # noqa: E402
import datagen  # noqa: E402
import probes  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

PKG = spans.PKG
SETUPS = 3
# Spark task slots: one CPU fewer than the machine has, at most three, so
# the Python driver, JIT compiler and GC threads do not queue behind tasks
MAX_CORES = 3
DRIVER_MEMORY = "2g"
QUERY_TIMEOUT_S = 60.0


def prepare_environment() -> None:
    """Make the engine importable here and in Spark's Python workers, and
    point Spark's and Python's scratch space under ``BUILD``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for name in ("tmp", "spark-local"):
        os.makedirs(os.path.join(BUILD, name), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    # every JVM (launcher and driver): no hsperfdata files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"


def make_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.warehouse.dir", os.path.join(BUILD, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must keep every stage and SQL execution of a run
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(cores: int, data_dir: str, tables: tuple[str, ...]):
    """Set up a warmed session with the registry imported and the
    parquet footers of ``tables`` read, ``SETUPS`` times, and return it
    with each set-up's (wall seconds, steal share).
    The first set-up launches the JVM; each later one stops the session,
    forgets the engine's modules, and starts over on the running JVM."""
    times, spark = [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            for name in [m for m in sys.modules if m.startswith(PKG)]:
                del sys.modules[name]
        c0, t0 = probes.cpu_ticks(), time.perf_counter()
        spark = make_session(cores)
        from movierecommender_sentimentanalysissytem_spark import registry
        from movierecommender_sentimentanalysissytem_spark.sources.tables import table

        queries, oracles = registry.queries(), registry.oracle_sql()
        for t in tables:  # schema inference reads the parquet footer
            table(spark, data_dir, t)
        times.append((time.perf_counter() - t0, probes.steal_share(c0, probes.cpu_ticks())))
    return spark, queries, oracles, times


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop() -> None:
    """Stop the session and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    workers = probes.descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while any(_running(w) for w in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for w in workers:
        if _running(w):
            os.kill(w, signal.SIGKILL)


class Run:
    """One workload run: session, queries, failure accounting."""

    def __init__(self, spark, queries, data_dir: str, keys: list[str]) -> None:
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.keys = keys
        self.probes = probes.SparkProbes(spark)
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.timed_out: set[str] = set()
        self.passes: list[tuple[float, float]] = []

    @contextlib.contextmanager
    def attempt(self, key: str) -> Iterator[None]:
        """Count one query run; a raise, or the watchdog firing, fails
        it. On expiry the watchdog dumps JVM and Python stacks and
        cancels the running jobs; the workload goes on without the key."""
        self.attempted += 1
        fired = threading.Event()

        def expire() -> None:
            fired.set()
            print(f"# watchdog: {key} exceeded {QUERY_TIMEOUT_S:.0f}s", file=sys.stderr)
            self.probes.dump_threads()
            self.probes.cancel_all()

        timer = threading.Timer(QUERY_TIMEOUT_S, expire)
        timer.daemon = True
        timer.start()
        try:
            yield
            if fired.is_set():
                raise TimeoutError(f"exceeded {QUERY_TIMEOUT_S:.0f}s")
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            if fired.is_set():
                self.timed_out.add(key)
            self.failed += 1
            self.failures.setdefault(key, f"{type(exc).__name__}: {exc}"[:500])
            print(f"# {key} failed: {self.failures[key]}", file=sys.stderr)
        finally:
            timer.cancel()

    def live_keys(self) -> list[str]:
        return [k for k in self.keys if k not in self.timed_out]

    def run_pass(self, checker: checks.OutputChecker | None = None) -> tuple[float, float]:
        """Build and run every query once, untraced. With ``checker``,
        also check each query's output right after its run, untimed and
        before the next build releases the query's caches. Returns the
        pass's wall seconds and the share of CPU time stolen meanwhile."""
        c0, wall = probes.cpu_ticks(), 0.0
        for key in self.live_keys():
            with self.attempt(key):
                t0 = time.perf_counter()
                df = self.queries[key](self.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
                wall += time.perf_counter() - t0
                why = checker.check(key, df) if checker else None
                if why:
                    self.failed += 1
                    self.failures[key] = f"wrong output: {why}"
                    print(f"# {key} wrong output: {why}", file=sys.stderr)
        self.passes.append((wall, probes.steal_share(c0, probes.cpu_ticks())))
        return self.passes[-1]

    def traced_pass(self, tracer: spans.Tracer, per_query: list[dict]) -> tuple[float, float]:
        """As ``run_pass`` with spans around each phase and layer call;
        it also appends each query's executor, codegen, UDF and cache
        counters to ``per_query``, read after draining the listener bus."""
        p = self.probes
        c0, t0 = probes.cpu_ticks(), time.perf_counter()
        with spans.install_layer_spans(tracer):
            for key in self.live_keys():
                p.drain()
                s0, x0, cg0 = p.stage_id(), p.sql_executions(), p.codegen()
                with self.attempt(key), tracer.query_span(key):
                    with tracer.span("build"):
                        df = self.queries[key](self.spark, self.data_dir)
                    qe = df._jdf.queryExecution()
                    with tracer.span("optimize"):
                        qe.optimizedPlan()
                    with tracer.span("plan"):
                        qe.executedPlan()
                    with tracer.span("execute"):
                        df.write.format("noop").mode("overwrite").save()
                p.drain()
                s1, cg1 = p.stage_id(), p.codegen()
                rec = {"key": key, "query": tracer.query, "stages": 0}
                rec.update(dict.fromkeys(probes.STAGE_FIELDS, 0.0))
                for st in p.stages(s0):
                    if st["stage"] < s1:
                        rec["stages"] += 1
                        for f in probes.STAGE_FIELDS:
                            rec[f] += st[f]
                rec["udf_s"], rec["udf_mb_sent"] = p.python_udf(x0)
                rec["codegen_classes"] = cg1[0] - cg0[0]
                rec["codegen_ms"] = cg1[1] - cg0[1]
                rec["cached_mb"] = p.cached_mb()
                per_query.append(rec)
        self.passes.append((time.perf_counter() - t0, probes.steal_share(c0, probes.cpu_ticks())))
        return self.passes[-1]


def unstolen(seconds: float, steal: float) -> float:
    """``seconds`` less the share the hypervisor stole: what the time
    would have been on an unshared machine."""
    return seconds * (1.0 - steal)


def end_to_end(run: Run, seconds: float, checker: checks.OutputChecker) -> dict[str, float]:
    """Cold pass, then repeat passes until ``seconds`` have passed; the
    first repeat pass also checks every output."""
    p = run.probes
    p.drain()
    first_stage = p.stage_id()
    t_measure = time.perf_counter()
    cold, cold_steal = run.run_pass()
    p.drain()
    task_s = sum(s["task_s"] for s in p.stages(first_stage))
    warm = []
    while not warm or time.perf_counter() - t_measure < seconds:
        warm.append(unstolen(*run.run_pass(None if warm else checker)))
    return {
        "cold_s": unstolen(cold, cold_steal),
        "warm_s": statistics.median(warm),
        "task_s": unstolen(task_s, cold_steal),
    }


def per_layer(run: Run, trace_path: str) -> tuple[dict[str, float], bool]:
    """One traced cold pass with per-query counters. Returns the metrics
    and whether the per-query executor times add up to the whole
    pass's."""
    p = run.probes
    tracer = spans.Tracer(p.jobs)
    per_query: list[dict] = []
    p.drain()
    first_stage = p.stage_id()
    cold, steal = run.traced_pass(tracer, per_query)
    p.drain()
    whole = p.stages(first_stage)
    whole_task_s = sum(s["task_s"] for s in whole)
    attributed = sum(q["task_s"] for q in per_query)
    adds_up = abs(attributed - whole_task_s) <= 1e-6 + 1e-3 * whole_task_s
    if not adds_up:
        print(f"# per-query task_s {attributed} != pass task_s {whole_task_s}", file=sys.stderr)

    def total(name: str, attr: str = "seconds") -> float:
        return sum(getattr(s, attr) for s in tracer.outermost(name))

    m: dict[str, float] = {}
    for phase in ("build", "optimize", "plan", "execute"):
        m[f"query.{phase}_s"] = total(phase)
    m["query.build_jobs"] = total("build", "jobs")
    for layer in ("sources.table", "caching.persist", "ml.fit"):
        m[f"{layer}_calls"] = sum(1 for s in tracer.spans if s.name == layer)
        m[f"{layer}_s"] = total(layer)
        m[f"{layer}_jobs"] = total(layer, "jobs")
    m["caching.release_s"] = total("caching.release")
    m["caching.cached_mb"] = sum(q["cached_mb"] for q in per_query)
    m["exec.jobs"] = sum(s.jobs for s in tracer.spans if s.name == "query")
    m["exec.stages"] = len(whole)
    for f in probes.STAGE_FIELDS:
        m[f"exec.{f}"] = sum(s[f] for s in whole)
    m["codegen.classes"] = sum(q["codegen_classes"] for q in per_query)
    m["codegen.compile_ms"] = sum(q["codegen_ms"] for q in per_query)
    m["udf.python_s"] = sum(q["udf_s"] for q in per_query)
    m["udf.python_mb_sent"] = sum(q["udf_mb_sent"] for q in per_query)
    self_times = tracer.self_times()
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = self_times.get(name, 0.0)
    m["mem.peak_rss_mb"] = probes.peak_rss_mb(p.jvm_pid())
    m["trace.cold_s"] = unstolen(cold, steal)
    # the pass's time outside every query span: listener-bus drains and
    # status-store reads between queries
    m["trace.overhead_s"] = cold - total("query")

    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump({"spans": tracer.to_json(), "queries": per_query, "metrics": m}, f, indent=1)
    return m, adds_up


# span names with a self-time metric; neither workload checkpoints, so
# ``caching.checkpoint`` spans appear only in the trace file
SPAN_NAMES = (
    "query", "build", "optimize", "plan", "execute",
    "sources.table", "caching.persist", "caching.release", "ml.fit",
)


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", "_mb_sent")):
        return "MB"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    prepare_environment()
    importlib.import_module(PKG)  # fail before any work if the engine is missing
    data_dir = datagen.generate(BUILD, workloads.SF)
    keys = workloads.query_keys(args.workload, args.seed)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0)) - 1))

    checker = None
    try:
        spark, queries, oracles, setups = set_up(
            cores, data_dir, workloads.WORKLOADS[args.workload].tables
        )
        run = Run(spark, queries, data_dir, keys)
        env = probes.environment(spark, cores, DRIVER_MEMORY, data_dir, args.seed)
        env.update(workload=args.workload, sf=workloads.SF, keys=keys)
        checker = checks.OutputChecker(data_dir, oracles)
        adds_up = True
        if args.trace:
            trace_path = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
            metrics, adds_up = per_layer(run, trace_path)
            run.run_pass(checker)  # untimed, to check every output
            env["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            metrics = end_to_end(run, args.seconds, checker)
            metrics["setup_s"] = statistics.median(unstolen(*s) for s in setups)
    finally:
        if checker is not None:
            checker.close()
        stop()

    # (wall seconds, steal share) of every set-up and pass
    env.update(setups=setups, passes=run.passes, failures=run.failures)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    if declared != metrics.keys():
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(declared)}")
    print(json.dumps({"environment": env}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and adds_up,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
