"""Counters read from the Spark driver over py4j.

Executor work comes from the application status store, after the
listener bus has been drained so that every task-end event of the work
just finished is counted with it (and not with whatever runs next).
Codegen counters come from ``CodeGenerator``/``CodegenMetrics``; Python
UDF worker time and bytes come from the SQL metrics of the Python
execution nodes of each SQL execution.
"""

from __future__ import annotations

import faulthandler
import os
import re
import resource
import sys

MB = 1024 * 1024

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# BatchEvalPython, MapInPandas, ...)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB, "TiB": 1024.0**2 * MB,
}
_VALUE = re.compile(r"([0-9]+(?:\.[0-9]+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")

STAGE_FIELDS = (
    "tasks", "task_s", "cpu_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "gc_s",
)


def parse_metric(text: str) -> float:
    """Spark's rendered SQL metric (``'2.5 s'``, ``'131.1 KiB'``, or the
    multi-task ``'total (min, med, max ...)\\n2.5 s (...)'``) in seconds
    or bytes; the total is the first value after the header line."""
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkProbes:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- counters that the scheduler updates synchronously ------------
    def jobs(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())

    def stage_id(self) -> int:
        return int(self.sc.dagScheduler().nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event
        to the status store."""
        self.sc.listenerBus().waitUntilEmpty()

    # -- status store -------------------------------------------------
    def stages(self, first_stage: int) -> list[dict]:
        """Per-stage executor counters of every stage with id >=
        ``first_stage`` that the status store holds (drain first)."""
        jvm = self.jvm
        lst = self.sc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        n = lst.size()
        newest_first = n < 2 or lst.apply(0).stageId() > lst.apply(n - 1).stageId()
        out = []
        for i in range(n) if newest_first else range(n - 1, -1, -1):
            s = lst.apply(i)
            sid = s.stageId()
            if sid < first_stage:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out.append(
                {
                    "stage": sid,
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "task_s": s.executorRunTime() / 1000.0,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "input_mb": s.inputBytes() / MB,
                    "shuffle_read_mb": s.shuffleReadBytes() / MB,
                    "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                    "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
                    "gc_s": s.jvmGcTime() / 1000.0,
                }
            )
        return out

    def sql_executions(self) -> int:
        return int(self._sql.executionsCount())

    def python_udf(self, first_execution: int) -> tuple[float, float]:
        """(seconds in Python workers, MB sent to them) summed over SQL
        executions numbered >= ``first_execution`` (drain first)."""
        total = self._sql.executionsCount()
        execs = self._sql.executionsList(first_execution, total - first_execution)
        secs = sent = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {}
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                if m.name() in (_PY_TIME, _PY_SENT):
                    ids[m.accumulatorId()] = m.name()
            if not ids:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for acc, name in ids.items():
                v = values.get(acc)
                if v.isDefined():
                    x = parse_metric(v.get())
                    if name == _PY_TIME:
                        secs += x
                    else:
                        sent += x / MB
        return secs, sent

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since JVM start."""
        jvm = self.jvm
        classes = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE().getCount()
        nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        return int(classes), nanos / 1e6

    def cached_mb(self) -> float:
        """Memory plus disk size of every cached RDD block."""
        infos = self.sc.getRDDStorageInfo()
        return sum((r.memSize() + r.diskSize()) for r in infos) / MB

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def dump_threads(self, out=sys.stderr) -> None:
        """Write every JVM and Python thread's stack."""
        print("=== JVM threads ===", file=out)
        traces = self.jvm.java.lang.Thread.getAllStackTraces()
        it = traces.entrySet().iterator()
        while it.hasNext():
            entry = it.next()
            t = entry.getKey()
            print(f'"{t.getName()}" {t.getState().toString()}', file=out)
            for frame in entry.getValue():
                print(f"    at {frame.toString()}", file=out)
        print("=== Python threads ===", file=out, flush=True)
        faulthandler.dump_traceback(file=out, all_threads=True)
        out.flush()

    def cancel_all(self) -> None:
        self.spark.sparkContext.cancelAllJobs()


def descendants(pid: int) -> set[int]:
    """Process ids of every live descendant of ``pid``."""
    found, todo = set(), [pid]
    while todo:
        parent = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{parent}/task")
        except OSError:
            continue
        for task in tasks:
            try:
                with open(f"/proc/{parent}/task/{task}/children") as f:
                    kids = {int(k) for k in f.read().split()} - found
            except OSError:
                continue
            found |= kids
            todo.extend(kids)
    return found


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over every CPU since boot: the
    time CPUs ran something, and the time the hypervisor kept a CPU that
    had work to run from running it."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings
    that the hypervisor stole."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen else 0.0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return py + jvm


def environment(spark, cores: int, driver_memory: str, data_dir: str, seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "driver_memory": driver_memory,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "seed": seed,
        "fixture_bytes": {
            f: os.path.getsize(os.path.join(data_dir, f))
            for f in sorted(os.listdir(data_dir))
            if f.endswith(".parquet")
        },
    }
