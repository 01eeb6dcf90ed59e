"""Engine session, memory sampling, tracing spans and Spark status-store
counters for the benchmark. Nothing here imports the program under test."""

from __future__ import annotations

import gc
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from functools import partial


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(master: str, work: str):
    """A SparkSession with Spark's defaults except: no UI or progress bar,
    Arrow for toPandas, a fixed-size 2 GB driver heap, and scratch space
    inside ``work``."""
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(master)
        .appName("kgbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        # a heap that never resizes, so GC work per operation does not
        # depend on how far the heap has grown
        .config("spark.driver.extraJavaOptions", "-Xms2g")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def touch_model(sc, bc) -> None:
    """Deserialize the broadcast once in every Python worker (one task per
    core)."""
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).foreachPartition(partial(_touch, bc))


def _touch(bc, _rows) -> None:
    bc.value


def median(xs: list[float]) -> float:
    """Median, 0.0 for no samples."""
    return statistics.median(xs) if xs else 0.0


def p90(xs: list[float]) -> float:
    """90th percentile (inclusive method, so it stays within the samples),
    0.0 for no samples."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def python_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants except the JVM
    (driver, Python daemon and workers)."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if _comm(pid) != "java":
            total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM holds for live data, whatever size the heap
    itself was given. Spark keeps the state of the most recent query
    until the next one runs, so a fixed one-row query runs first. Then
    rounds of Python's collector (so no dropped py4j proxy pins a JVM
    object) and a full GC, with a pause after each for Spark's
    ContextCleaner to drop the broadcast and shuffle state of what the GC
    found unreachable. That state can take three or four rounds to go,
    and two equal readings in a row do not mean it has gone, so a fixed
    number of rounds runs and the lowest reading is returned."""
    spark.range(1).collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(6):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.3)
    return min(readings)


_TICK = os.sysconf("SC_CLK_TCK")
# JIT compiler threads: their CPU is warm-up of the JVM, not work done by
# an operation, and it falls off over a run
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by the threads of ``root``
    and its live descendants, without the JVM's JIT compiler threads."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
            if not name.startswith(_JIT_THREADS):
                fields = rest.split()
                total += int(fields[11]) + int(fields[12])
    return total / _TICK


class RssSampler:
    """Samples ``python_rss_mb`` of this process tree every ``period``
    seconds on a daemon thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, python_rss_mb(os.getpid()))


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (id, name, start, end, parent, run id, attrs).
    Disabled, ``span`` is a no-op so the untraced run pays nothing. Layer
    spans never nest except ``kg_stream.advance`` and ``kg_stream.count``
    inside ``kg_stream.batch``, so a layer span's duration is its self
    time (the batch's once its counts are taken out)."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# --------------------------------------------------------------------------
# engine counters (Spark status store)
# --------------------------------------------------------------------------

class EngineCounters:
    """Jobs, tasks, shuffle-write and spill bytes of the stages that ran
    since ``mark()``, read from the application status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.mark()

    def _seq(self, seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> set[int]:
        return {j.jobId() for j in self._seq(self._store.jobsList(None))}

    def _stages(self) -> list:
        return self._seq(self._store.stageList(None, False, False,
                                               self._no_quantiles, None))

    def mark(self) -> None:
        self._seen_jobs = self._job_ids()
        self._seen_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def new_stages(self) -> list:
        return [s for s in self._stages()
                if (s.stageId(), s.attemptId()) not in self._seen_stages
                and s.status().toString() == "COMPLETE"]

    def since_mark(self) -> dict[str, float]:
        stages = self.new_stages()
        return {
            "jobs": float(len(self._job_ids() - self._seen_jobs)),
            "tasks": float(sum(s.numTasks() for s in stages)),
            "shuffle_mb": sum(s.shuffleWriteBytes() for s in stages) / 2**20,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                            for s in stages) / 2**20,
        }

    def task_skew(self) -> float:
        """max / median task duration of the longest-running new stage."""
        stages = self.new_stages()
        if not stages:
            return 1.0
        big = max(stages, key=lambda s: s.executorRunTime())
        durs = [float(t.duration().get()) for t in
                self._seq(self._store.taskList(big.stageId(), big.attemptId(), 1 << 30))
                if t.duration().isDefined()]
        if not durs or median(durs) <= 0:
            return 1.0
        return max(durs) / median(durs)
