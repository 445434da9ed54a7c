"""Shared plumbing for the perfbench workloads: the session factory, the
process-tree RSS sampler, span recording, Spark status-store totals and
orderly shutdown of every process the run started."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import signal
import statistics
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run; setup_s is their median. The first also launches the
#: JVM, so an even count puts the median between two warm set-ups, and
#: five warm ones keep one slow set-up from moving it.
SETUP_REPS = 6


# --------------------------------------------------------------------------
# host sizing
# --------------------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A fifth of host memory, clamped to [1, 8] GiB. The JVM's RSS runs
    well above its heap (off-heap, metaspace, Python workers beside it),
    so a heap near MemTotal gets the whole host OOM-killed instead of
    failing inside Spark (see README.md, "Sizing")."""
    return max(1024, min(8192, mem_total_mb() // 5))


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

class Session:
    """Builds SparkSessions with the product CLI's settings (cli.main:
    AQE + partition coalescing, Arrow, UTC, default scheduler and shuffle
    width) plus deployment settings only: local[nproc], a heap sized from
    host memory, and every scratch directory inside ``work``."""

    def __init__(self, work: str):
        self.work = work
        self.cpus = host_cpus()
        self.heap_mb = driver_heap_mb()
        for d in ("tmp", "local", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        # the gateway handshake file, pyspark's Arrow upload files and the
        # Python workers all honour TMPDIR; the JVM gets java.io.tmpdir
        os.environ["TMPDIR"] = tmp
        # workers import webcrawler_spark (UDF closures) and perfbench
        # (trace-mode wrappers) from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        import tempfile

        tempfile.tempdir = tmp
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.appName("webcrawler-spark")
            .master(f"local[{self.cpus}]")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", f"{self.heap_mb}m")
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def shutdown(session: Session | None, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway and wait until every process this
    run started has exited (SIGKILL what is left after ``timeout``)."""
    procs = descendants()
    if session is not None:
        with contextlib.suppress(Exception):
            session.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    procs = set(procs) | set(descendants())
    deadline = time.time() + timeout
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}") and not _zombie(p)}
        if procs:
            time.sleep(0.1)
    for p in procs:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)
    for p in procs:
        while os.path.exists(f"/proc/{p}") and not _zombie(p):
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --------------------------------------------------------------------------
# measurement helpers
# --------------------------------------------------------------------------

class MemSampler:
    """Peak proportional set size (PSS) of this process and all its
    descendants (the JVM and the Python workers), sampled every ``period``
    seconds. PSS splits pages shared between forked workers, where summed
    RSS would count them once per worker."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            total = 0
            for p in [os.getpid()] + descendants():
                try:
                    with open(f"/proc/{p}/smaps_rollup") as f:
                        for line in f:
                            if line.startswith("Pss:"):
                                total += int(line.split()[1])
                                break
                except (OSError, IndexError, ValueError):
                    pass
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Spans:
    """Wall-clock spans (name, start, end) from any thread, kept in memory."""

    def __init__(self):
        self.items: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.items.append((name, t0, time.time()))

    def wrap(self, obj, attr: str, name: str):
        """Replace ``obj.attr`` with a spanned version on ``obj`` itself."""
        fn = getattr(obj, attr)

        def spanned(*a, **k):
            with self.span(name):
                return fn(*a, **k)

        setattr(obj, attr, spanned)

    def intervals(self, names, t0: float = float("-inf"), t1: float = float("inf")):
        names = {names} if isinstance(names, str) else set(names)
        return [
            (max(a, t0), min(b, t1))
            for n, a, b in self.items
            if n in names and b > t0 and a < t1
        ]

    def covered(self, names) -> float:
        return union_length(self.intervals(names))


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def cpu_clock() -> tuple[float, float]:
    """(CPU seconds used so far by this process tree, host CPU seconds
    stolen by the hypervisor so far), from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    used = 0
    for p in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{p}/stat") as f:
                used += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return used / tick, steal / tick


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def md5_lines(items) -> str:
    return hashlib.md5("\n".join(items).encode()).hexdigest()


# --------------------------------------------------------------------------
# Spark status store
# --------------------------------------------------------------------------

class StageLog:
    """Per-stage task metrics read from the live status store (the data
    behind the Spark UI, kept even with the UI off). ``snapshot`` merges
    the retained stages in; call it often enough that no stage ages out
    of ``spark.ui.retainedStages``."""

    FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
              "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
              "diskBytesSpilled", "numTasks")

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.stages: dict[tuple[int, int], dict] = {}
        self.cost_s = 0.0

    def snapshot(self) -> None:
        t0 = time.time()
        raw = self._mapper.writeValueAsString(self._store.stageList(
            None, False, False, self._no_quantiles, self.spark._jvm.java.util.ArrayList()))
        for st in json.loads(raw):
            if st.get("submissionTime") is None:
                continue  # skipped stage: no tasks ran
            self.stages[(st["stageId"], st["attemptId"])] = {
                "t": st["submissionTime"] / 1000.0,
                **{k: st.get(k) or 0 for k in self.FIELDS},
            }
        self.cost_s += time.time() - t0

    def totals(self, windows) -> dict:
        """Sums over stages submitted inside any (t0, t1) window."""
        rows = [s for s in self.stages.values()
                if any(a <= s["t"] < b for a, b in windows)]
        return {
            "stages": len(rows),
            "tasks": sum(s["numTasks"] for s in rows),
            "run_s": sum(s["executorRunTime"] for s in rows) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in rows) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in rows) / 1e3,
            "shuffle_mb": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"] for s in rows) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in rows) / 2**20,
        }


def job_counts(spark, since_job: int) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, last job id) for jobs with id > since_job,
    from the status tracker."""
    st = spark.sparkContext.statusTracker()
    ids = [j for j in st.getJobIdsForGroup(None) if j > since_job]
    stages = tasks = 0
    for j in ids:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return len(ids), stages, tasks, max(ids, default=since_job)
