"""The benchmark's own Spark session, sized for a small box.

One driver process at ``local[k]`` with ``k <= nproc``, a driver heap
well under the machine's RAM, console progress off, and every file
Spark, the JVM and the Python workers write (scratch space and the
event log included) kept under the benchmark's work directory inside
the checkout, so a run touches nothing outside it.  The engine's
``session.get_spark`` defaults to 32 cores and a 16 GB driver, so it is
not used here.
"""

from __future__ import annotations

import os
import threading
import time

from cpp_parquet_spark.session import MALLOC_ENV, apply_malloc_env

DRIVER_MEMORY = "2g"
MAX_CORES = 4


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and the Python workers inherit: scratch and
    temp files under ``work``, the checkout importable by the workers."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    apply_malloc_env()


def make_session(work: str, k: int, eventlog_dir: str | None = None):
    """A fresh SparkSession; with ``eventlog_dir`` the uncompressed Spark
    event log is written there for offline parsing."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    builder = SparkSession.builder.master(f"local[{k}]").appName("perfbench")
    for key, value in MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{key}", value)
    # the heap is fixed at its maximum so that the full collections
    # MemPeak.settle makes between passes do not shrink it and leave the
    # next pass to regrow it; memory is counted as live heap, not
    # resident size, so the fixed heap does not hide its use.  The JIT
    # compiler threads are kept for the life of the JVM so that
    # jit_cpu_seconds sees all their CPU time.  The parallel collector
    # replaces G1: with G1's 1 MB regions the Arrow and shuffle buffers
    # are humongous objects that start a concurrent cycle about twenty
    # times a run, and in some runs (repo_encode seed 202, repo_scan
    # seed 104) its threads then took ~1.2 s of CPU in every pass, 20-30%
    # of cpu_s, against 0.1-0.2 s in the other runs; the parallel
    # collector has no concurrent phase and took 0.1-0.2 s a pass in
    # every run.  The live heap stays under 150 MB.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:+UseParallelGC"
    )
    builder = (
        builder.config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * k))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.eventLog.enabled", "true" if eventlog_dir else "false")
    )
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", "file://" + os.path.abspath(eventlog_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_seconds(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid``, its descendants and
    their reaped children."""
    return cpu_of(_tree(root_pid))


def cpu_of(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and of their reaped
    children (a reaped child is no longer in any process tree, so
    nothing is counted twice)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_seconds(jvm: int) -> float:
    """User + system CPU seconds of the JIT compiler threads of the JVM
    (``C1 CompilerThre``, ``C2 CompilerThre``).  Only threads alive now
    are counted; make_session keeps them alive as long as the JVM."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{jvm}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        if "CompilerThre" in head.split("(", 1)[1]:
            ticks += sum(int(x) for x in tail.split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def python_workers(jvm: int) -> list[int]:
    """The Python worker daemon under the JVM and the workers it forked.
    Other children of the JVM are short-lived helpers (shell commands)."""
    return [p for p in _tree(jvm) if p != jvm and _is_python_worker(p)]


def python_cpu_seconds(jvm: int) -> float:
    """CPU seconds of the Python workers under the JVM so far."""
    return cpu_of(python_workers(jvm))


class MemPeak:
    """Peak memory the driver uses while the block runs: the Python
    workers' summed resident memory, polled, plus the JVM heap that is
    still live after a full collection, taken by ``settle`` after each
    pass (the largest).  The JVM's resident size is not used: with a
    fixed heap it follows how much of the heap has been touched, not
    what is in use.  Nor is the heap in use between collections, or
    after a young collection: both depend on when the collector ran,
    which moved their peak by almost 2x between runs of one workload."""

    def __init__(self, jvm: int, interval: float = 0.5) -> None:
        self.jvm = jvm
        self.interval = interval
        self.python_peak = 0
        self.heap_peak = 0
        self.workers: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return self.heap_peak + self.python_peak

    def settle(self) -> None:
        """Full collection, then record the heap still in use."""
        self._gc()
        used = sum(p.getUsage().getUsed() for p in self._heap)
        self.heap_peak = max(self.heap_peak, used)

    def _poll(self) -> None:
        sizes = {p: _rss_bytes(p) for p in python_workers(self.jvm)}
        for p, r in sizes.items():
            self.workers[p] = max(self.workers.get(p, 0), r)
        self.python_peak = max(self.python_peak, sum(sizes.values()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def __enter__(self) -> "MemPeak":
        from pyspark import SparkContext

        jvm = SparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]
        self._gc = jvm.java.lang.System.gc
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()


class HostSteal:
    """Share of the host's CPU time stolen by the hypervisor while the
    block runs (the ``steal`` column of /proc/stat)."""

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:9]]
        return parts[7], sum(parts)

    def __enter__(self) -> "HostSteal":
        self.frac = 0.0
        self._start = self._read()
        return self

    def __exit__(self, *exc) -> None:
        steal, total = self._read()
        self.frac = (steal - self._start[0]) / max(total - self._start[1], 1)


def shutdown() -> None:
    """Stop the active SparkContext, then the gateway JVM and every
    process under it, and wait until all of them have exited."""
    from pyspark import SparkContext

    pid = jvm_pid()
    tree = _tree(pid) if pid else []
    gw = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate below
                    proc.kill()
                    proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 20
        alive = [p for p in tree if _alive(p)]
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if _alive(p)]
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass
