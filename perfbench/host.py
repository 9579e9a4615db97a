"""Host side of the benchmark: Spark session lifetime, process-tree memory
and the host context recorded next to every run.

Everything a run writes goes under one work directory inside the
checkout (Spark local dirs, warehouse, JVM and Python temp files), so a
run reads and writes nothing outside it.
"""

from __future__ import annotations

import os
import threading
import time

#: task slots of the measured sessions (local[N]). Two of the host's
#: cores run tasks; the rest stay free for what runs beside them (the
#: driver JVM, the driver Python process, JIT and GC threads), so a
#: step measures the program rather than the CPU scheduler.
MAX_CORES = 2

#: Spark settings shared by every session of every workload. Shuffle
#: (and so state-store) partitions are fixed rather than tied to the
#: core count, so the local[1] scaling leg runs the same plan.
SESSION_CONF = {
    "spark.sql.shuffle.partitions": str(MAX_CORES),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "2g",
    # a fully committed heap: the JVM's share of peak_rss_mb is then the
    # same on every run, instead of following when G1 chose to grow. The
    # JIT compiler threads live as long as the JVM, so tree_cpu_s can
    # tell their CPU time apart on every step.
    "spark.driver.extraJavaOptions": (
        "-Xms2g -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
    ),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # one progress record per trigger kept for the whole run
    "spark.sql.streaming.numRecentProgressUpdates": "5000",
    # the status store must hold every job and stage of a traced run
    "spark.ui.retainedJobs": "5000",
    "spark.ui.retainedStages": "10000",
    "spark.sql.ui.retainedExecutions": "50",
}


def confine_temp_files(work: str) -> None:
    """Point every temp-file user (this process, the JVM it launches and
    the Python workers the JVM forks) at ``work``. Must run before the
    first session starts: the JVM inherits the environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def start_session(cpus: int, work: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
    for k, v in SESSION_CONF.items():
        b = b.config(k, v)
    b = b.config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    b = b.config("spark.local.dir", os.path.join(work, "local"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session, then the JVM the gateway launched, and
    wait for it to exit (its Python workers go with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# memory: the driver Python process plus every descendant (the JVM and
# the Python workers it forks), read from /proc — psutil is not installed.
# Each process counts its proportional set size (PSS): resident pages,
# with a page shared by n processes counted 1/n in each. A plain RSS sum
# counts the copy-on-write pages of forked Python workers once per
# worker, and a helper the JVM spawns shows the whole JVM again.
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        out.append(pid)
    return out


#: names of HotSpot's JIT compiler threads, as /proc shows them (cut to
#: 15 bytes)
_JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")


def _cpu_ticks(path: str, fields: slice) -> tuple[bytes, int]:
    """The command name and the summed CPU tick fields of a /proc stat
    file; ``("", 0)`` once the process or thread is gone."""
    try:
        with open(path, "rb") as fh:
            stat = fh.read()
    except OSError:
        return b"", 0
    end = stat.rindex(b")")
    return (stat[stat.index(b"(") + 1:end],
            sum(int(x) for x in stat[end + 2:].split()[fields]))


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and all its descendants,
    user and system, with the children each has reaped (so a worker that
    exits keeps counting in its parent); and the part of it the JVM's
    JIT compiler threads used."""
    total = jit = 0
    for pid in _tree():
        # utime, stime, cutime, cstime: fields 14-17
        comm, ticks = _cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))
        total += ticks
        if comm == b"java":
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                tids = []
            for tid in tids:
                name, t = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
                if name.startswith(_JIT_THREADS):
                    jit += t
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def tree_memory_bytes() -> int:
    """Summed PSS of this process and all its descendants."""
    return sum(_pss_bytes(pid) for pid in _tree())


class MemorySampler:
    """Peak of the process tree's summed memory, sampled on a thread.
    A sample costs the kernel a walk of every page table (about 30 ms
    for the JVM's pre-touched heap); ``cpu_s``, the thread's own CPU
    time, lets a CPU measurement of the program leave it out."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self.peak = max(self.peak, tree_memory_bytes())
            self.cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes())


# ---------------------------------------------------------------------------
# host context: recorded next to the metrics, never as one
# ---------------------------------------------------------------------------

def calibration_s(spark) -> float:
    """bench.py's fixed calibration kernel (a CPU-bound sum plus one
    shuffle), run once. Its wall time tells a contended host from a
    regression: it moves with host load, not with this repository."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 3 + 1)").collect()
    (
        spark.range(4_000_000)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .count()
        .selectExpr("sum(count)")
        .collect()
    )
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cores() -> int:
    """N of the measured sessions' local[N]."""
    return min(MAX_CORES, nproc())


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot
    (the steal column of /proc/stat), summed over its CPUs; 0 where the
    kernel does not report it. Its growth over a run says how much of
    the run's wall time other guests took."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0
