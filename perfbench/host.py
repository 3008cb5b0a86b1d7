"""Host-adaptive Spark session, host fingerprint and process-tree memory.

Everything the benchmark starts lives under the work directory it is given
(shuffle files, event logs, JVM and Python temp files), and everything it
starts is stopped again by :func:`stop_session`.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import zlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# the driver JVM is also the only executor in local mode; a quarter of the
# box leaves room for the Python workers and whatever else shares the host
DRIVER_MEMORY_CAP_MB = 4096


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def total_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    return min(DRIVER_MEMORY_CAP_MB, total_memory_mb() // 4)


def prepare_environment(work: Path) -> None:
    """Point temp files into ``work`` and make the repo importable in the
    Python workers; must run before the JVM is launched."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR on next use
    # every JVM spark-submit starts, its launcher included: temp files under
    # work, and no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def build_session(work: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{n}]")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        # a fixed heap and young generation: with G1's adaptive sizing the
        # JVM's peak RSS moved 1.5-2.6 GB between runs of the same workload
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_memory_mb()}m -XX:NewSize=512m -XX:MaxNewSize=512m",
        )
        # workers started from another directory than the repo root could
        # not import the engine without this
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_dir.as_uri())
            # zstandard (the default codec's Python reader) is not installed
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int | None = None) -> list[int]:
    """All live descendant pids of ``pid`` (default: this process)."""
    root = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and every process under them; return
    only when all of them have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


class PeakRss:
    """Peak resident memory of the largest process below this one (the
    JVM or a Python worker), from the kernel's per-process high-water mark.

    ``start`` resets the marks, so the peak covers only the timed runs; a
    sampler thread keeps the mark of workers that exit before ``stop``.
    """

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _sample(self) -> None:
        for pid in descendants():
            self.peak_kb = max(self.peak_kb, self._hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> None:
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak RSS mark to current RSS
            except OSError:
                pass
        self._thread.start()

    def stop(self) -> float:
        self._sample()
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


def stop_semaphore_tracker() -> None:
    """A spawn-context pool starts a semaphore tracker process that would
    otherwise live until this process exits."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def _burn(n_iter: int, data: bytes) -> float:
    t0 = time.perf_counter()
    for _ in range(n_iter):
        zlib.compress(data, 6)
    return time.perf_counter() - t0


def _burn_worker(barrier, results, reps: int, n_iter: int) -> None:
    data = os.urandom(1 << 20)
    _burn(1, data)
    out = []
    for _ in range(reps):
        # every worker starts its timed loop together, so the slowest one
        # measures a fully contended window
        barrier.wait()
        out.append(_burn(n_iter, data))
    results.put(out)


def _allcore_burns(reps: int, n_iter: int) -> list[list[float]]:
    n = cores()
    ctx = mp.get_context("spawn")
    barrier = ctx.Barrier(n)
    results = ctx.Queue()
    procs = [
        ctx.Process(target=_burn_worker, args=(barrier, results, reps, n_iter))
        for _ in range(n)
    ]
    for p in procs:
        p.start()
    per_worker = [results.get(timeout=120) for _ in procs]  # drain before join
    for p in procs:
        p.join(timeout=30)
    results.close()
    results.join_thread()
    return per_worker


def fingerprint(reps: int = 5, n_iter: int = 3) -> dict:
    """Host class stamp: zlib compressions/s of a 1 MB buffer on one core
    and on every core at once, as best-of-N (capability) and median
    (sustained)."""
    data = os.urandom(1 << 20)
    _burn(1, data)
    one = [n_iter / _burn(n_iter, data) for _ in range(reps)]
    per_worker = _allcore_burns(reps, n_iter)
    n = len(per_worker)
    alls = [n * n_iter / max(w[r] for w in per_worker) for r in range(reps)]
    return {
        "cores": n,
        "mem_mb": total_memory_mb(),
        "driver_mem_mb": driver_memory_mb(),
        "cpu_1core_best": round(max(one), 1),
        "cpu_1core_median": round(statistics.median(one), 1),
        "cpu_allcore_best": round(max(alls), 1),
        "cpu_allcore_median": round(statistics.median(alls), 1),
    }
