"""Spark session sized for the host, process-tree memory sampling and
clean shutdown for the benchmark.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
the input cache, and one work directory per run (Spark local dirs,
temp files, the event log, scratch tables) that is removed at exit.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE_DIR = ROOT / ".perfbench"
#: no hsperfdata files under /tmp: the run writes only inside the checkout
JVM_OPTS = "-XX:-UsePerfData"
#: the JVM's own threads: two JIT compilers and two GC workers, so that
#: with ``local[<cores>]`` task threads the JVM's background work does
#: not oversubscribe the cores a cold run needs
JVM_THREAD_OPTS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def program_present() -> bool:
    """The benchmark measures the checkout it sits in; without the
    package beside it there is nothing to run."""
    return (ROOT / "datacheck_spark" / "__init__.py").is_file()


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def driver_memory_gb() -> int:
    """A quarter of physical memory, between 1 and 2 GiB: the inputs
    are a few MB, and the host's memory is shared."""
    total_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return max(1, min(2, total_kb // (4 * 1024 * 1024)))


def prepare_env(work: Path) -> None:
    """Environment every process of the run inherits, set before the
    JVM starts: Python workers import ``datacheck_spark`` from the
    checkout whatever the working directory is, and temp files land in
    the run's work directory."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # the launcher JVM spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{JVM_OPTS} -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(work: Path, event_log: Path | None = None):
    """``local[<cores>]`` session; shuffle partitions scale with cores.
    ``event_log`` turns on Spark's event log for this session only."""
    from pyspark.sql import SparkSession

    cores = host_cores()
    tmp = work / "tmp"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config(
            "spark.driver.extraJavaOptions",
            f"{JVM_OPTS} {JVM_THREAD_OPTS} -Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", str(work / "local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: the fields start after the last ')'
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(p))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _anon_rss_bytes(pid: int, page: int) -> int:
    """Resident memory not backed by files (``resident - shared`` pages
    of statm): heaps, stacks and buffers. File-backed pages, such as
    mapped jars, are left out because their residency follows the page
    cache, not the program."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            fields = f.read().split()
        return (int(fields[1]) - int(fields[2])) * page
    except (OSError, IndexError, ValueError):
        return 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds, user and system, used so far by this process and
    every descendant (the JVM and its Python workers), including the
    children those processes have reaped."""
    me = os.getpid()
    ticks = 0
    for p in [me] + descendants(me):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime .. cstime
    return ticks / _CLK_TCK


class RssSampler:
    """Peak anonymous resident memory of this process plus every
    descendant (the JVM and its Python workers), sampled on a
    background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self) -> None:
        """Start a new peak from the current footprint."""
        self.peak = 0
        self.sample()

    def sample(self) -> None:
        me = os.getpid()
        total = sum(
            _anon_rss_bytes(p, self._page) for p in [me] + descendants(me)
        )
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited; anything still alive at the deadline is
    killed and reaped."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    alive = [p for p in kids if _running(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    """Alive and not a zombie (a zombie's parent, the JVM, is gone and
    init reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
