"""Process environment for one benchmark run: scratch directories,
the Spark session, process-tree memory, and clean shutdown.

Everything a run writes lives under ``<checkout>/.perfbench_tmp/<run>/``
and is removed at exit, so no state leaks from one run into the next.
Import this module before ``pyspark``: :func:`prepare` points ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and ``PYTHONPATH`` at the checkout first.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCRATCH = ROOT / ".perfbench_tmp"


def cores() -> int:
    """Cores this process may run on (``nproc``)."""
    return len(os.sched_getaffinity(0))


def prepare(tag: str) -> Path:
    """Create a fresh scratch dir for this run and export the variables
    Spark's JVM and Python workers read. Python workers import
    ``gocrawl_spark`` through ``PYTHONPATH``, not the driver's sys.path."""
    SCRATCH.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{tag}-", dir=SCRATCH))
    (tmp / "tmp").mkdir()
    os.environ["TMPDIR"] = str(tmp / "tmp")
    tempfile.tempdir = str(tmp / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return tmp


def cleanup(tmp: Path) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        SCRATCH.rmdir()  # only when no other run is using it
    except OSError:
        pass


def spark_session(tmp: Path, traced: bool, app: str):
    """local[nproc] session with a driver heap that fits a 15 GB host.
    The web UI (and so the monitoring REST API) is on only when traced."""
    from pyspark.sql import SparkSession

    n = cores()
    java_opts = f"-Djava.io.tmpdir={tmp / 'tmp'}"
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app)
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(tmp / "spark-local"))
        .config("spark.sql.warehouse.dir", str(tmp / "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if traced else "false")
    )
    if traced:
        b = (
            b.config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(b, f)) for b, _d, fs in os.walk(path) for f in fs)


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
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
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed VmRSS of a process tree, sampled on a thread
    (every 0.2 s) while a phase runs. Summing per-process VmHWM would
    add peaks reached at different times; the sampled sum does not."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        kb = sum(_status_kb(p, "VmRSS") for p in descendants(self.root))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait for it and the Python workers it forked."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    wait_gone(tree, 20.0)
    SparkContext._gateway = None
    SparkContext._jvm = None
