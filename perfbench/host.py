"""Host facts and process-tree sizing for one benchmark run.

Everything here is Spark-free so it can run before the JVM starts: the
heap is derived from ``MemAvailable`` and exported through the env vars
that ``session.get_spark`` already reads, and every scratch path the JVM,
Spark and DuckDB would otherwise put under ``/tmp`` or the cwd is pointed
into the run's own directory.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import threading
import time

#: share of MemAvailable the driver JVM may pre-touch, and the clamp. The
#: heap is fixed (-Xms=-Xmx plus AlwaysPreTouch in session.py), so it must
#: leave room for the Python driver, the Arrow workers and DuckDB.
HEAP_SHARE = 0.3
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 3072
HEAP_STEP_MB = 512


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def heap_mb(avail_mb: int) -> int:
    """Driver heap for a host with ``avail_mb`` available: HEAP_SHARE of
    it, rounded down to HEAP_STEP_MB so small swings in free memory do not
    change the heap (and with it the pre-touched RSS), then clamped."""
    mb = int(avail_mb * HEAP_SHARE) // HEAP_STEP_MB * HEAP_STEP_MB
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))


def configure_env(rundir: str, cores: int, heap: int, extra_conf: list[str]) -> None:
    """Export the Spark/JVM/Python scratch settings for this run."""
    dirs = {k: os.path.join(rundir, k) for k in ("tmp", "jtmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_EXTRA_JAVA_OPTS"] = (
        f"-XX:ErrorFile={rundir}/hs_err_pid%p.log -Djava.io.tmpdir={dirs['jtmp']}"
    )
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={dirs['warehouse']}",
        *extra_conf,
    ]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


def _calib_work(n: int) -> int:
    h = b"calib"
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return h[0]


def host_calibration(cores: int, iters: int = 200_000) -> float:
    """All-core Spark-free sha256 rate in million hashes/s: what the CPU
    delivers right now, recorded beside each result so that two runs taken
    in different host conditions can be told apart."""
    t0 = time.monotonic()
    with multiprocessing.get_context("fork").Pool(cores) as p:
        p.map(_calib_work, [iters] * cores)
    return cores * iters / (time.monotonic() - t0) / 1e6


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _tree_pss_kb(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and its descendants. PSS, not
    RSS: Spark's Python workers are forked from one daemon, and summing
    their RSS would count the pages they share once per worker."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_kb(pid)
        except OSError:  # exited between the scan and the read
            pass
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples the resident memory (PSS) of this process and all its
    descendants (JVM, Python workers) every ``interval_s`` on a daemon
    thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
