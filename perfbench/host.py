"""The program's environment for one run: pinned variables, a private run
directory, the Spark session's lifetime, and peak RSS read from /proc."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of the host's memory, at most 2 GiB: the inputs are 16 MB,
    and the session's 48g default does not fit the hosts this runs on."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(2048, total_kb // 4096)}m"


def pin_environment(root: str, run_dir: str) -> None:
    """Set the variables the session, its JVM and its Python workers read.

    The run directory holds the cwd (``bucketed_table``'s spark-warehouse/),
    Spark's local dirs and every temp dir, so nothing lands in the repo or
    carries over between runs. The repo root goes on PYTHONPATH so Python
    workers can import the package and the benchmark's mapper.
    """
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    work = os.path.join(run_dir, "work")
    for d in (tmp, local, work):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


def spark_conf(run_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    """``extra_conf`` for ``get_spark``: JVM temp files in the run dir and,
    for the traced run, an uncompressed single-file event log (the zstd
    default has no reader here)."""
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, rss pages) of ``pid``, or None once it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    if fields[0] in ("Z", "X"):
        return None
    return int(fields[1]), int(fields[21])


def descendants(pid: int) -> dict[int, int]:
    """``pid`` and every process below it, mapped to its RSS in pages."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    tree, frontier = {}, [pid]
    while frontier:
        p = frontier.pop()
        if p in stats:
            tree[p] = stats[p][1]
            frontier.extend(c for c, (ppid, _) in stats.items() if ppid == p)
    return tree


class RssSampler(threading.Thread):
    """Peak summed RSS of the driver JVM and its Python workers."""

    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak_bytes = 0
        self.seen: set[int] = set()
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._done.is_set():
            tree = descendants(self.pid)
            self.seen.update(tree)
            self.peak_bytes = max(self.peak_bytes, sum(tree.values()) * self._page)
            self._done.wait(self.interval)

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=10)


def stop_spark(spark, extra_pids: set[int] = frozenset(), timeout: float = 60) -> None:
    """Stop the session, then end its JVM (it exits when its stdin closes)
    and wait for it and its Python workers to be gone."""
    proc = spark.sparkContext._gateway.proc
    pids = set(extra_pids) | set(descendants(proc.pid))
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        alive = [p for p in pids if _stat(p) is not None]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
