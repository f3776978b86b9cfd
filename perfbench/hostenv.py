"""Host sizing, the Spark session lifecycle, and process-tree sampling.

Everything here is sized from the host it runs on: the master is
``local[<usable cores>]`` and the driver heap is a fixed share of
MemTotal for the single JVM the benchmark keeps alive at a time.
CPU and RSS are read from ``/proc`` for the whole process tree (this
process, the JVM it launches, and the Python workers the JVM forks).
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one JVM at a time gets MemTotal / HEAP_SHARE of heap (pre-touched by
#: the session builder), clamped to [HEAP_MIN_MB, HEAP_MAX_MB]
HEAP_SHARE = 8
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 4096
FRAMING_KERNEL = "0"  # scones.extract's per-document loop kernel

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_facts() -> dict:
    """nproc, MemTotal, and the master/heap derived from them."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    heap_mb = min(HEAP_MAX_MB, max(HEAP_MIN_MB, mem_mb // HEAP_SHARE // 256 * 256))
    return {
        "nproc": nproc,
        "mem_total_mb": mem_mb,
        "heap": f"{heap_mb}m",
        "master": f"local[{nproc}]",
        "framing_kernel": "loop" if FRAMING_KERNEL == "0" else FRAMING_KERNEL,
    }


def scratch_dir(work_dir: str) -> str:
    """Point temporary files of this process and its children into the
    checkout; call before anything creates a temporary file."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    return tmp


def start_session(facts: dict, work_dir: str, extra_conf: dict | None = None):
    """Launch the one SparkSession of a run, with every default overridden.

    Python workers import ``scones`` from the checkout, so the checkout
    goes on ``PYTHONPATH`` before the JVM (which forks them) starts.
    Scratch files stay inside ``work_dir``.
    """
    tmp = scratch_dir(work_dir)
    os.environ["SCONES_DRIVER_MEM"] = facts["heap"]
    # The default framing kernel choice ("auto") is a per-worker timing
    # race: each Python worker times both kernels on its first batch and
    # keeps the winner, so two runs of the same code frame with different
    # kernels.  Measured on the 4-core host: op_p50_s IQR/median ~0.3 with
    # "auto" against ~0.04 with the per-document loop pinned, which is
    # also the kernel "auto" is meant to pick there.
    os.environ["SCONES_VECTORIZED_FRAMING"] = FRAMING_KERNEL
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SCONES_JAVA_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    from scones.session import get_spark

    conf = {"spark.local.dir": tmp, **(extra_conf or {})}
    return get_spark(master=facts["master"], app_name="perfbench", extra_conf=conf)


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process it
    started (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = [gateway.proc.pid] + descendants(gateway.proc.pid) if gateway else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    wait_gone(started, timeout)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # exited, waiting to be reaped by its parent
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, RSS MB) summed over ``root`` and its descendants.

    CPU counts user+sys of live processes plus the reaped-children
    totals each parent holds, so a worker that exits inside the tree
    keeps its CPU in the sum.
    """
    root = os.getpid() if root is None else root
    cpu_ticks = 0
    rss_pages = 0
    for pid in [root] + descendants(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        cpu_ticks += sum(int(x) for x in fields[11:15])
        rss_pages += int(fields[21])
    return cpu_ticks / _CLK_TCK, rss_pages * _PAGE / 1e6


class PeakRss:
    """Samples the tree's summed RSS on a side thread between ``start``
    and ``stop``, which returns the peak seen in that window."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(self.interval):
                self.peak_mb = max(self.peak_mb, tree_usage()[1])
                self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak_mb = tree_usage()[1]
        self.active.set()

    def stop(self) -> float:
        self.active.clear()
        return max(self.peak_mb, tree_usage()[1])

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self.active.set()
        self._thread.join(timeout=10)
