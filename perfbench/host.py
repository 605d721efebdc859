"""Host pinning, the process-tree memory sampler and the host record.

The session is sized to the machine it runs on: ``local[nproc]``, a driver
heap well under physical memory (the engine's own default of 48g exceeds a
small host's RAM) and one BLAS thread per Python worker.  Every scratch file
Spark, the JVM and Python write goes under the run's work directory inside
the checkout.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time
from pathlib import Path

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """1 GB, or a quarter of physical memory if that is less.

    The workloads need well under 1 GB of driver heap; a heap that reaches
    its cap in every run keeps the peak-RSS figure repeatable (a 4 GB heap
    grew to anywhere between 3.6 and 5.8 GB of tree RSS across seeds).
    """
    return min(1024, host_mem_mb() // 4)


def pin_environment(work: Path) -> dict[str, str]:
    """Set the env the session reads; must run before pyspark is imported."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "AFSPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def session_conf(work: Path) -> dict[str, str]:
    """Extra Spark conf that keeps JVM scratch files inside ``work``."""
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _vm_rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """(total, JVM part) resident bytes of ``pid`` and its descendants.

    The Python workers are forked from one daemon and share its pages, which
    summed RSS would count once per live worker, so they count by PSS.
    ``pid`` itself and the JVM fork nothing that shares their pages and
    count by RSS: reading a large process's ``smaps_rollup`` walks its page
    tables under its memory-map lock (~15 ms for the JVM), which stalls the
    JVM it measures.
    """
    total = jvm = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                is_jvm = f.read().strip() == "java"
            rss = _vm_rss_bytes(p) if is_jvm or p == pid else _pss_bytes(p)
        except OSError:
            continue
        total += rss
        jvm += rss if is_jvm else 0
    return total, jvm


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Peak resident memory of this process and its descendants (``tree_rss_bytes``).

    Covers the driver JVM and the Python workers; sampled from ``/proc``
    every ``interval`` seconds on a background thread from ``start`` until
    ``stop`` (the benchmark stops it before its own output checks).  A
    sample takes ~20 ms of one core; at 0.1 s, with every process read by PSS
    (a median 54 ms a sample), the sampler took a third of a core from the run
    it measured.
    """

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.jvm_at_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total, jvm = tree_rss_bytes(os.getpid())
        if total > self.peak:
            self.peak, self.jvm_at_peak = total, jvm

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._ticks = cpu_ticks()
        self._thread.start()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        steal, total = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        # share of the host's CPU time the hypervisor gave to other guests
        self.steal_share = steal / total if total else 0.0

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()


def source_digest(root: Path) -> str:
    """sha1 over the engine's Python sources, for checkouts without git."""
    h = hashlib.sha1()
    for p in sorted((root / "afspark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit(root: Path) -> str | None:
    try:
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def host_record(root: Path, env: dict[str, str]) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    from bench import host_memory_health

    return {
        "nproc": host_cpus(),
        "mem_total_mb": host_mem_mb(),
        "driver_mem": env["AFSPARK_DRIVER_MEM"],
        "versions": {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
            "pandas": pandas.__version__,
        },
        "git_commit": git_commit(root),
        "source_sha1": source_digest(root),
        "memory_probe": host_memory_health(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
