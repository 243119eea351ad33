"""Host sizing, the run stamp, and the peak-memory sampler."""

from __future__ import annotations

import os
import platform
import threading


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def driver_memory() -> str:
    """A sixth of physical memory, capped at 3 GiB: local mode runs
    every executor thread inside the driver JVM, and the host is shared
    with its Python workers and the benchmark's own pandas checks."""
    return f"{min(3072, max(1024, mem_total_mib() // 6))}m"


def spark_confs(work: str, trace: bool) -> dict[str, str]:
    """Every conf the benchmark pins on top of ``session.get_spark``'s
    defaults. All scratch space stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.dir": logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return confs


def stamp(spark, confs: dict[str, str], load_start: list[float]) -> dict:
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "nproc": nproc(),
        "mem_total_mib": mem_total_mib(),
        "loadavg_start": load_start,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": str(jvm.System.getProperty("java.version")),
        "pinned_confs": confs,
    }


def _children(pid: int, ppids: dict[int, int]) -> set[int]:
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        for c, pp in ppids.items():
            if pp == p and c not in out:
                out.add(c)
                todo.append(c)
    return out


def _tree_pss_kib(root: int) -> int:
    """Summed PSS of ``root`` and its descendants. PSS divides each
    shared page among the processes mapping it, so the forked Python
    workers' shared pages are counted once, not once per worker."""
    ppids: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command field may hold spaces: ppid follows the last ')'
                ppids[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    total = 0
    for pid in {root} | _children(root, ppids):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


PERIOD_S = 0.5  # memory sampling period


class MemSampler:
    """Peak summed PSS of this process and all its descendants (the
    Spark JVM and its Python workers), sampled every 500 ms, over the
    whole run and over the timed window. Reading a JVM's smaps_rollup
    takes 15-30 ms of kernel time under the JVM's memory-map lock, so
    only traced runs sample (``active``); untraced runs are left alone."""

    def __init__(self, active: bool) -> None:
        self.active = active
        self.peak_kib = 0  # over the whole run
        self.window_peak_kib = 0  # over the timed window only
        self._in_window = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kib = _tree_pss_kib(me)
            self.peak_kib = max(self.peak_kib, kib)
            if self._in_window:
                self.window_peak_kib = max(self.window_peak_kib, kib)
            self._stop.wait(PERIOD_S)

    def window(self, inside: bool) -> None:
        self._in_window = inside

    def __enter__(self) -> "MemSampler":
        if self.active:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.active:
            self._stop.set()
            self._thread.join()

    @property
    def window_peak_mib(self) -> float:
        return self.window_peak_kib / 1024.0
