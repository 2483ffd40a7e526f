"""CPU and memory of the Spark process tree, read from ``/proc``.

In local mode the whole engine is one driver JVM plus the Python worker
processes it forks (``pyspark.daemon`` and its children). CPU is split
between the two because the layers differ in where they spend it: the
extract core runs in Python workers, shuffles and writes in the JVM.

* JVM CPU is ``utime + stime`` of the ``java`` process (all its threads).
* Python CPU is ``utime + stime + cutime + cstime`` summed over the live
  Python processes under the JVM. A worker that exits is reaped by the
  daemon, so its time moves into the daemon's ``cutime``/``cstime``:
  counted once, whether or not it is still alive at the second snapshot.

Memory is the largest simultaneous sum of ``VmRSS`` over the JVM and its
Python descendants, sampled by a background thread.
"""

from __future__ import annotations

import os
import pathlib
import threading

PROC = pathlib.Path("/proc")
_TICK = os.sysconf("SC_CLK_TCK")


def read_stat(pid: int, proc: pathlib.Path = PROC) -> dict | None:
    """comm, ppid and CPU seconds of one process; None if it is gone."""
    try:
        raw = (proc / str(pid) / "stat").read_text()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces and parentheses: it ends at the LAST ')'
    head, _, rest = raw.rpartition(")")
    f = rest.split()
    # rest starts at field 3 (state): ppid is field 4, utime..cstime 14..17
    return {
        "pid": pid,
        "comm": head.partition("(")[2],
        "ppid": int(f[1]),
        "self_s": (int(f[11]) + int(f[12])) / _TICK,
        "children_s": (int(f[13]) + int(f[14])) / _TICK,
    }


def read_rss_kb(pid: int, proc: pathlib.Path = PROC) -> int:
    """VmRSS of one process in KiB; 0 if it is gone or has no memory."""
    try:
        for line in (proc / str(pid) / "status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def process_table(proc: pathlib.Path = PROC) -> dict[int, dict]:
    out = {}
    for d in proc.iterdir():
        if d.name.isdigit():
            st = read_stat(int(d.name), proc)
            if st is not None:
                out[st["pid"]] = st
    return out


def descendants(table: dict[int, dict], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for st in table.values():
        kids.setdefault(st["ppid"], []).append(st["pid"])
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class SparkProcesses:
    """The driver JVM under ``root`` (this benchmark process) and the
    Python workers under that JVM."""

    def __init__(self, root: int | None = None, proc: pathlib.Path = PROC):
        self.proc = proc
        table = process_table(proc)
        javas = [p for p in descendants(table, root or os.getpid())
                 if table[p]["comm"] == "java"]
        if len(javas) != 1:
            raise RuntimeError(f"expected one driver JVM, found {javas}")
        self.jvm = javas[0]
        self.seen_workers: set[int] = set()

    def workers(self, table: dict[int, dict]) -> list[int]:
        pids = [p for p in descendants(table, self.jvm)
                if table[p]["comm"].startswith("python")]
        self.seen_workers.update(pids)
        return pids

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: {'jvm': .., 'python': ..}."""
        table = process_table(self.proc)
        jvm = table.get(self.jvm)
        py = sum(table[p]["self_s"] + table[p]["children_s"]
                 for p in self.workers(table))
        return {"jvm": jvm["self_s"] if jvm else 0.0, "python": py}

    def rss_kb(self) -> int:
        table = process_table(self.proc)
        return sum(read_rss_kb(p, self.proc)
                   for p in [self.jvm, *self.workers(table)])


class PeakRss:
    """Samples ``SparkProcesses.rss_kb`` every ``interval`` seconds between
    ``start()`` and ``stop()``; ``peak_mb`` is the largest sample."""

    def __init__(self, procs: SparkProcesses, interval: float = 0.05):
        self.procs = procs
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.procs.rss_kb())
            self._stop.wait(self.interval)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_kb = max(self.peak_kb, self.procs.rss_kb())
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
