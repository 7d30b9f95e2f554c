"""Process-tree resource accounting from ``/proc`` and parsing of the
metric strings the Spark status REST API returns.

A PySpark run is a process tree: the Python driver, the JVM it
launches, and the Python worker daemon with its forked workers. CPU
time of the tree is every live member's ``utime + stime`` plus the
``cutime + cstime`` its members already collected from children they
reaped, so a worker that exits keeps counting through its parent.

Memory counts forked Python workers by their proportional set size
(PSS): they share most of their pages with the daemon they were forked
from, and PSS splits a shared page among its sharers where RSS would
count it once per worker. Other processes (the JVM) are counted by
RSS, which costs nothing to read; PSS of a multi-GB JVM takes ~25 ms.
A child that has not exec'd yet shares its parent's address space
(same size, same resident pages) and adds nothing: without the native
Hadoop library the JVM spawns ``chmod`` helpers, and a sample taken
inside such a spawn would count the JVM twice (the child carries the
spawning thread's name, e.g. "Executor task l", not "java").

The JVM's just-in-time compiler threads are counted apart: how much
of their compiling lands inside a job depends on timing, not on the
job, so job CPU is reported without them.
"""

from __future__ import annotations

import os
import re
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> dict:
    """One ``/proc/<pid>/stat`` line → pid, comm, ppid, cpu ticks,
    address-space size and rss pages. ``comm`` may hold spaces and
    parentheses, so fields are counted from the last ``)``."""
    head, _, tail = text.rpartition(")")
    f = tail.split()
    # f[0] is field 3 (state); utime..cstime are fields 14..17, vsize
    # 23, rss 24
    pid, _, comm = head.partition(" (")
    return {
        "pid": int(pid),
        "comm": comm,
        "ppid": int(f[1]),
        "ticks": int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
        "vsize": int(f[20]),
        "rss_pages": int(f[21]),
    }


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm, cut at 15 chars


def read_all() -> list[dict]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out.append(parse_stat(f.read()))
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
    return out


def is_running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def tree(stats: list[dict], root: int) -> list[dict]:
    """``root`` and all its descendants among ``stats``."""
    children: dict[int, list[dict]] = {}
    by_pid = {}
    for s in stats:
        children.setdefault(s["ppid"], []).append(s)
        by_pid[s["pid"]] = s
    if root not in by_pid:
        return []
    found, todo = [], [by_pid[root]]
    while todo:
        s = todo.pop()
        found.append(s)
        todo.extend(children.get(s["pid"], ()))
    return found


def unshared(members: list[dict]) -> list[dict]:
    """``members`` less the children still sharing their parent's
    address space (forked or spawned, not yet exec'd)."""
    by_pid = {s["pid"]: s for s in members}
    return [s for s in members
            if (p := by_pid.get(s["ppid"])) is None
            or (p["vsize"], p["rss_pages"]) != (s["vsize"], s["rss_pages"])]


def pss_mb(pid: int) -> float:
    """Proportional set size of one process, in MB (0 once it exited)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def _thread_ticks(pid: int, tid: str) -> tuple[str, int] | None:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            text = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    comm = text[text.index("(") + 1:text.rindex(")")]
    f = text[text.rindex(")") + 1:].split()
    return comm, int(f[11]) + int(f[12])


class TreeSampler:
    """Background thread that polls the tree's memory and keeps its peak,
    and keeps the CPU time of JIT compiler threads, including threads
    that have since exited (at their last sampled value)."""

    RECHECK = 10

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._jit_ticks: dict[tuple[int, str], int] = {}
        # threads seen with another name; re-read every RECHECK samples,
        # since a thread gets its name after it starts
        self._other: set[tuple[int, str]] = set()
        self._samples = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> tuple[float, float, float]:
        """(tree cpu s, tree memory MB, JIT compiler cpu s), now."""
        with self._lock:
            self._samples += 1
            if self._samples % self.RECHECK == 0:
                self._other.clear()
            members = tree(read_all(), os.getpid())
            for s in members:
                try:
                    tids = os.listdir(f"/proc/{s['pid']}/task")
                except FileNotFoundError:
                    continue
                for tid in tids:
                    key = (s["pid"], tid)
                    if key in self._other:
                        continue
                    got = _thread_ticks(s["pid"], tid)
                    if got is None:
                        continue
                    if got[0] in JIT_THREADS:
                        self._jit_ticks[key] = got[1]
                    else:
                        self._other.add(key)
            cpu = sum(s["ticks"] for s in members) / CLK_TCK
            mem = sum(pss_mb(s["pid"]) if s["comm"].startswith("python")
                      else s["rss_pages"] * PAGE_SIZE / 2**20
                      for s in unshared(members))
            self.peak_mb = max(self.peak_mb, mem)
            return cpu, mem, sum(self._jit_ticks.values()) / CLK_TCK

    def cpu_s(self) -> float:
        """Tree CPU seconds so far, JIT compilation excluded."""
        cpu, _, jit = self.sample()
        return cpu - jit

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_metric(value: str) -> float:
    """A Spark SQL metric string → its total in base units (seconds,
    bytes or a count). Accepts a plain value (``"1,234"``, ``"3.1 MiB"``)
    or the aggregated form ``"total (min, med, max (stageId: taskId))\\n
    12.5 s (1.0 s, 3.0 s, 4.5 s (stage 3.0: task 7))"``, whose first
    number is the total."""
    lines = [ln for ln in value.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty metric value")
    body = lines[-1] if lines[0].lstrip().startswith("total") else lines[0]
    m = _VALUE.match(body)
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsable metric value: {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
