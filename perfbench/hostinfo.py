"""Host facts recorded with every benchmark result, read from ``/proc``.

* ``ProcessTreeMemory``: a sampling thread that tracks the peak memory of
  this process plus all its descendants (the Spark driver JVM and its
  Python workers), and remembers every descendant it saw so the benchmark
  can wait for them to exit.  Memory is the proportional set size (PSS):
  a page shared by several processes of the tree counts once in the sum.
  Plain RSS counts it once per process, which double-counts the Python
  workers forked from their daemon and, for a moment, the whole JVM heap
  whenever the JVM forks a child.
* ``TreeCpu``: CPU seconds spent by this process and its descendants,
  the memory sampler thread and the JVM's JIT compiler threads left out.
  With paravirtual steal accounting the kernel does not charge stolen time
  to a task, so this figure moves far less with host load than wall time
  does.
* ``cpu_times`` / ``steal_share``: host CPU steal over an interval.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a /proc stat file from field 3 (state) on, or None."""
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
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
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _command(pid: int | str) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


def _cpu_ticks(fields: list[str] | None, children: bool) -> int:
    """utime + stime (fields 14, 15), plus cutime + cstime (16, 17) of the
    children the process has reaped."""
    if fields is None:
        return 0
    n = 4 if children else 2
    return sum(int(x) for x in fields[11:11 + n])


# thread names (as /proc shows them, cut to 15 characters) of the JVM's
# JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _thread_ticks(pid: int, names: tuple[str, ...]) -> int:
    """CPU ticks of the live threads of ``pid`` whose name is in ``names``."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        if _command(f"{pid}/task/{tid}") in names:
            ticks += _cpu_ticks(_stat_fields(f"/proc/{pid}/task/{tid}/stat"),
                                False)
    return ticks


class TreeCpu:
    """CPU seconds of this process and every live descendant (the Spark
    driver JVM, the Python worker daemon and its workers), each counting the
    children it has reaped, so a worker that exits keeps its share.

    The threads named in ``exclude`` (the benchmark's own samplers) are left
    out of this process's figure.  The JVM's JIT compiler threads are
    reported apart, as ``java.jit``: their work is a warm-up cost that falls
    from op to op for minutes.  Their time is only separable while they are
    alive, so the JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``
    (see ``run.spark_conf``)."""

    def __init__(self):
        self.exclude: set[int] = set()

    def __call__(self) -> float:
        """CPU seconds so far, the JIT compiler threads left out."""
        return sum(v for k, v in self.by_command().items() if k != "java.jit")

    def total(self) -> float:
        """CPU seconds so far, the JIT compiler threads included."""
        return sum(self.by_command().values())

    def by_command(self) -> dict[str, float]:
        """CPU seconds so far by command name, plus ``java.jit``."""
        root = os.getpid()
        out: dict[str, float] = {}
        for pid in [root] + descendants(root):
            ticks = _cpu_ticks(_stat_fields(f"/proc/{pid}/stat"), True)
            if pid == root:
                for tid in self.exclude:
                    ticks -= _cpu_ticks(
                        _stat_fields(f"/proc/{root}/task/{tid}/stat"), False)
            name = _command(pid)
            if name == "java":
                jit = _thread_ticks(pid, JIT_THREADS)
                out["java.jit"] = out.get("java.jit", 0.0) + jit / CLK_TCK
                ticks -= jit
            out[name] = out.get(name, 0.0) + ticks / CLK_TCK
        return out


class ProcessTreeMemory:
    """Peak PSS (MB) of this process and its descendants, sampled every
    ``interval`` seconds on a daemon thread between ``start`` and ``stop``.

    ``peak_mb`` is the whole tree; ``peak_python_mb`` the Python processes
    alone (this driver and the Spark Python workers).  The JVM's share
    depends on how far G1 grew its heap in this run, which varies run to
    run by far more than the Python share does."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_python_mb = 0.0
        self.peak_by_command: dict[str, float] = {}
        self.seen: set[int] = set()
        self.native_id: int | None = None
        self._started = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="memory-sampler")

    def sample(self) -> None:
        root = os.getpid()
        pids = [root] + descendants(root)
        self.seen.update(pids[1:])
        mem = {p: _pss_bytes(p) / (1024.0 * 1024.0) for p in pids}
        by_command: dict[str, float] = {}
        for p, mb in mem.items():
            name = _command(p)
            by_command[name] = by_command.get(name, 0.0) + mb
        python = sum(mb for name, mb in by_command.items()
                     if name.startswith("python"))
        self.peak_python_mb = max(self.peak_python_mb, python)
        total = sum(mem.values())
        if total > self.peak_mb:
            self.peak_mb = total
            self.peak_by_command = by_command

    def _run(self) -> None:
        self.native_id = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()
        self._started.wait()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) in clock ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        first = fh.readline().split()
    return [int(x) for x in first[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    # guest time is already counted inside user/nice
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def wait_for_exit(pids: set[int], timeout: float = 20.0) -> list[int]:
    """Wait until every pid has exited; kill those still alive at the
    deadline.  Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(alive(p) for p in pids):
            return []
        time.sleep(0.1)
    killed = []
    for p in pids:
        if alive(p):
            try:
                os.kill(p, 9)
                killed.append(p)
            except OSError:
                pass
    return killed
