"""The run's process tree, read from ``/proc``: descendants, CPU time
and resident memory of the driver, the JVM and its Python workers."""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``stat`` file, or None if the
    process or thread has gone. In the fields, [1] is the ppid and
    [11..14] are utime, stime, cutime and cstime."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw.rsplit(")", 1)[1].split()


def _table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, utime + stime + cutime + cstime ticks, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _read_stat(f"/proc/{name}/stat")) is not None:
            comm, fields = st
            out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]), comm)
    return out


def _tree(root: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def descendants(pid: int) -> list[int]:
    return _tree(pid, _table())


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads (their work depends on
    timing, not on the program's input, so it is left out)."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    ticks = 0
    for tid in tids:
        st = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(_JIT_THREADS):
            ticks += sum(int(x) for x in st[1][11:13])
    return ticks


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``pid`` (this
    one by default) and every descendant, live or already reaped — the
    driver, the JVM and its Python workers — less the JVM's JIT
    compiler threads. Time a descendant's exited children used is in
    that descendant's ``cutime``/``cstime``."""
    root = os.getpid() if pid is None else pid
    table = _table()
    total = 0
    for p in [root, *_tree(root, table)]:
        _, ticks, comm = table.get(p, (0, 0, ""))
        total += ticks - (_jit_ticks(p) if comm == "java" else 0)
    return total / _CLK_TCK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of (this driver's RSS + the JVM's RSS), sampled every
    100 ms while running."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        me = os.getpid()
        table = _table()
        self._pids = [me] + [p for p in _tree(me, table) if table[p][2] == "java"]

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(_rss_mb(p) for p in self._pids))

    def _loop(self):
        while not self._stop.wait(0.1):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
