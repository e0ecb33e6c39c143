"""CPU and resident memory of a process tree, read from /proc.

A background thread samples the tree every ``interval`` seconds. The tree's
CPU is utime + stime + cutime + cstime of its processes, so a process reaped
by a tree member that waits for it (the daemon by the JVM) still counts
after it exits. The pyspark daemon ignores SIGCHLD, so the kernel reaps its
workers without adding their CPU to the daemon's cutime: a process that
vanishes while its parent ignores SIGCHLD keeps the CPU it had at its last
sample. Only what such a process used after that sample is lost.

Resident memory is summed over the processes that were also there at the
previous sample: a child between fork and exec reports its parent's whole
resident set, which would count the JVM or the driver twice.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SIGCHLD_BIT = 1 << (signal.SIGCHLD - 1)


def _stat(pid: int) -> tuple[bool, int, float, float, int] | None:
    """(zombie, ppid, own CPU s, reaped children's CPU s, rss bytes) of one
    process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    own = (int(fields[11]) + int(fields[12])) / _TICK
    children = (int(fields[13]) + int(fields[14])) / _TICK
    return fields[0] == b"Z", int(fields[1]), own, children, int(fields[21]) * _PAGE


def _ignores_sigchld(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("SigIgn:"):
                    return bool(int(line.split()[1], 16) & _SIGCHLD_BIT)
    except OSError:
        pass
    return False


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and not st[0]


def descendants(root: int) -> dict[int, tuple[bool, int, float, float, int]]:
    """`_stat` of ``root`` and of every descendant not yet reaped, by pid."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                table[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in table.items():
        children.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid]
            todo.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the CPU and resident memory of the tree under ``root`` until
    closed; use as a context manager. Without ``own``, the root's own CPU and
    memory are left out (its reaped children's CPU is kept). The sampling
    thread's own CPU is never counted."""

    def __init__(self, root: int, own: bool = True, interval: float = 0.1):
        self.root = root
        self.own = own
        self.interval = interval
        self._last: dict[int, tuple[int, float]] = {}  # pid -> (ppid, CPU s) at the last sample
        self._auto_reaping: set[int] = set()  # pids that ignored SIGCHLD at the last sample
        self._lost_cpu = 0.0  # CPU of processes the kernel reaped for an ignoring parent
        self._sampler_cpu = 0.0
        self._cpu = 0.0
        self._seen: set[int] = set()
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        tree = descendants(self.root)
        if not self.own and self.root in tree:
            zombie, ppid, _, children, _ = tree[self.root]
            tree[self.root] = (zombie, ppid, 0.0, children, 0)
        auto_reaping = {p for p in {st[1] for st in tree.values()} if p in tree and _ignores_sigchld(p)}
        with self._lock:
            for pid, (ppid, cpu) in self._last.items():
                if pid not in tree and ppid in self._auto_reaping:
                    self._lost_cpu += cpu
            rss = sum(st[4] for pid, st in tree.items() if pid in self._last)
            self._peak_rss = max(self._peak_rss, rss)
            self._last = {pid: (st[1], st[2] + st[3]) for pid, st in tree.items()}
            self._auto_reaping = auto_reaping
            self._seen.update(tree)
            self._cpu = sum(cpu for _, cpu in self._last.values()) + self._lost_cpu

    def cpu_s(self) -> float:
        """Takes a sample now; the tree's CPU seconds so far."""
        self.sample()
        with self._lock:
            return self._cpu - (self._sampler_cpu if self.own else 0.0)

    def seen(self) -> list[int]:
        """Every process of the tree seen so far, live or not."""
        with self._lock:
            return list(self._seen)

    @property
    def peak_rss_mb(self) -> float:
        with self._lock:
            return self._peak_rss / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            self.sample()
            with self._lock:
                self._sampler_cpu += time.thread_time() - t0

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
