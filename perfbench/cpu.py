"""CPU time of one run's processes, read from ``/proc``.

The CPU a pass costs is counted over the benchmark's own Python process
(the client: builders, py4j) and the Spark driver JVM with every process
below it (the PySpark daemon and its Python workers), minus the JVM's JIT
compiler threads. Time stolen by the hypervisor is not CPU time of a
process, so this figure stays put when the host is oversubscribed, while
wall time does not. JIT compilation is left out because it belongs to
warm-up: its share of a pass depends on how far compilation has got,
which depends on how much CPU the compiler threads happened to get.

A process's children that have exited and been reaped move their CPU
time into the parent's ``cutime``/``cstime``, so summing own plus reaped
time over the live tree never loses a short-lived worker. Threads are
different: a thread that exits takes its own counter with it, and HotSpot
starts and stops C2 compiler threads as the compile queue grows and
drains (several a pass). A watcher thread therefore reads the compiler
threads every ``POLL_S`` and keeps the last reading of each; a compiler
thread is only stopped after it has been idle, so that reading is its
total.
"""

from __future__ import annotations

import os
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")
#: Thread names (``comm``, 15 characters) of HotSpot's JIT compilers.
COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
POLL_S = 0.025


def _stat(path: str) -> tuple[int, int, int]:
    """(ppid, own CPU ticks, reaped children's CPU ticks) of one ``stat``
    file. A thread's file carries its own ticks but its process's reaped
    children."""
    with open(path, "rb") as fh:
        f = fh.read().rsplit(b")", 1)[1].split()
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


class CpuClock:
    """Reads the CPU of the client process plus the JVM tree, without JIT.
    ``close()`` stops the watcher thread."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid
        self._tasks = f"/proc/{jvm_pid}/task"
        self._is_jit: dict[str, bool] = {}
        self._jit: dict[str, int] = {}  # compiler tid -> last ticks read
        self._jit_ended = 0  # ticks of compiler threads that have ended
        self._lock = threading.Lock()
        self._done = threading.Event()
        self._watcher = threading.Thread(target=self._watch, daemon=True)
        self._scan_jit()
        self._watcher.start()

    def _watch(self) -> None:
        while not self._done.wait(POLL_S):
            self._scan_jit()

    def _scan_jit(self) -> int:
        """Update the compiler-thread readings; their total in ticks."""
        with self._lock:
            live = os.listdir(self._tasks)
            for tid in self._is_jit.keys() - set(live):  # ended: tids get reused
                del self._is_jit[tid]
                self._jit_ended += self._jit.pop(tid, 0)
            for tid in live:
                is_jit = self._is_jit.get(tid)
                try:
                    if is_jit is None:
                        with open(f"{self._tasks}/{tid}/comm", encoding="ascii") as fh:
                            is_jit = self._is_jit[tid] = (
                                fh.read().strip() in COMPILER_THREADS)
                    if is_jit:
                        self._jit[tid] = _stat(f"{self._tasks}/{tid}/stat")[1]
                except (OSError, IndexError, ValueError):
                    continue  # the thread ended while listed
            return self._jit_ended + sum(self._jit.values())

    def _tree_ticks(self) -> int:
        children: dict[int, list[tuple[int, int]]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                ppid, own, reaped = _stat(f"/proc/{name}/stat")
            except (OSError, IndexError, ValueError):
                continue  # exited while listed
            children.setdefault(ppid, []).append((int(name), own + reaped))
        _, own, reaped = _stat(f"/proc/{self.jvm}/stat")
        total = own + reaped
        stack = [self.jvm]
        while stack:
            for pid, ticks in children.get(stack.pop(), ()):
                total += ticks
                stack.append(pid)
        return total

    def start(self) -> tuple:
        """A reading to pass to ``stop``. The client's own clock is read
        last, so the cost of reading ``/proc`` is not billed to the pass."""
        return self._tree_ticks(), self._scan_jit(), time.process_time()

    def stop(self, start: tuple) -> tuple[float, float]:
        """(CPU seconds without JIT, JIT compiler seconds) since ``start``.
        The client's clock is read first, for the same reason."""
        client = time.process_time()
        tree, jit = self._tree_ticks(), self._scan_jit()
        tree0, jit0, client0 = start
        return (tree - tree0 - (jit - jit0)) / TICK + client - client0, (jit - jit0) / TICK

    def close(self) -> None:
        self._done.set()
        self._watcher.join()
