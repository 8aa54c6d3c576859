"""CPU time and resident memory of this process and all its descendants.

The measured system is one Python driver, the Spark JVM it launches and the
Python workers that JVM forks, so every figure here is summed over that
whole tree, read from ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: str) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    return raw[raw.rfind(b")") + 2:].split()


class ProcTree:
    def __init__(self, root_pid: int | None = None):
        self.root = str(root_pid or os.getpid())

    def _tree(self) -> dict[str, list[bytes]]:
        """pid -> stat fields for the root and every live descendant."""
        stats, children = {}, {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                f = _stat_fields(pid)
                if f is not None:
                    stats[pid] = f
                    children.setdefault(f[1].decode(), []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    def pids(self) -> list[int]:
        """Live descendants of the root, the root excluded."""
        return [int(p) for p in self._tree() if p != self.root]

    def cpu_seconds(self) -> float:
        """user+system CPU of the tree, including reaped children (cutime,
        cstime), so a worker that exits inside a window still counts once
        its parent has waited for it."""
        ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in self._tree().values())
        return ticks / _CLK_TCK

    def memory_bytes(self) -> int:
        """The tree's resident memory. The forked Python workers share most
        of their pages, so each counts its proportional set size (PSS) and
        a shared page counts once in total, not once per worker. The JVM
        shares nothing with them and counts its RSS: reading its PSS walks
        a multi-GB address space and costs ~36 ms of kernel time per read,
        which slowed the measured op."""
        total = 0
        for pid, f in self._tree().items():
            rss = int(f[21]) * _PAGE
            if _comm(pid) == b"java":
                total += rss
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup", "rb") as sm:
                    for line in sm:
                        if line.startswith(b"Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:  # exited since the scan
                pass
        return total


def _comm(pid: str) -> bytes:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip()
    except OSError:
        return b""


class PeakMemory:
    """Samples the tree's resident memory on a background thread while the block runs;
    ``peak`` holds the largest sum seen, in bytes."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.25):
        self.tree = tree
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.memory_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.memory_bytes())


def stop_descendants(tree: ProcTree, timeout_s: float = 30.0) -> None:
    """SIGTERM every descendant, SIGKILL what outlives the timeout, and wait
    until each has ended. The set is taken once up front: a worker whose
    parent dies is re-parented out of the tree but must still be waited for."""
    import signal

    pending = set(tree.pids())
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pending:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while pending and time.monotonic() < deadline:
            for pid in list(pending):
                try:  # reaps our own children; other zombies count as ended
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
                f = _stat_fields(str(pid))
                if f is None or f[0] == b"Z":
                    pending.discard(pid)
            time.sleep(0.05)
        if not pending:
            return
