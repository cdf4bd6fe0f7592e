"""Process-tree helpers read from /proc: summed RSS and clean shutdown."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_mb(root: int) -> float:
    """Summed RSS of `root` and every descendant (driver, JVM, Python
    workers), in MB."""
    return sum(_rss_bytes(p) for p in [root, *descendants(root)]) / 1e6


class RssSampler:
    """Samples the process tree's summed RSS on a thread while inside a
    `with` block (it may be entered again); `peak_mb` is the largest
    sample."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root, self.interval_s = root, interval_s
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1][0] != "Z"
    except (OSError, IndexError):
        return False


def stop_tree(root: int, timeout_s: float = 20.0) -> None:
    """TERM every descendant of `root`, then KILL what is left, and wait
    until none is running."""
    pids = descendants(root)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            for p in pids:
                try:  # reap our own children; others are reaped by init
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
