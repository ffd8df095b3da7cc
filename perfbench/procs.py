"""Process-tree reads from ``/proc``: memory of this process and its
descendants (the JVM and its Python workers), and their shutdown."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command may contain spaces or parentheses: split after the last ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants: resident
    memory with each shared page split among the processes sharing it, so
    forked Python workers are not counted once per fork."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemSampler:
    """Samples the process tree's PSS every ``interval`` seconds on a
    background thread while ``active`` is set; ``peak`` is the maximum."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.active = threading.Event()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, tree_pss_bytes(root))


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate every process this one started that is still running and
    wait until each has ended (SIGKILL after ``timeout``)."""
    me = os.getpid()
    pids = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            _wait_children()
            pids = descendants(me)
            if not pids:
                return
            time.sleep(0.1)


def _wait_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
