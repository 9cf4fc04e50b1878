"""Process-tree memory sampling and shutdown, read from /proc.

``psutil`` is not available, so the session's process tree (the JVM the
SparkSession launched plus the Python workers it forks) is walked from
``/proc/<pid>/stat`` parent links, and resident memory is read from
``/proc/<pid>/statm``.
"""

from __future__ import annotations

import json
import os
import select
import signal
import subprocess
import sys
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # exited between listing and reading
            continue
        # The command name is parenthesised and may contain spaces.
        out[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python_worker(pid: int) -> bool:
    try:
        cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
    except OSError:
        return False
    return b"pyspark" in cmd and b"python" in cmd


class RssSampler:
    """Samples, every ``interval`` seconds while the ``with`` block runs,
    the summed RSS of ``root``'s descendants and the largest single
    Python-worker RSS, keeping the peaks.

    Sampling runs in a child process (this file as a script), not in a
    thread: a sampling thread competes for the interpreter lock with the
    driver's py4j round trips and measurably slows the jobs it watches.
    The child leaves itself out of the tree it measures."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self.peak_tree = 0
        self.peak_worker = 0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, __file__, str(self.root), str(self.interval)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate("", timeout=60)
        self.peak_tree, self.peak_worker = json.loads(out)


def _sample_until_stdin_closes(root: int, interval: float, rescan: float = 1.0) -> None:
    """The sampler child: re-walks the tree every ``rescan`` seconds,
    reads the known processes' statm every ``interval`` seconds, and
    prints ``[peak_tree, peak_worker]`` once its stdin closes."""
    me = os.getpid()
    peak_tree = peak_worker = 0
    tree: list[int] = []
    workers: list[int] = []
    walked = -rescan
    while True:
        now = time.monotonic()
        if now - walked >= rescan:
            tree = [p for p in descendants(root) if p != me]
            workers = [p for p in tree if _is_python_worker(p)]
            walked = now
        peak_tree = max(peak_tree, sum(rss_bytes(p) for p in tree))
        peak_worker = max([peak_worker, *map(rss_bytes, workers)])
        if select.select([sys.stdin], [], [], interval)[0]:
            break
    print(json.dumps([peak_tree, peak_worker]))


def stop_tree(root: int, timeout: float = 30.0) -> None:
    """SIGTERM, then SIGKILL, every descendant of ``root``; return once
    none is left."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants(root)
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        # Reap direct children so they do not linger as zombies.
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.1)


if __name__ == "__main__":
    _sample_until_stdin_closes(int(sys.argv[1]), float(sys.argv[2]))
