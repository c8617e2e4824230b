"""Process-tree CPU and memory readings from ``/proc`` (no psutil).

The tree is the benchmark's own Python process plus every descendant:
the Spark JVM, the PySpark daemon and its forked Python workers. CPU is
``utime + stime + cutime + cstime`` summed over the live tree, so a
worker that exited and was reaped by a live parent (the daemon reaps its
workers) still counts through that parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from pathlib import Path

PROC = Path("/proc")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, float]:
    """``(ppid, cpu_ticks)`` from one ``/proc/<pid>/stat`` line.

    The command name (field 2) is wrapped in parentheses and may itself
    contain spaces and parentheses, so fields are split after the LAST
    ``)``. Fields 14-17 (1-based) are utime, stime, cutime, cstime."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state): field n sits at rest[n - 3]
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, float(ticks)


def parse_status_kb(text: str, key: str) -> int:
    """The ``kB`` value of ``key`` (e.g. ``VmRSS``) in a
    ``/proc/<pid>/status`` file; 0 when absent (kernel threads, zombies)."""
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def _read(path: Path) -> str | None:
    try:
        return path.read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # the process exited between listing and reading


def tree_stats(root: int, proc: Path = PROC) -> dict[int, tuple[int, float]]:
    """``{pid: (ppid, cpu_ticks)}`` for ``root`` and all its descendants."""
    stats: dict[int, tuple[int, float]] = {}
    for entry in proc.iterdir():
        if entry.name.isdigit():
            text = _read(entry / "stat")
            if text:
                stats[int(entry.name)] = parse_stat(text)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int, proc: Path) -> bool:
    """True while ``pid`` runs; a zombie has ended and only awaits its
    parent's ``wait``."""
    text = _read(proc / str(pid) / "stat")
    return bool(text) and text[text.rindex(")") + 2] != "Z"


def _reap(pids) -> None:
    """``wait`` for those of ``pids`` that are this process's own children
    and have ended, so none stays a zombie."""
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass  # not our child, or already reaped


def become_subreaper() -> None:
    """Make every process orphaned below this one (a Python daemon whose
    JVM exited first) a child of this one rather than of init, so that
    ``stop_descendants`` still finds it and can reap it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _wait_ended(pids: list[int], wait_s: float, proc: Path) -> list[int]:
    """Wait up to ``wait_s`` for ``pids`` to end; the ones still running."""
    deadline = time.monotonic() + wait_s
    while True:
        _reap(pids)
        live = [p for p in pids if _alive(p, proc)]
        if not live or time.monotonic() > deadline:
            return live
        time.sleep(0.05)


def stop_descendants(root: int, grace_s: float = 30.0,
                     proc: Path = PROC) -> list[int]:
    """End every descendant of ``root`` and wait until each has ended.

    Each gets ``SIGTERM`` and ``grace_s`` seconds to exit; whatever still
    runs then gets ``SIGKILL``. Descendants found on a later pass (forked
    while the others were stopping) are stopped the same way. Returns the
    pids that had to be killed."""
    killed: list[int] = []
    for _ in range(10):
        pids = [p for p in tree_stats(root, proc)
                if p != root and _alive(p, proc)]
        if not pids:
            _reap(tree_stats(root, proc))
            return killed
        for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            if sig == signal.SIGKILL:
                killed.extend(pids)
            pids = _wait_ended(pids, wait_s, proc)
            if not pids:
                break
    raise RuntimeError(f"descendants of {root} still running after SIGKILL")


def tree_cpu_s(root: int, proc: Path = PROC) -> float:
    """CPU seconds used so far by ``root``'s live tree (and its reaped
    children)."""
    return sum(t for _, t in tree_stats(root, proc).values()) / CLK_TCK


def tree_rss_mb(root: int, proc: Path = PROC) -> float:
    """Resident memory of ``root``'s live tree right now, in MB."""
    kb = 0
    for pid in tree_stats(root, proc):
        text = _read(proc / str(pid) / "status")
        if text:
            kb += parse_status_kb(text, "VmRSS")
    return kb / 1024.0


class RssSampler:
    """Samples the tree's summed ``VmRSS`` on a background thread and
    keeps the maximum: the tree's simultaneous peak during a window.

    ``VmHWM`` is not used because the JVM outlives each timed run (it
    also serves set-up and earlier repetitions) and its high-water mark
    cannot be reset without writing to ``/proc``."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
