import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

from proctree import (CLK_TCK, PROC, RssSampler, _alive, parse_stat,
                      parse_status_kb, stop_descendants, tree_cpu_s,
                      tree_stats)


def _stat_line(pid, comm, ppid, utime, stime, cutime, cstime):
    # fields 3..13 are state, ppid, pgrp, session, tty, tpgid, flags,
    # minflt, cminflt, majflt, cmajflt; 14..17 are the CPU times
    return (f"{pid} ({comm}) S {ppid} 1 1 0 -1 4194304 10 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0 100 0 0\n")


def test_parse_stat_with_awkward_command_name():
    line = _stat_line(42, "py (worker) x", 7, 100, 20, 3, 4)
    assert parse_stat(line) == (7, 127.0)


def test_parse_status_kb():
    text = "Name:\tjava\nVmHWM:\t  2048 kB\nVmRSS:\t  1024 kB\n"
    assert parse_status_kb(text, "VmRSS") == 1024
    assert parse_status_kb(text, "VmHWM") == 2048
    assert parse_status_kb("Name:\tkthreadd\n", "VmRSS") == 0


def test_tree_stats_follows_descendants_only(tmp_path):
    # 1 -> 10 -> 11 -> 12 ; 10 -> 13 ; 1 -> 20 (not under 10)
    procs = {1: 0, 10: 1, 11: 10, 12: 11, 13: 10, 20: 1}
    for pid, ppid in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, "p", ppid, pid, 0, 0, 0))
    (tmp_path / "self").mkdir()  # non-numeric entries are ignored
    tree = tree_stats(10, tmp_path)
    assert sorted(tree) == [10, 11, 12, 13]
    assert sum(t for _, t in tree.values()) == 10 + 11 + 12 + 13
    assert tree_stats(999, tmp_path) == {}


def test_live_tree_counts_a_busy_child():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"
    before = tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", burn + "time.sleep(5)"])
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            if child.pid in tree_stats(os.getpid()) and (
                    tree_cpu_s(os.getpid()) - before >= 0.25):
                break
            time.sleep(0.05)
        assert child.pid in tree_stats(os.getpid())
        assert tree_cpu_s(os.getpid()) - before >= 0.25
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


SPAWNER = """
import signal, subprocess, sys, time
stubborn = subprocess.Popen([sys.executable, "-c",
    "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
    "print(flush=True); time.sleep(60)"], stdout=subprocess.PIPE)
stubborn.stdout.readline()  # its SIGTERM handler is in place
polite = subprocess.Popen(["sleep", "60"])
print(stubborn.pid, polite.pid, flush=True)
time.sleep(60)
"""


def test_stop_descendants_terms_then_kills():
    root = subprocess.Popen([sys.executable, "-c", SPAWNER],
                            stdout=subprocess.PIPE, text=True)
    try:
        stubborn, polite = map(int, root.stdout.readline().split())
        killed = stop_descendants(root.pid, grace_s=0.5)
        assert killed == [stubborn]
        assert not _alive(stubborn, PROC)
        assert not _alive(polite, PROC)
        assert root.poll() is None  # the root itself is left alone
        assert stop_descendants(root.pid, grace_s=0.5) == []
    finally:
        root.kill()
        root.wait(timeout=10)


ORPHANER = """
import os, subprocess, sys
from proctree import become_subreaper, stop_descendants, tree_stats
become_subreaper()
# the shell exits at once and leaves its sleep orphaned
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True).stdout
orphan = int(out)
assert tree_stats(os.getpid())[orphan][0] == os.getpid()
assert stop_descendants(os.getpid(), grace_s=5) == []
assert orphan not in tree_stats(os.getpid())  # ended and reaped
"""


def test_subreaper_keeps_orphans_in_the_tree():
    proc = subprocess.run([sys.executable, "-c", ORPHANER],
                          cwd=Path(__file__).resolve().parent.parent,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr


def test_rss_sampler_sees_this_process():
    with RssSampler(os.getpid(), interval_s=0.01) as rss:
        time.sleep(0.05)
    assert rss.peak_mb > 1.0
    assert not rss._thread.is_alive()


def test_clock_ticks_positive():
    assert CLK_TCK > 0
    with pytest.raises(ValueError):
        parse_stat("garbage")
