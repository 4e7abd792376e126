"""The /proc tree sampler against child processes with known CPU.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import proctree  # noqa: E402

_TICKS_SLACK = 4 / os.sysconf("SC_CLK_TCK")

# Burns CPU until its own process_time reaches the target, reports it on
# stdout, then blocks on stdin so the sampler sees it alive and unreaped.
_BURN = """
import sys, time
target = float(sys.argv[1])
while time.process_time() < target:
    pass
print(time.process_time(), flush=True)
sys.stdin.readline()
"""

# Same burn one level down: a child that spawns the burner and waits.
_PARENT = """
import subprocess, sys
p = subprocess.Popen([sys.executable, "-c", sys.argv[1], sys.argv[2]],
                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
print(p.stdout.readline().strip(), flush=True)
sys.stdin.readline()
p.stdin.close()
p.wait()
"""


def _spawn(code, *args):
    return subprocess.Popen([sys.executable, "-c", code, *args],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                            text=True)


def _finish(p):
    p.stdin.close()
    assert p.wait(timeout=30) == 0


def test_child_cpu_is_counted():
    me = os.getpid()
    before, _ = proctree.tree_usage(me)
    p = _spawn(_BURN, "0.6")
    try:
        burned = float(p.stdout.readline())
        assert p.pid in proctree.descendants(me)
        after, rss = proctree.tree_usage(me)
    finally:
        _finish(p)
    delta = after - before
    # /proc counts whole clock ticks per field; interpreter start-up
    # adds a little CPU on top of the burn loop.
    assert burned - _TICKS_SLACK <= delta <= burned + 0.4, (burned, delta)
    assert rss > 0


def test_grandchild_cpu_is_counted():
    me = os.getpid()
    before, _ = proctree.tree_usage(me)
    p = _spawn(_PARENT, _BURN, "0.5")
    try:
        burned = float(p.stdout.readline())
        assert len(proctree.descendants(p.pid)) == 1
        after, _ = proctree.tree_usage(me)
    finally:
        _finish(p)
    delta = after - before
    assert burned - _TICKS_SLACK <= delta <= burned + 0.8, (burned, delta)


def test_peak_rss_sees_a_short_lived_allocation():
    hog = _spawn("import sys\nb = bytearray(64 << 20)\nb[::4096] = b'x' * "
                 "len(b[::4096])\nprint(1, flush=True)\nsys.stdin.readline()")
    sampler = proctree.PeakRss(os.getpid(), interval_s=0.02).start()
    try:
        hog.stdout.readline()
        time.sleep(0.2)
    finally:
        _finish(hog)
        peak = sampler.stop()
    assert peak >= 64 << 20


def test_jvm_fork_before_exec_not_counted_twice():
    gb, mb = 1 << 30, 1 << 20
    snap = {  # pid: (ppid, cpu s, rss bytes, comm)
        10: (1, 1.0, 300 * mb, b"python3"),     # driver
        11: (10, 20.0, 4 * gb, b"java"),        # JVM
        12: (11, 0.0, 4 * gb, b"java"),         # JVM fork, not yet exec'd
        13: (11, 2.0, 60 * mb, b"python3"),     # pyspark daemon
        14: (13, 5.0, 200 * mb, b"python3"),    # Python worker
    }
    cpu, rss = proctree.usage_of(10, snap)
    assert cpu == 28.0
    assert rss == 300 * mb + 4 * gb + 60 * mb + 200 * mb
