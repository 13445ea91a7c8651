"""The /proc readers sum memory and CPU over a whole process tree."""

import subprocess
import sys
import textwrap
import time

from perfbench.host import (
    RssSampler, tree_cpu_seconds, tree_pids, tree_pss_bytes)

# a child that holds 64 MB and starts a grandchild holding 64 MB more
CHILD = textwrap.dedent("""
    import subprocess, sys, time
    hold = bytearray(64 << 20)
    for i in range(0, len(hold), 4096):
        hold[i] = 1
    grand = subprocess.Popen([sys.executable, "-c", (
        "import sys, time\\n"
        "hold = bytearray(64 << 20)\\n"
        "for i in range(0, len(hold), 4096): hold[i] = 1\\n"
        "print('ready', flush=True)\\n"
        "sys.stdin.read()\\n")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    grand.stdout.readline()
    print(grand.pid, flush=True)
    sys.stdin.read()
    grand.stdin.close()
    grand.wait(timeout=30)
""")


def test_tree_memory_sums_child_and_grandchild():
    child = subprocess.Popen([sys.executable, "-c", CHILD],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             text=True)
    try:
        grand_pid = int(child.stdout.readline())
        assert set(tree_pids(child.pid)) >= {child.pid, grand_pid}
        assert tree_pss_bytes(child.pid) >= 120 << 20
        with RssSampler(child.pid, interval_s=0.05) as sampler:
            time.sleep(0.2)
        assert sampler.peak_bytes >= 120 << 20
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert child.returncode == 0


# a child whose grandchild burns half a CPU second, then both wait
BUSY = textwrap.dedent("""
    import subprocess, sys
    grand = subprocess.Popen([sys.executable, "-c", (
        "import sys, time\\n"
        "t = time.process_time()\\n"
        "while time.process_time() - t < 0.5: pass\\n"
        "sys.stdin.read()\\n")], stdin=subprocess.PIPE)
    sys.stdin.read()
    grand.stdin.close()
    grand.wait(timeout=30)
""")


def test_tree_cpu_counts_a_busy_grandchild():
    child = subprocess.Popen([sys.executable, "-c", BUSY],
                             stdin=subprocess.PIPE, text=True)
    try:
        deadline = time.time() + 20
        while tree_cpu_seconds(child.pid) < 0.5 and time.time() < deadline:
            time.sleep(0.05)
        assert tree_cpu_seconds(child.pid) >= 0.5
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert child.returncode == 0
