"""A run ends every process it started, orphans included, and a changed
engine never reuses a model learned by the old one."""

import os
import subprocess
import sys
import textwrap

from perfbench import model

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# a stand-in for a run: one child exits and orphans a sleeper (as the JVM
# orphans its Python workers), another ignores SIGTERM
RUN = textwrap.dedent(f"""
    import os, subprocess, sys
    sys.path.insert(0, {ROOT!r})
    from perfbench import host
    assert host.become_subreaper()
    mid = subprocess.Popen([sys.executable, "-c", (
        "import subprocess, sys\\n"
        "p = subprocess.Popen([sys.executable, '-c', "
        "'import time; time.sleep(60)'])\\n"
        "print(p.pid, flush=True)\\n")],
        stdout=subprocess.PIPE, text=True)
    orphan = int(mid.stdout.readline())
    mid.wait()
    stubborn = subprocess.Popen([sys.executable, "-c", (
        "import signal, time\\n"
        "signal.signal(signal.SIGTERM, signal.SIG_IGN)\\n"
        "print('ready', flush=True)\\n"
        "time.sleep(60)\\n")], stdout=subprocess.PIPE, text=True)
    stubborn.stdout.readline()
    me = os.getpid()
    assert set(host.tree_pids(me)) == {{me, orphan, stubborn.pid}}
    host.end_descendants(grace_s=1)
    assert host.tree_pids(me) == [me]
    print("clean", flush=True)
""")


def test_end_descendants_waits_for_orphans_and_stubborn_children():
    proc = subprocess.run([sys.executable, "-c", RUN], capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "clean"


def test_model_fingerprint_follows_the_engine_sources(tmp_path):
    src = tmp_path / "fact_extraction_spark" / "plans"
    src.mkdir(parents=True)
    (src / "pipeline.py").write_text("A = 1\n")
    before = model.fingerprint(str(tmp_path))
    assert model.fingerprint(str(tmp_path)) == before
    (src / "pipeline.py").write_text("A = 2\n")
    assert model.fingerprint(str(tmp_path)) != before
