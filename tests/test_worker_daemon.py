"""The engine's Python worker daemon: one warm pool per session, and the
zip-import guard its workers inherit."""

import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GUARD = textwrap.dedent(f"""
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, {REPO!r})
    from fact_extraction_spark.worker_daemon import install_zip_guard

    def write(path, name, body):
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            zf.writestr(name + ".py", body)
        os.replace(tmp, path)

    archive = os.path.join(sys.argv[1], "mods.zip")
    write(archive, "a", "A = 1\\n")
    sys.path.insert(0, archive)
    assert install_zip_guard()
    import a
    assert a.A == 1
    importlib.invalidate_caches()   # stamps every importer, as the daemon does

    reads = 0
    stock_read = zipimport._read_directory

    def counting_read(path):
        global reads
        reads += 1
        return stock_read(path)

    zipimport._read_directory = counting_read
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == 0, reads

    write(archive, "b", "B = 'rewritten archive'\\n")
    importlib.invalidate_caches()
    assert reads == 1, reads
    import b
    assert b.B == "rewritten archive"
    print("ok")
""")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 re-reads zip archives lazily")
def test_zip_guard_rereads_only_changed_archives(tmp_path):
    proc = subprocess.run([sys.executable, "-c", GUARD, str(tmp_path)],
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "ok"


def _child_argvs(pid: int) -> list[list[str]]:
    """The argv of each process whose parent is ``pid``; reads /proc."""
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = [a.decode() for a in f.read().split(b"\0") if a]
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(argv)
    return kids


def test_session_runs_one_engine_daemon(spark):
    """Rows built from a Python list and a pandas UDF are read by one pool:
    one daemon below the JVM, the engine's, whose workers run the guard."""
    assert len(spark.createDataFrame([(1,), (2,)], "x int").collect()) == 2

    @F.pandas_udf("string")
    def guard_name(s: pd.Series) -> pd.Series:
        import zipimport
        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)

    names = {r[0] for r in spark.range(8).repartition(4)
             .select(guard_name("id")).collect()}
    guarded = sys.version_info < (3, 13)
    assert names == {"invalidate_if_changed" if guarded
                     else "invalidate_caches"}

    jvm = spark._jvm.ProcessHandle.current().pid()
    daemons = [argv for argv in _child_argvs(jvm) if "-m" in argv]
    assert [argv[argv.index("-m") + 1] for argv in daemons] == [
        "fact_extraction_spark.worker_daemon"]
