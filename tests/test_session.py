"""Host-fit session defaults."""

import os

import pytest

from fact_extraction_spark.session import (
    default_driver_memory, runs_engine_daemon, session_conf)

GIB_KB = 1024 * 1024


def _fake_meminfo(tmp_path, total_kb: int) -> str:
    path = tmp_path / "meminfo"
    path.write_text(f"MemTotal:       {total_kb} kB\n"
                    f"MemFree:        {total_kb // 2} kB\n")
    return str(path)


@pytest.mark.parametrize("cpus", [1, 4, 64])
@pytest.mark.parametrize("total_gib", [1, 2, 4, 16, 64, 1024])
def test_driver_heap_never_exceeds_host_memory(tmp_path, monkeypatch,
                                               total_gib, cpus):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    heap = default_driver_memory(_fake_meminfo(tmp_path, total_gib * GIB_KB))
    assert heap.endswith("m")
    assert 1024 <= int(heap[:-1]) <= total_gib * 1024


def test_driver_heap_rule_and_override(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    meminfo = _fake_meminfo(tmp_path, 16 * GIB_KB)
    # a quarter of a 16 GB, 4-core host
    assert default_driver_memory(meminfo) == "4096m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(meminfo) == "3g"


def test_session_requests_the_derived_heap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == default_driver_memory()


@pytest.mark.parametrize("master,daemon", [
    ("local", True), ("local[4]", True), ("local[*]", True),
    ("local[4,2]", True), ("yarn", False), ("spark://h:7077", False),
])
def test_engine_daemon_only_on_local_masters(master, daemon):
    assert runs_engine_daemon(master) is daemon


TWO_COMPILERS = "-XX:CICompilerCount=2"
JAVA_OPTS = "spark.driver.defaultJavaOptions"


def test_session_jvm_runs_two_compiler_threads(spark):
    jvm = spark.sparkContext._jvm
    diagnostic = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert diagnostic.getVMOption("CICompilerCount").getValue() == "2"
    # C2 stays on: a long-lived session still gets its optimised code
    assert diagnostic.getVMOption("TieredStopAtLevel").getValue() == "4"


@pytest.fixture
def engine_path(monkeypatch):
    """The ``PYTHONPATH`` get_spark sets before it builds the conf."""
    monkeypatch.setenv("PYTHONPATH", "/engine")


@pytest.mark.parametrize("master,two_compilers", [
    ("local[4]", True), ("yarn", False), ("spark://h:7077", False),
])
def test_jit_conf_on_launched_local_jvms(engine_path, master, two_compilers):
    conf = session_conf(master, 8)
    assert (conf.get(JAVA_OPTS) == TWO_COMPILERS) is two_compilers


def test_jit_conf_keeps_callers_java_options(engine_path):
    tmpdir = {"spark.driver.extraJavaOptions": "-Djava.io.tmpdir=/x"}
    conf = session_conf("local[4]", 8, extra_conf=tmpdir)
    assert conf[JAVA_OPTS] == TWO_COMPILERS
    assert conf["spark.driver.extraJavaOptions"] == "-Djava.io.tmpdir=/x"
    # the way back to HotSpot's own count
    assert session_conf("local[4]", 8, extra_conf={JAVA_OPTS: ""})[JAVA_OPTS] == ""


def test_jit_conf_not_added_under_spark_submit(engine_path):
    # spark-submit's JVM is already running: the key would not take effect
    conf = session_conf("local[4]", 8, {"spark.master", "spark.app.name"})
    assert JAVA_OPTS not in conf
    assert conf["spark.python.daemon.module"] == (
        "fact_extraction_spark.worker_daemon")
