"""Host-fit session defaults."""

import os

import pytest

from fact_extraction_spark.session import (
    default_driver_memory, runs_engine_daemon)

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
