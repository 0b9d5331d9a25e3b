"""The default driver heap is derived from the machine, and ``get_spark``
applies it only to a driver it starts itself; checked without starting
Spark."""

from __future__ import annotations

from types import SimpleNamespace

from etl_consumer_spark import session
from etl_consumer_spark.session import driver_memory

GIB = 2**30


def files(tmp_path, mem_total_bytes, cgroup=None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_bytes // 1024} kB\nMemFree: 1 kB\n")
    cg = tmp_path / "memory.max"
    if cgroup is not None:
        cg.write_text(f"{cgroup}\n")
    return str(meminfo), str(cg)


def test_half_of_mem_total_without_a_cgroup_limit(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(*files(tmp_path, 16 * GIB)) == "8192m"
    assert driver_memory(*files(tmp_path, 16 * GIB, cgroup="max")) == "8192m"


def test_a_smaller_cgroup_limit_wins(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(*files(tmp_path, 64 * GIB, cgroup=6 * GIB)) == "3072m"
    # a cgroup limit above physical memory does not raise the heap
    assert driver_memory(*files(tmp_path, 8 * GIB, cgroup=32 * GIB)) == "4096m"


def test_capped_at_48g(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert driver_memory(*files(tmp_path, 512 * GIB)) == "49152m"


def test_unreadable_machine_falls_back_to_the_cap(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    missing = str(tmp_path / "absent")
    assert driver_memory(missing, missing) == "49152m"


def test_explicit_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert driver_memory(*files(tmp_path, 16 * GIB)) == "2g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert driver_memory(*files(tmp_path, 16 * GIB)) == "8192m"


class _Builder:
    """Records what ``get_spark`` sets, in place of ``SparkSession.builder``."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def test_local_tuning_only_when_a_master_is_set(monkeypatch):
    """A master set here runs the driver in this process: UI off and a heap
    from ``driver_memory``. ``master=""`` (the runner) leaves the master,
    the UI and the heap to the launcher."""
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    for master, expected in [("local[2]", {"master": "local[2]", "spark.ui.enabled": "false",
                                           "spark.driver.memory": "3g"}), ("", {})]:
        builder = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
        session.get_spark(master=master)
        keys = ("master", "spark.ui.enabled", "spark.driver.memory")
        assert {k: v for k, v in builder.conf.items() if k in keys} == expected
