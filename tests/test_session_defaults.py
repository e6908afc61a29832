"""get_spark's default driver memory and CPU count (no Spark needed:
the session builder is replaced by a recorder)."""

from __future__ import annotations

import os
import types

from psd_project_spark import session

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _recorded_conf(monkeypatch, **kwargs) -> dict[str, str]:
    conf: dict[str, str] = {}

    class _Builder:
        def master(self, url):
            conf["master"] = url
            return self

        def appName(self, _):
            return self

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            ctx = types.SimpleNamespace(setLogLevel=lambda _: None)
            return types.SimpleNamespace(sparkContext=ctx)

    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
    monkeypatch.setattr(session, "ensure_conf", lambda s: s)
    session.get_spark(**kwargs)
    return conf


def _driver_memory(monkeypatch) -> str:
    return _recorded_conf(monkeypatch, cpus=1)["spark.driver.memory"]


def _bytes(size: str) -> int:
    return int(size[:-1]) * _UNITS[size[-1].lower()]


def _phys_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert _bytes(_driver_memory(monkeypatch)) <= _phys_bytes()

    real = os.sysconf
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 2 * 2**30 // 4096}
    monkeypatch.setattr(
        os, "sysconf", lambda name: pages.get(name) or real(name)
    )
    assert _bytes(_driver_memory(monkeypatch)) <= 2 * 2**30
    pages["SC_PHYS_PAGES"] = 2**40 // 4096  # a 1 TiB host keeps 24g
    assert _bytes(_driver_memory(monkeypatch)) == 24 * 2**30
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")  # still the override
    assert _driver_memory(monkeypatch) == "1g"


def test_default_cpus_follow_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: {0, 1, 2})
    conf = _recorded_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")  # still the override
    assert _recorded_conf(monkeypatch)["master"] == "local[5]"
