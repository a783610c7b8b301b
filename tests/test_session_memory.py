"""The default driver heap is bounded by the machine's memory, without
starting a JVM: a heap above physical memory never feels GC pressure and
the kernel OOM-kills the shared driver instead."""

import os
import types

import pytest

from obiemachinelearningframework_spark import session


class _Stop(Exception):
    pass


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        raise _Stop


def _requested_driver_memory(monkeypatch) -> str:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=builder))
    with pytest.raises(_Stop):
        session.get_spark("mem", master="local[1]")
    return builder.conf["spark.driver.memory"]


def _mb(size: str) -> int:
    return int(size[:-1]) * {"m": 1, "g": 1024}[size[-1].lower()]


def _limits_mb() -> list[int]:
    limits = [os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")]
    for path in session._CGROUP_LIMITS:
        try:
            with open(path) as f:
                limits.append(int(f.read().strip()))
        except (OSError, ValueError):
            pass
    return [lim >> 20 for lim in limits]


def test_default_driver_memory_fits_the_machine(monkeypatch):
    monkeypatch.delenv("OBIE_DRIVER_MEM", raising=False)
    mb = _mb(_requested_driver_memory(monkeypatch))
    assert 0 < mb <= 16 * 1024
    for limit in _limits_mb():
        assert mb <= 0.75 * limit, (mb, limit)


def test_cgroup_limit_below_ram_bounds_the_default(monkeypatch, tmp_path):
    monkeypatch.delenv("OBIE_DRIVER_MEM", raising=False)
    unlimited, limited = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    unlimited.write_text("max\n")
    limited.write_text(f"{4 << 30}\n")
    monkeypatch.setattr(session, "_CGROUP_LIMITS",
                        (str(unlimited), str(limited), str(tmp_path / "absent")))
    assert _requested_driver_memory(monkeypatch) == "3072m"


def test_obie_driver_mem_overrides_default(monkeypatch):
    monkeypatch.setenv("OBIE_DRIVER_MEM", "48g")
    assert _requested_driver_memory(monkeypatch) == "48g"
