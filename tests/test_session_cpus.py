"""Local-mode parallelism defaults to the CPUs this process may run on,
without starting a JVM: a fixed default of 32 asks a 4-CPU machine for
32 Python workers."""

import os

from obiemachinelearningframework_spark import session


def test_local_cpus_defaults_to_the_process_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == len(os.sched_getaffinity(0))


def test_spark_graft_cpus_overrides_the_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == 3
