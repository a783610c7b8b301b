"""tools/check_oracles.py refuses a query name the registry does not know
before it starts Spark (driverless)."""

import os
import sys

import pytest

from obiemachinelearningframework_spark import session

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
import check_oracles  # noqa: E402


def test_unregistered_query_name_is_refused_before_spark(monkeypatch):
    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started for an unregistered query name")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        check_oracles.main("/nonexistent", ["kg_pagerank", "kg_pagernak"])
    assert exc.value.code == "not registry queries: kg_pagernak"


def test_spark_starts_at_the_machines_width(monkeypatch):
    """No fixed master or shuffle width: get_spark's defaults take both
    from session.local_cpus()."""
    calls = []

    class Started(Exception):
        pass

    def record(*args, **kwargs):
        calls.append((args, kwargs))
        raise Started

    monkeypatch.setattr(session, "get_spark", record)
    with pytest.raises(Started):
        check_oracles.main("/nonexistent", ["kg_pagerank"])
    assert calls == [(("oracle_check",), {})]
