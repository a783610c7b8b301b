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
