"""Contract pin for the driver-facing query registry (driverless).

The DuckDB harness reads ``__spark_entry__.queries()`` and
``oracle_sql()`` in order. This test pins, as one digest, the ordered
list of (name, function ``__name__``, sha256 of the oracle SQL), so a
change to how the registry is built cannot reorder it, drop or rename a
query, or change any oracle's text without this test noticing.
"""

import hashlib
import importlib.util
import json
import os
import re

import pytest

import __spark_entry__ as entry
from obiemachinelearningframework_spark import queries as Q

# digest of the 139-query registry as harness order, names and oracle SQL
REGISTRY_DIGEST = "694f719d373179ed85c683ca832e2a29616fb33e7abae83b8b4dbf555a44eacd"

_SELF_LOG = os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_SELF_r05.log")


def _rows():
    q, o = entry.queries(), entry.oracle_sql()
    return [(k, f.__name__, hashlib.sha256(o[k].encode()).hexdigest())
            for k, f in q.items()]


def test_registry_digest_is_pinned():
    rows = _rows()
    assert len(rows) == 139
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert digest == REGISTRY_DIGEST


def test_registry_order_matches_the_committed_self_log():
    """The committed oracle self-log lists every query in harness order."""
    with open(_SELF_LOG) as fh:
        logged = re.findall(r"^(\w+): OK", fh.read(), re.M)
    assert [name for name, _, _ in _rows()] == logged


def test_an_unregistered_name_in_the_order_list_fails_the_import():
    """A misspelt name in ``_CHEAP_FIRST`` raises instead of being skipped."""
    with open(Q.__file__) as fh:
        src = fh.read()
    assert src.count("'dedup_embedding',\n]") == 1
    spec = importlib.util.spec_from_loader(
        "obiemachinelearningframework_spark._queries_typo", loader=None)
    mod = importlib.util.module_from_spec(spec)
    mod.__package__ = "obiemachinelearningframework_spark"
    with pytest.raises(ValueError, match="dedup_embeding"):
        exec(compile(src.replace("'dedup_embedding',\n]", "'dedup_embeding',\n]"),
                     Q.__file__, "exec"), mod.__dict__)
