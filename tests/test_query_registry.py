"""The driver's query registry: every ``q_<name>`` of the three query modules
is registered under ``<name>`` with the SQL of its ``oracle_<name>()``
(``queries._registry``), and no hand-kept table pairs them. No Spark."""

from __future__ import annotations

import inspect
import re
from pathlib import Path

import pytest

import __spark_entry__ as E
from loongcollector_spark import oracles, queries, queries_r5
from loongcollector_spark.dataops import queries as dataops_queries

MODULES = (queries, dataops_queries, queries_r5)
PACKAGE = Path(queries.__file__).resolve().parent


def _defined_queries():
    for mod in MODULES:
        for attr, fn in vars(mod).items():
            if attr.startswith("q_") and inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                yield mod, attr[2:], fn


def test_every_query_has_an_oracle():
    q, o = E.queries(), E.oracle_sql()
    assert q.keys() == o.keys()
    assert len(q) >= 147
    assert all(isinstance(sql, str) and sql for sql in o.values())


def test_every_defined_query_is_registered():
    q = E.queries()
    missing = [
        f"{mod.__name__}.q_{name}" for mod, name, fn in _defined_queries() if q.get(name) is not fn
    ]
    assert not missing, missing
    assert len(q) == sum(1 for _ in _defined_queries())


def test_no_oracle_is_defined_twice():
    both = [
        name
        for mod, name, _ in _defined_queries()
        if hasattr(mod, f"oracle_{name}") and hasattr(oracles, f"oracle_{name}")
    ]
    assert not both, both


def test_a_query_without_an_oracle_fails_the_registry(monkeypatch):
    def q_no_oracle(spark, sf_dir):
        raise AssertionError("never run")

    q_no_oracle.__module__ = queries_r5.__name__
    monkeypatch.setattr(queries_r5, "q_no_oracle", q_no_oracle, raising=False)
    with pytest.raises(ImportError, match="oracle_no_oracle"):
        queries._registry()


def test_no_hand_kept_registry_tables():
    """The name pairs q_<name> with oracle_<name>; a table that repeats it
    by hand can drift from the functions."""
    banned = re.compile(r"\b(?:QUERIES|ORACLES)\[[^\]]*\]\s*=[^=]|\b\w+_(?:QUERIES|ORACLES)\b")
    hits = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
