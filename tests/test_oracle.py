"""Every SQL-expressible query must hash-match its DuckDB oracle —
the local twin of the driver's CORRECTNESS gate (run at sf0.001 for
speed; the driver re-runs at sf0.01). The same runs lint every plan
the query executed, checkpoints included (``join_lint``); the
rows-only entries get the lint alone."""

from __future__ import annotations

import pytest

from nvd2mysqlloader_spark.plans import QUERIES

from .conftest import SF_ORACLE
from .oracle_harness import compare, executed_plans, join_lint

ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, name):
    q = QUERIES[name]
    with executed_plans(spark) as plans:
        ok, msg = compare(spark, SF_ORACLE, q.fn, q.oracle)
    assert ok, f"{name}: {msg}"
    assert plans, f"{name}: no SQL execution recorded"
    bad = join_lint(name, plans)
    assert not bad, f"{name}: unexpected non-equi join plans: {bad}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_join_lint(spark, name):
    with executed_plans(spark) as plans:
        QUERIES[name].fn(spark, SF_ORACLE).collect()
    assert plans, f"{name}: no SQL execution recorded"
    bad = join_lint(name, plans)
    assert not bad, f"{name}: unexpected non-equi join plans: {bad}"


def test_registry_nonempty():
    assert len(QUERIES) >= 10


def test_registry_hygiene():
    """Every rows-only query must carry a named, existing pytest pin
    (local_oracle.ROWS_ONLY_PINS) — a new engine query cannot ship
    without either a DuckDB oracle or an exact-twin test."""
    import local_oracle
    assert local_oracle.check_registry() == []


def test_registry_hygiene_catches_unpinned_rows_only():
    """Negative check: an unpinned rows-only entry must actually fail
    the gate (the gate itself is load-bearing, not decorative)."""
    import local_oracle
    from nvd2mysqlloader_spark.plans.registry import Query

    QUERIES["__fake_rows_only"] = Query(
        name="__fake_rows_only", fn=lambda s, d: None, oracle=None, doc="")
    try:
        problems = local_oracle.check_registry()
        assert any("__fake_rows_only" in p for p in problems)
    finally:
        del QUERIES["__fake_rows_only"]
    assert local_oracle.check_registry() == []


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
