"""Driver-contract invariants: entry/queries/oracle_sql shape, and
Spark-vs-DuckDB parity for every registry key at sf0.001 through the
same comparison ``tools/oracle_check.py`` runs."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from conftest import SF
from tools import oracle_check


@pytest.fixture(scope="module")
def duck():
    with oracle_check.duck_views(SF) as con:
        yield con


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns == ["week_start", "location", "total_bookings"]


def test_every_oracle_key_has_a_query():
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_spot_oracle_parity(registry_builds, duck, name):
    _, problems = oracle_check.compare(
        registry_builds.build(name), duck, entrymod.oracle_sql()[name]
    )
    assert not problems, problems
