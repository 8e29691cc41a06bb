"""Run every registered query against its DuckDB oracle at the test SF --
the local mirror of the driver's t2 correctness gate -- after the
registry-wide plan guards on the same frame."""

from __future__ import annotations

import pytest

from postgresql_datawarehouse_excercise_spark.queries import load_all

from .oracle_harness import check_plan_guards, compare, duck_connect

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, qd in REGISTRY.items() if qd.oracle)
ROWS_ONLY = sorted(n for n, qd in REGISTRY.items() if not qd.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, duck, name):
    qd = REGISTRY[name]
    df = qd.fn(spark, sf_dir)
    check_plan_guards(name, df)
    compare(df, duck, qd.oracle)


def test_every_entry_has_an_oracle():
    assert ROWS_ONLY == []
