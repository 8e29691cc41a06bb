"""Run every registered query against its DuckDB oracle at the test SF --
the local mirror of the driver's t2 correctness gate -- after the
registry-wide plan guards on the same frame.  Entries that return no rows
at the test SF are also compared at sf0.01, where they do."""

from __future__ import annotations

import os

import pytest

from postgresql_datawarehouse_excercise_spark.queries import load_all

from .conftest import SF_DIR
from .oracle_harness import check_plan_guards, compare, duck_connect

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, qd in REGISTRY.items() if qd.oracle)
ROWS_ONLY = sorted(n for n, qd in REGISTRY.items() if not qd.oracle)

# CEP entries whose patterns find no match at sf0.001 (both engines return
# 0 rows there, so the sweep above compares only their column names); at
# sf0.01 they return 10, 9 and 9 rows.
EMPTY_AT_SF0_001 = ("x_events_cep_permute", "x_events_cep_vshape", "x_events_cep_measure_expr")
SF0_01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


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


@pytest.mark.skipif(
    not os.path.isdir(SF0_01_DIR), reason=f"sf0.01 inputs not present next to the test SF ({SF0_01_DIR})"
)
@pytest.mark.parametrize("name", EMPTY_AT_SF0_001)
def test_oracle_parity_nonempty_at_sf0_01(spark, name):
    qd = REGISTRY[name]
    con = duck_connect(SF0_01_DIR)
    try:
        (n,) = con.sql(f"SELECT count(*) FROM ({qd.oracle})").fetchone()
        assert n > 0, f"{name}: oracle returns no rows at sf0.01"
        compare(qd.fn(spark, SF0_01_DIR), con, qd.oracle)
    finally:
        con.close()
