"""Run every registered query against its DuckDB oracle at the test SF --
the local mirror of the driver's t2 correctness gate -- after the
registry-wide plan guards on the same frame.  An entry whose oracle returns
no rows at the test SF is compared again at the sibling sf0.01 directory,
so no case passes on two empty results."""

from __future__ import annotations

import os

import pytest

from postgresql_datawarehouse_excercise_spark.queries import load_all

from .conftest import SF_DIR
from .oracle_harness import check_plan_guards, compare, duck_connect

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, qd in REGISTRY.items() if qd.oracle)
ROWS_ONLY = sorted(n for n, qd in REGISTRY.items() if not qd.oracle)

SF0_01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

# CEP patterns that find no match at sf0.001 but do at sf0.01 (10, 9 and 9
# rows there).  test_oracle_parity's fallback finds empty entries from the
# data; this list only pins that these three keep matching at sf0.01.
CEP_MATCHING_AT_SF0_01 = ("x_events_cep_permute", "x_events_cep_vshape", "x_events_cep_measure_expr")


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
    if compare(df, duck, qd.oracle):
        return
    if not os.path.isdir(SF0_01_DIR):
        pytest.skip(
            "oracle returns no rows at the test SF and sf0.01 inputs are not"
            f" present ({SF0_01_DIR})"
        )
    con = duck_connect(SF0_01_DIR)
    try:
        n = compare(qd.fn(spark, SF0_01_DIR), con, qd.oracle)
    finally:
        con.close()
    assert n > 0, f"{name}: oracle returns no rows at sf0.01 either"


def test_every_entry_has_an_oracle():
    assert ROWS_ONLY == []


@pytest.mark.skipif(
    not os.path.isdir(SF0_01_DIR), reason=f"sf0.01 inputs not present next to the test SF ({SF0_01_DIR})"
)
@pytest.mark.parametrize("name", CEP_MATCHING_AT_SF0_01)
def test_oracle_parity_nonempty_at_sf0_01(spark, name):
    qd = REGISTRY[name]
    con = duck_connect(SF0_01_DIR)
    try:
        n = compare(qd.fn(spark, SF0_01_DIR), con, qd.oracle)
    finally:
        con.close()
    assert n > 0, f"{name}: oracle returns no rows at sf0.01"
