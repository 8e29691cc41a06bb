"""scripts/probe.multiplied_dir: K copies of every scaling table with
foreign keys intact inside each copy, constant tables left at 1x."""

from __future__ import annotations

import shutil

import pytest

from postgresql_datawarehouse_excercise_spark import catalog
from postgresql_datawarehouse_excercise_spark.etl.validate import fk_orphans
from postgresql_datawarehouse_excercise_spark.streaming.events import _events_raw_schema
from scripts.probe import SCALING_KEYS, multiplied_dir

K = 2


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    out = multiplied_dir(spark, sf_dir, K)
    yield catalog.load(spark, sf_dir), catalog.load(spark, out)
    shutil.rmtree(out)


def test_row_counts(tables):
    base, big = tables
    for name in catalog.TABLE_NAMES:
        factor = K if name in SCALING_KEYS else 1
        assert big.table(name).count() == factor * base.table(name).count(), name
    assert set(catalog.TABLE_NAMES) - set(SCALING_KEYS) == {"region", "nation", "supplier"}


@pytest.mark.parametrize(
    "child, child_col, parent, parent_col",
    [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
    ],
)
def test_foreign_keys_stay_inside_each_copy(tables, child, child_col, parent, parent_col):
    _, big = tables
    assert fk_orphans(big.table(child), child_col, big.table(parent), parent_col) == 0


def test_events_ts_layout_matches_the_source(tables):
    # the streaming entries pick their ts schema from the parquet footer
    base, big = tables
    assert _events_raw_schema(big.sf_dir)["ts"] == _events_raw_schema(base.sf_dir)["ts"]
