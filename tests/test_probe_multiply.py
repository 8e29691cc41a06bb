"""scripts/probe.multiplied_dir: K copies of every scaling table with
foreign keys intact inside each copy, constant tables left at 1x; and the
probe's job counters."""

from __future__ import annotations

import shutil

import pytest

from postgresql_datawarehouse_excercise_spark import catalog, session
from postgresql_datawarehouse_excercise_spark.etl.validate import fk_orphans
from postgresql_datawarehouse_excercise_spark.streaming.events import _events_raw_schema
from scripts.probe import SCALING_KEYS, jobs_by_label, last_job_id, multiplied_dir

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


def test_job_counters_count_grouped_jobs_and_split_by_label(spark):
    # a job in a job group (as a streaming micro-batch runs) is counted,
    # and only materialize's labelled jobs appear per label
    sc = spark.sparkContext
    first = last_job_id(spark)
    with session.job_label("probe:t"):
        session.materialize(spark.range(10), "lbl")
        spark.range(3).collect()
        sc.setLocalProperty("spark.jobGroup.id", "probe-test-group")
        try:
            spark.range(4).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    last = last_job_id(spark)
    tracker = sc.statusTracker()
    grouped = set(tracker.getJobIdsForGroup("probe-test-group"))
    ungrouped = {j for j in tracker.getJobIdsForGroup(None) if j > first}
    assert grouped and last - first == len(grouped | ungrouped)
    labels = jobs_by_label(spark, first, last, "probe:t")
    assert set(labels) == {"lbl"} and labels["lbl"] >= 1
