"""session.materialize / session.job_label: the one way package code pins a
reused relation, and the label its jobs carry in the status store."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark.session import JOB_DESCRIPTION, materialize


def _job_ids(sc) -> set[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _descriptions(sc, job_ids) -> set[str]:
    store = sc._jsc.sc().statusStore()
    return {store.job(j).description().getOrElse(None) for j in job_ids}


def test_materialize_labels_its_job_and_restores_the_outer_description(spark):
    sc = spark.sparkContext
    sc.setJobDescription("outer")
    try:
        before = _job_ids(sc)
        eager = materialize(spark.range(10), "probe_label")
        started = _job_ids(sc) - before
        assert started
        assert _descriptions(sc, started) == {"outer:probe_label"}
        assert sc.getLocalProperty(JOB_DESCRIPTION) == "outer"

        with pytest.raises(Exception, match="boom"):
            materialize(spark.range(1).select(F.raise_error(F.lit("boom"))), "failing")
        assert sc.getLocalProperty(JOB_DESCRIPTION) == "outer"

        before = _job_ids(sc)
        lazy = materialize(spark.range(10), "lazy_label", eager=False)
        assert _job_ids(sc) == before
        assert eager.count() == lazy.count() == 10
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, None)


def test_materialize_without_outer_description_uses_the_bare_label(spark):
    sc = spark.sparkContext
    assert sc.getLocalProperty(JOB_DESCRIPTION) is None
    before = _job_ids(sc)
    materialize(spark.range(10), "probe_label")
    assert _descriptions(sc, _job_ids(sc) - before) == {"probe_label"}
    assert sc.getLocalProperty(JOB_DESCRIPTION) is None
