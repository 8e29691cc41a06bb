"""session.materialize / session.job_label: the one way package code pins a
reused relation, and the label its jobs carry in the status store; the
session's generated-code cache keeps every compiled class of a working
set larger than Spark's default bound."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    JOB_DESCRIPTION,
    codegen_compiles,
    materialize,
)


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


def test_codegen_cache_keeps_a_working_set_above_the_spark_default(spark):
    # 75 queries with distinct generated code, two classes each: 150 cache
    # entries, over Spark's default bound of 100, under which the second
    # round recompiles all 150.  The engine's bound must keep them all.
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def one_round() -> None:
        for i in range(75):
            spark.range(10).selectExpr(f"id * {i + 2} + {i + 3} AS v").write.format(
                "noop"
            ).mode("overwrite").save()

    one_round()
    before = codegen_compiles(spark)
    one_round()
    assert codegen_compiles(spark) - before <= 5


def test_pipeline_compiles_once_whatever_its_codegen_stage_id(spark):
    # The right child of a union is planned after the left one, so the
    # same pipeline gets a different whole-stage codegen id there than
    # when it runs alone.  Its generated class must still be found in the
    # cache: only the class name would differ.
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    left = spark.range(50).selectExpr("id * 7919 + 104723 AS v")
    right = spark.range(60).selectExpr("id * 7907 + 104729 AS v").filter("v % 3 = 1")

    def run(df) -> int:
        before = codegen_compiles(spark)
        df.write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    assert run(left) > 0 and run(right) > 0
    assert run(left.unionByName(right)) == 0
