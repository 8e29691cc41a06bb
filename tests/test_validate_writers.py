"""Constraint validators (SURVEY.md §2-A7/§7.3-D10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog
from postgresql_datawarehouse_excercise_spark.etl import validate


def test_key_uniqueness_of_sales_fact(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    assert validate.duplicate_keys(t.sales(), ["customerid", "timeid", "partkey"]) == 0


def test_fk_coverage_orders_to_customer(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    assert validate.fk_orphans(t.orders, "o_custkey", t.customer, "c_custkey") == 0


def test_check_constraint_analog(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    assert validate.check_violations(t.lineitem, F.col("l_quantity") > 0) == 0
    # a deliberately false predicate reports every row
    n = t.region.count()
    assert validate.check_violations(t.region, F.lit(False)) == n


def test_assert_table_raises_with_all_problems(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    dup = t.region.unionAll(t.region)  # duplicate keys on purpose
    with pytest.raises(validate.ConstraintViolation) as exc:
        validate.assert_table(
            dup, "region", key=["r_regionkey"],
            checks={"impossible": F.lit(False)},
        )
    msg = str(exc.value)
    assert "duplicate key" in msg and "CHECK impossible" in msg


def test_one_pass_validator_matches_separate_checks(spark, sf_dir):
    """assert_table_one_pass must find the same violations the separate
    per-rule jobs find -- duplicates, NULLs, FK orphans -- and pass clean
    tables, all from its single aggregate action."""
    t = catalog.load(spark, sf_dir)
    # clean: nation has unique keys, no nulls, full region coverage
    validate.assert_table_one_pass(
        t.nation, "nation", key=["n_nationkey"],
        not_null=["n_nationkey", "n_name"],
        fks=[("n_regionkey", t.region, "r_regionkey")],
    )
    # dirty: duplicated keys + an FK orphan + a NULL, all reported together
    dirty = t.nation.unionAll(t.nation).withColumn(
        "n_regionkey",
        F.when(F.col("n_nationkey") == 0, F.lit(999)).otherwise(F.col("n_regionkey")),
    ).withColumn(
        "n_name",
        F.when(F.col("n_nationkey") == 1, F.lit(None)).otherwise(F.col("n_name")),
    )
    with pytest.raises(validate.ConstraintViolation) as exc:
        validate.assert_table_one_pass(
            dirty, "nation", key=["n_nationkey"],
            not_null=["n_name"],
            fks=[("n_regionkey", t.region, "r_regionkey")],
        )
    msg = str(exc.value)
    assert "duplicate key" in msg
    assert "NULLs" in msg
    assert "n_regionkey not covered" in msg

