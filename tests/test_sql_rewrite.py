"""SQL-text MV rewrite (mv/sql_rewrite.py): spark.sql queries over the star
view answered from materialized views, value- and schema-identical to direct
execution, with the rewrite visible in the physical plan (MV parquet scan,
no fact scan).

Extends the navigator's four reference checks (assignment-5.md:626-632) to
SQL TEXT via analyzed-plan matching -- SURVEY.md section 4 option (b), minus
the compiled-JVM extension rule (documented divergence in the module)."""

from __future__ import annotations

import pytest

from postgresql_datawarehouse_excercise_spark.mv import sql_rewrite
from postgresql_datawarehouse_excercise_spark.mv.definitions import (
    default_navigator,
    default_registry,
)


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    reg = default_registry(str(tmp_path_factory.mktemp("sqlrw")))
    reg.build_all(spark, sf_dir)
    nav = default_navigator(reg)
    sql_rewrite.register_star_view(spark, sf_dir)
    return reg, nav


def _run(spark, sf_dir, built, text):
    reg, nav = built
    explain: list[str] = []
    df = sql_rewrite.spark_sql(spark, sf_dir, text, reg, nav, explain=explain)
    return df, explain


def _assert_equivalent(spark, df, text):
    direct = spark.sql(text)
    assert df.schema == direct.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct.collect()))


def test_rewrites_customer_year_aggregate_onto_view2(spark, sf_dir, built):
    """The reference's View2 decision, reproduced from SQL text: a
    name/year SUM plans against the view2 parquet and never scans the
    fact."""
    text = "SELECT name, year, SUM(amnt) AS amnt FROM sales_star GROUP BY name, year"
    df, explain = _run(spark, sf_dir, built, text)
    assert any("view2" in e for e in explain), explain
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "view2" in plan
    assert "lineitem" not in plan and "orders" not in plan
    _assert_equivalent(spark, df, text)


def test_aliased_group_column_rewrites(spark, sf_dir, built):
    """`name AS customer` in the SELECT must re-alias in the rewritten
    result (regression: the rewrite used to emit only the source column and
    crash resolving the output alias)."""
    text = (
        "SELECT name AS customer, year, SUM(amnt) AS total "
        "FROM sales_star GROUP BY name, year"
    )
    df, explain = _run(spark, sf_dir, built, text)
    assert any("rewriting onto MV" in e for e in explain), explain
    assert df.columns == ["customer", "year", "total"]
    _assert_equivalent(spark, df, text)


def test_fd_bridge_rewrite_with_filter(spark, sf_dir, built):
    """country is reachable from view2's grain only via the FD bridge; the
    WHERE predicate re-applies at MV grain before re-aggregation."""
    text = (
        "SELECT district, SUM(amnt) AS amnt FROM sales_star "
        "WHERE country = 'ASIA' GROUP BY district"
    )
    df, explain = _run(spark, sf_dir, built, text)
    assert any("FD bridge" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


def test_time_fd_picks_cheapest_sufficient_mv(spark, sf_dir, built):
    text = "SELECT dayofweek, SUM(amnt) AS amnt FROM sales_star GROUP BY dayofweek"
    df, explain = _run(spark, sf_dir, built, text)
    assert any("rewriting onto MV" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


@pytest.fixture(scope="module")
def built_stats(spark, sf_dir, tmp_path_factory):
    """Registry extended with the count-bearing view2 twin (opt-in), making
    COUNT(*) / AVG / multi-measure texts navigable."""
    from postgresql_datawarehouse_excercise_spark.mv.definitions import with_count_stats

    reg = with_count_stats(default_registry(str(tmp_path_factory.mktemp("sqlrw-st"))))
    for name in ("time", "sales", "view2_stats"):
        reg.build(spark, sf_dir, name)
    nav = default_navigator(reg)
    sql_rewrite.register_star_view(spark, sf_dir)
    return reg, nav


def test_multi_measure_having_sort_limit_rewrites(spark, sf_dir, built_stats):
    """SUM + COUNT(*) + AVG with WHERE/HAVING/ORDER BY/LIMIT rewrites onto
    the count-bearing MV and is bit-identical to direct execution -- the
    AVG re-derivation (SUM(sum)/SUM(cnt) at widened quotient scale) must
    reproduce Spark's correctly-rounded decimal Average exactly, and the
    LIMIT must pick the same rows (ordered compare, not sorted)."""
    text = (
        "SELECT name, year, SUM(amnt) AS total_amnt, COUNT(*) AS n_rows, "
        "AVG(amnt) AS avg_amnt FROM sales_star WHERE year >= 1996 "
        "GROUP BY name, year HAVING COUNT(*) > 1 "
        "ORDER BY total_amnt DESC, name, year LIMIT 50"
    )
    df, explain = _run(spark, sf_dir, built_stats, text)
    assert any("view2_stats" in e for e in explain), explain
    direct = spark.sql(text)
    assert df.schema == direct.schema
    assert list(map(tuple, df.collect())) == list(map(tuple, direct.collect()))


def test_multi_measure_rewrite_scans_mv_not_fact(spark, sf_dir, built_stats):
    """The rewritten multi-measure plan must read the view2_stats parquet
    and never touch the fact lineage (no lineitem/orders scan)."""
    text = (
        "SELECT name, year, SUM(amnt) AS s, COUNT(*) AS n, AVG(amnt) AS a "
        "FROM sales_star GROUP BY name, year"
    )
    df, explain = _run(spark, sf_dir, built_stats, text)
    assert any("view2_stats" in e for e in explain), explain
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "view2_stats" in plan
    assert "lineitem" not in plan and "orders" not in plan


def test_hidden_sort_aggregate_rewrites(spark, sf_dir, built_stats):
    """ORDER BY AVG(amnt) where AVG is not in the SELECT list: the analyzer
    parks it as a hidden aggregate output behind a Project; the rewrite must
    reproduce the sort and then drop the hidden column."""
    text = (
        "SELECT name, SUM(amnt) AS s FROM sales_star "
        "GROUP BY name ORDER BY AVG(amnt) DESC, name LIMIT 10"
    )
    df, explain = _run(spark, sf_dir, built_stats, text)
    assert any("rewriting onto MV" in e for e in explain), explain
    direct = spark.sql(text)
    assert df.schema == direct.schema
    assert list(map(tuple, df.collect())) == list(map(tuple, direct.collect()))


def test_count_without_count_mv_executes_as_written(spark, sf_dir, built):
    """A COUNT(*) text is only navigable when some MV materializes a count
    column; the default (reference-only) stack has none, so the query must
    fall through to direct execution rather than mis-rewrite."""
    text = "SELECT name, COUNT(*) AS n FROM sales_star GROUP BY name"
    df, explain = _run(spark, sf_dir, built, text)
    assert any("executing as written" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


_MATRIX = [
    # (text, expect_rewrite) -- a sweep over group sets x measure mixes x
    # wrappers; every case must be value- and schema-identical to direct
    # execution whether or not the rewrite fires.
    ("SELECT year, SUM(amnt) AS s FROM sales_star GROUP BY year", True),
    ("SELECT district, year, SUM(amnt) AS s FROM sales_star GROUP BY district, year", True),
    # dayofweek is reachable only via timeid's FD, which the count-bearing
    # MV's grain does not carry -- a COUNT query on it must fall back
    ("SELECT dayofweek, COUNT(*) AS n FROM sales_star GROUP BY dayofweek", False),
    ("SELECT year, COUNT(*) AS n FROM sales_star GROUP BY year", True),
    ("SELECT year, AVG(amnt) AS a FROM sales_star GROUP BY year", True),
    ("SELECT year, SUM(amnt) AS s, AVG(amnt) AS a, COUNT(*) AS n "
     "FROM sales_star GROUP BY year", True),
    ("SELECT country, SUM(amnt) AS s FROM sales_star "
     "WHERE district <> 'JAPAN' GROUP BY country", True),
    ("SELECT year, COUNT(*) AS n FROM sales_star GROUP BY year "
     "HAVING SUM(amnt) > 1000 ORDER BY n DESC, year LIMIT 3", True),
    ("SELECT name AS who, year AS y, AVG(amnt) AS a FROM sales_star "
     "GROUP BY name, year ORDER BY a DESC, who, y LIMIT 9", True),
    # COUNT(DISTINCT grain-attr): the MV holds each grain combination once,
    # so distinct sets of grain attrs are preserved exactly
    ("SELECT year, COUNT(DISTINCT customerid) AS n FROM sales_star GROUP BY year",
     True),
    ("SELECT year, COUNT(DISTINCT name) AS n, SUM(amnt) AS s "
     "FROM sales_star GROUP BY year", True),
    # partkey is not in view2_stats's grain but IS in the sales MV's --
    # the navigator routes to the (bigger but sufficient) sales fact
    ("SELECT year, COUNT(DISTINCT partkey) AS n FROM sales_star GROUP BY year",
     True),
    # a MEASURE's distinct set is collapsed by the MV aggregation: no grain
    # carries amnt, so this must fall through
    ("SELECT year, COUNT(DISTINCT amnt) AS n FROM sales_star GROUP BY year",
     False),
    # max-of-max / min-of-min re-aggregate from the extrema measures
    ("SELECT year, MAX(amnt) AS m FROM sales_star GROUP BY year", True),
    ("SELECT year, MIN(amnt) AS lo, MAX(amnt) AS hi, AVG(amnt) AS a, "
     "COUNT(*) AS n, SUM(amnt) AS s FROM sales_star GROUP BY year", True),
    # not navigable: measure expression, distinct, non-re-aggregable agg
    ("SELECT year, SUM(amnt * 2) AS s FROM sales_star GROUP BY year", False),
    ("SELECT year, SUM(DISTINCT amnt) AS s FROM sales_star GROUP BY year", False),
    ("SELECT year, stddev(amnt) AS sd FROM sales_star GROUP BY year", False),
    # value-semantics-changing casts must NOT match: string ordering under
    # MAX differs from numeric, and double accumulation under SUM diverges
    # at the ULP level from the MV's exact-decimal sum
    ("SELECT year, MAX(CAST(amnt AS STRING)) AS m FROM sales_star GROUP BY year",
     False),
    ("SELECT year, SUM(CAST(amnt AS DOUBLE)) AS s FROM sales_star GROUP BY year",
     False),
]


def _norm_row(row) -> tuple:
    # double-valued aggregates (stddev) accumulate in partition order, which
    # legitimately varies between two DIRECT executions of the same text
    # (AQE coalescing); round floats so the compare tests VALUES, not ULPs.
    # Exact types (int/Decimal/str) pass through untouched.
    return tuple(round(v, 6) if isinstance(v, float) else v for v in row)


@pytest.mark.parametrize("text,expect_rewrite", _MATRIX)
def test_rewrite_equivalence_matrix(spark, sf_dir, built_stats, text, expect_rewrite):
    """Matrix sweep: the rewriter must be value- and schema-transparent on
    every navigable shape, and must fall back (not mis-rewrite) on every
    non-navigable one."""
    df, explain = _run(spark, sf_dir, built_stats, text)
    fired = any("rewriting onto MV" in e for e in explain)
    assert fired == expect_rewrite, (text, explain)
    direct = spark.sql(text)
    assert df.schema == direct.schema, text
    if "LIMIT" in text:
        assert list(map(_norm_row, df.collect())) == list(map(_norm_row, direct.collect())), text
    else:
        assert sorted(map(_norm_row, df.collect())) == sorted(map(_norm_row, direct.collect())), text


def test_subquery_where_falls_back_not_crashes(spark, sf_dir, built):
    """A WHERE containing a subquery cannot round-trip through render-SQL;
    the rewrite must fall back to direct execution, never raise."""
    text = (
        "SELECT name, SUM(amnt) AS s FROM sales_star "
        "WHERE year IN (SELECT 1996) GROUP BY name"
    )
    df, explain = _run(spark, sf_dir, built, text)
    assert any("executing as written" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


def test_count_null_literal_not_matched_as_count_star(spark, sf_dir, built_stats):
    """COUNT(NULL) is 0 per group, not the row count; the matcher must not
    rewrite it onto the count measure."""
    text = "SELECT name, COUNT(NULL) AS n FROM sales_star GROUP BY name"
    df, explain = _run(spark, sf_dir, built_stats, text)
    assert any("executing as written" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


@pytest.fixture(scope="module")
def built_lines(spark, sf_dir, built_stats):
    """built_stats registry + the LINE-grain star view registered, enabling
    expression-valued measure texts (SUM(quantity*price), SUM(CASE...))."""
    sql_rewrite.register_lines_view(spark, sf_dir)
    return built_stats


def _run_lines(spark, sf_dir, built_lines, text):
    reg, nav = built_lines
    explain: list[str] = []
    df = sql_rewrite.spark_sql(
        spark, sf_dir, text, reg, nav,
        view_name=sql_rewrite.LINES_VIEW, explain=explain,
    )
    return df, explain


_EXPR_MATRIX = [
    # expression-valued measures over the LINE-grain star: navigable iff an
    # MV declares the canonically-identical expression (measure_exprs)
    ("SELECT year, SUM(quantity * price) AS revenue "
     "FROM sales_lines GROUP BY year", True),
    # whitespace / formatting differences canonicalize away
    ("SELECT year, SUM(quantity*price) AS revenue "
     "FROM sales_lines GROUP BY year", True),
    ("SELECT year, SUM(quantity * price) AS r, "
     "SUM(CASE WHEN dayofweek = 'Saturday' THEN quantity * price ELSE 0 END) AS sat "
     "FROM sales_lines WHERE year >= 1996 GROUP BY year "
     "ORDER BY year LIMIT 10", True),
    # FD-bridged group attr with an expression measure
    ("SELECT country, SUM(quantity * price) AS r "
     "FROM sales_lines GROUP BY country", True),
    # ROW-DOMAIN GUARD: the line-grain view has finer rows than any MV's
    # count column counts (order lines collapse into sales-grain rows), so
    # COUNT(*) / AVG over it must fall through -- a SUM(cnt) re-derivation
    # would divide by the WRONG row count
    ("SELECT year, AVG(quantity * price) AS avg_rev "
     "FROM sales_lines GROUP BY year", False),
    ("SELECT year, COUNT(*) AS n FROM sales_lines GROUP BY year", False),
    ("SELECT year, SUM(quantity * price) AS s, COUNT(*) AS n "
     "FROM sales_lines GROUP BY year", False),
    # grain-indifferent kinds stay navigable from the lines view
    ("SELECT year, COUNT(DISTINCT customerid) AS n, SUM(quantity * price) AS s "
     "FROM sales_lines GROUP BY year", True),
    # non-matching expressions MUST fall through, never mis-rewrite
    ("SELECT year, SUM(quantity * quantity) AS qq "
     "FROM sales_lines GROUP BY year", False),
    ("SELECT year, SUM(quantity * price * 2) AS r2 "
     "FROM sales_lines GROUP BY year", False),
    ("SELECT year, SUM(CASE WHEN dayofweek = 'Sunday' THEN quantity * price "
     "ELSE 0 END) AS sun FROM sales_lines GROUP BY year", False),
    # a WHERE on a line-grain attr (not reachable from any MV grain) blocks
    ("SELECT year, SUM(quantity * price) AS r FROM sales_lines "
     "WHERE quantity > 5 GROUP BY year", False),
]


@pytest.mark.parametrize("text,expect_rewrite", _EXPR_MATRIX)
def test_expression_measure_matrix(spark, sf_dir, built_lines, text, expect_rewrite):
    """Expression-measure sweep: SUM(a*b) / SUM(CASE...) texts rewrite onto
    the MV stack when the canonicalized expression matches a declared
    measure expr, and fall through (value-identically) otherwise."""
    df, explain = _run_lines(spark, sf_dir, built_lines, text)
    fired = any("rewriting onto MV" in e for e in explain)
    assert fired == expect_rewrite, (text, explain)
    direct = spark.sql(text)
    assert df.schema == direct.schema, text
    if "LIMIT" in text:
        assert list(map(tuple, df.collect())) == list(map(tuple, direct.collect())), text
    else:
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct.collect())), text


def test_expression_measure_scans_mv_not_fact(spark, sf_dir, built_lines):
    """The rewritten SUM(quantity*price) plan must read MV parquet, never
    the line-grain fact lineage."""
    text = "SELECT year, SUM(quantity * price) AS r FROM sales_lines GROUP BY year"
    df, explain = _run_lines(spark, sf_dir, built_lines, text)
    assert any("rewriting onto MV" in e for e in explain), explain
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan and "part.parquet" not in plan


def test_measure_alias_colliding_with_group_falls_back(spark, sf_dir, built_stats):
    """`SELECT year, SUM(amnt) AS year` makes the shaped re-select ambiguous;
    the matcher must refuse (duplicate output names) so the text executes as
    written instead of raising (ADVICE regression)."""
    text = "SELECT year, SUM(amnt) AS year FROM sales_star GROUP BY year"
    df, explain = _run(spark, sf_dir, built_stats, text)
    assert any("executing as written" in e for e in explain), explain
    direct = spark.sql(text)
    assert df.schema == direct.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, direct.collect()))


def test_swap_renamed_group_columns_stay_order_correct(spark, sf_dir, built_stats):
    """Swap-renames (`name AS year, year AS name ... ORDER BY year`) must
    order by the OUTPUT alias exactly as direct execution does -- whether the
    rewrite fires or bails, the ordered result is identical (ADVICE
    regression; tie-broken ORDER BY so the compare is deterministic)."""
    for text in (
        "SELECT name AS year, year AS name, SUM(amnt) AS s FROM sales_star "
        "GROUP BY name, year ORDER BY year, name, s LIMIT 7",
        "SELECT name AS year, year AS name, SUM(amnt) AS s FROM sales_star "
        "GROUP BY name, year HAVING COUNT(*) >= 0 ORDER BY year, name, s LIMIT 7",
    ):
        df, _explain = _run(spark, sf_dir, built_stats, text)
        direct = spark.sql(text)
        assert df.schema == direct.schema
        assert list(map(tuple, df.collect())) == list(map(tuple, direct.collect())), text


@pytest.fixture(scope="module")
def built_views(spark, sf_dir, built_stats):
    """built_stats registry + the catalog views registered, enabling the
    reference's own JOIN-shaped texts (FROM sales NATURAL JOIN time)."""
    from postgresql_datawarehouse_excercise_spark import catalog

    catalog.register_views(spark, sf_dir)
    return built_stats


_JOIN_MATRIX = [
    # the reference's NATURAL JOIN formulation and its explicit-ON twin
    ("SELECT customerid, SUM(amnt) AS spending FROM sales NATURAL JOIN time "
     "WHERE year = 1997 GROUP BY customerid", True),
    ("SELECT year, SUM(amnt) AS s FROM sales JOIN time "
     "ON sales.timeid = time.timeid WHERE year >= 1996 GROUP BY year "
     "HAVING COUNT(*) > 2 ORDER BY s DESC LIMIT 5", True),
    # FD-bridged groups over the join shape
    ("SELECT dayofweek, SUM(amnt) AS s FROM sales NATURAL JOIN time "
     "GROUP BY dayofweek", True),
    ("SELECT year, COUNT(DISTINCT customerid) AS n FROM sales NATURAL JOIN time "
     "GROUP BY year", True),
    # a WHERE literal containing 'time.' must survive qualifier stripping
    ("SELECT year, SUM(amnt) AS s FROM sales NATURAL JOIN time "
     "WHERE dayofweek != 'time.x' GROUP BY year", True),
    # cross-name equi condition is NOT the star attachment: fall through
    ("SELECT year, SUM(amnt) AS s FROM sales JOIN time "
     "ON sales.timeid = time.timeid AND sales.customerid = time.year "
     "GROUP BY year", False),
    # joins of other registered views are never matched
    ("SELECT o_orderpriority, COUNT(*) AS n FROM orders JOIN lineitem "
     "ON o_orderkey = l_orderkey GROUP BY o_orderpriority", False),
    # TAUTOLOGY GUARD: a same-side equality passes the name test but is a
    # filtered cross join, not the star attachment -- rewriting it would
    # silently change semantics, so it MUST fall through (and the
    # value-equality assertion below proves the cross-join result)
    ("SELECT year, SUM(amnt) AS s FROM sales JOIN time "
     "ON sales.timeid = sales.timeid GROUP BY year", False),
]


@pytest.mark.parametrize("text,expect_rewrite", _JOIN_MATRIX)
def test_join_text_rewrite_matrix(spark, sf_dir, built_views, text, expect_rewrite):
    """JOIN-shaped texts (the reference's own FROM sales NATURAL JOIN time
    formulation) rewrite onto the MV stack; non-star join shapes fall
    through value-identically."""
    df, explain = _run(spark, sf_dir, built_views, text)
    fired = any("rewriting onto MV" in e for e in explain)
    assert fired == expect_rewrite, (text, explain)
    direct = spark.sql(text)
    assert df.schema == direct.schema, text
    if "LIMIT" in text:
        assert list(map(_norm_row, df.collect())) == list(map(_norm_row, direct.collect())), text
    else:
        assert sorted(map(_norm_row, df.collect())) == sorted(map(_norm_row, direct.collect())), text


def test_avg_headroom_guard_falls_back_on_huge_sums(spark, sf_dir, tmp_path):
    """The AVG re-derivation's decimal(38, s_out+12) cast leaves ~18 integer
    digits; an MV whose sums approach that must fall back to direct
    execution instead of silently returning NULL / last-digit-divergent
    averages (ADVICE regression).  A small-valued twin proves the guard
    does not fire spuriously."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark.mv.navigator import AggregateNavigator
    from postgresql_datawarehouse_excercise_spark.mv.registry import MVDef, MVRegistry

    def scenario(view, amnt_values):
        rows = [(1996 + i % 2, v) for i, v in enumerate(amnt_values)]
        base = spark.createDataFrame(rows, "year BIGINT, amnt DECIMAL(38,4)")
        base.createOrReplaceTempView(view)
        reg = MVRegistry(str(tmp_path / view))
        reg.register(
            MVDef(
                "big",
                lambda t, dep, b=base: b.groupBy("year").agg(
                    F.sum("amnt").alias("amnt"),
                    F.count(F.lit(1)).alias("cnt"),
                ),
                frozenset({"year"}),
                {"amnt": "sum", "cnt": "count"},
            )
        )
        reg.build(spark, sf_dir, "big")
        nav = AggregateNavigator(reg)
        text = f"SELECT year, AVG(amnt) AS a FROM {view} GROUP BY year"
        explain: list[str] = []
        df = sql_rewrite.spark_sql(
            spark, sf_dir, text, reg, nav, view_name=view, explain=explain
        )
        try:
            direct = spark.sql(text)
            assert sorted(map(tuple, df.collect())) == sorted(
                map(tuple, direct.collect())
            ), (view, explain)
            return explain
        finally:
            reg.drop_all()

    huge = scenario("headroom_huge", [Decimal("6e19"), Decimal("7e19"),
                                      Decimal("5e19"), Decimal("8e19")])
    assert any("headroom" in e for e in huge), huge
    small = scenario("headroom_small", [Decimal("100.5"), Decimal("7.25"),
                                        Decimal("3.5"), Decimal("9.75")])
    assert any("rewriting onto MV" in e for e in small), small


def test_avg_guard_reads_the_bound_observed_at_commit(spark, sf_dir, tmp_path):
    """The AVG headroom bound comes from the MV's commit: building a
    small-valued AVG rewrite starts no Spark job before the result's own
    action.  A link-shared twin carries the same count and bounds, an MV
    without a bound executes as written, and drop_all forgets them."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark.mv.navigator import AggregateNavigator
    from postgresql_datawarehouse_excercise_spark.mv.registry import MVDef, MVRegistry

    rows = [(1996, Decimal("100.5")), (1997, Decimal("-7.25")), (1997, Decimal("3.5"))]
    base = spark.createDataFrame(rows, "year BIGINT, amnt DECIMAL(38,4)")
    base.createOrReplaceTempView("headroom_bound")

    def builder(t, dep):
        return base.groupBy("year").agg(
            F.sum("amnt").alias("amnt"), F.count(F.lit(1)).alias("cnt")
        )

    reg = MVRegistry(str(tmp_path / "wh"))
    measures = {"amnt": "sum", "cnt": "count"}
    reg.register(MVDef("small", builder, frozenset({"year"}), measures))
    reg.register(MVDef("twin", builder, frozenset({"year"}), measures, link_from="small"))
    try:
        reg.build(spark, sf_dir, "small")
        reg.build(spark, sf_dir, "twin")
        # |100.5| and |-7.25 + 3.5| rounded half-up to whole units: 101 + 4
        assert reg.bounds["small"] == {"amnt": Decimal(105), "cnt": 3}
        assert reg.stats["small"] == 2
        assert reg.bounds["twin"] == reg.bounds["small"]
        assert reg.stats["twin"] == reg.stats["small"]

        text = "SELECT year, AVG(amnt) AS a FROM headroom_bound GROUP BY year"
        sc = spark.sparkContext

        def rewrite() -> list[str]:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            before = set(sc.statusTracker().getJobIdsForGroup(None))
            explain: list[str] = []
            df = sql_rewrite.spark_sql(
                spark, sf_dir, text, reg, AggregateNavigator(reg),
                view_name="headroom_bound", explain=explain,
            )
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
            assert sorted(map(tuple, df.collect())) == sorted(
                map(tuple, spark.sql(text).collect())
            )
            return explain

        explain = rewrite()
        assert any("rewriting onto MV" in e for e in explain), explain
        committed = dict(reg.bounds)
        reg.bounds.clear()
        explain = rewrite()
        assert any("headroom not proven" in e for e in explain), explain
        reg.bounds.update(committed)
    finally:
        reg.drop_all()
    assert reg.bounds == {}


def test_count_distinct_grain_attr_rewrites_on_default_stack(spark, sf_dir, built):
    """COUNT(DISTINCT partkey) GROUP BY name: partkey is part of the sales
    MV's grain and name is FD-reachable, so even the reference-only stack
    answers it (distinct grain sets survive the MV aggregation)."""
    text = "SELECT name, COUNT(DISTINCT partkey) AS n FROM sales_star GROUP BY name"
    df, explain = _run(spark, sf_dir, built, text)
    assert any("rewriting onto MV" in e for e in explain), explain
    _assert_equivalent(spark, df, text)


def test_non_navigable_shapes_execute_as_written(spark, sf_dir, built):
    """COUNT(DISTINCT measure) has no grain to preserve its distinct set; a
    non-star FROM is not matched at all -- both must fall through."""
    for text in (
        "SELECT name, COUNT(DISTINCT amnt) AS n FROM sales_star GROUP BY name",
        "SELECT r_name, COUNT(*) AS n FROM {} GROUP BY r_name",
    ):
        if "{}" in text:
            import os

            spark.read.parquet(os.path.join(sf_dir, "region.parquet")).createOrReplaceTempView("region_v")
            text = text.format("region_v")
        df, explain = _run(spark, sf_dir, built, text)
        assert any("executing as written" in e for e in explain), explain
        _assert_equivalent(spark, df, text)


def test_rewriting_session_is_transparent(spark, sf_dir, built_views):
    """RewritingSession: .sql() on the proxy rewrites navigable texts onto
    the MV stack (plan reads MV parquet, never the fact) and executes
    everything else as written; all other SparkSession attributes
    delegate.  This is the user-facing transparency the
    spark.sql.extensions divergence note promises from pure Python."""
    reg, nav = built_views
    sess = sql_rewrite.RewritingSession(spark, sf_dir, reg, nav)

    text = "SELECT year, SUM(amnt) AS s FROM sales_star GROUP BY year"
    df = sess.sql(text)
    assert any("rewriting onto MV" in e for e in sess.last_explain)
    direct = spark.sql(text)
    assert df.schema == direct.schema
    assert sorted(map(_norm_row, df.collect())) == sorted(
        map(_norm_row, direct.collect())
    )

    # non-navigable text executes as written, same proxy
    other = sess.sql("SELECT COUNT(*) AS n FROM orders")
    assert any("executing as written" in e for e in sess.last_explain)
    assert other.collect() == spark.sql("SELECT COUNT(*) AS n FROM orders").collect()

    # attribute delegation: the proxy quacks like the session
    assert sess.createDataFrame([(1,)], "x int").count() == 1
    assert sess.conf.get("spark.sql.adaptive.enabled") is not None


# ---------------------------------------------------------------------------
# MV freshness (round-6 verdict "What's missing #1"): a base-table mutation
# after the MV build must flip the rewriter to direct execution until
# refresh(); the staleness check itself must cost zero Spark jobs.
# ---------------------------------------------------------------------------

_FRESH_TEXT = "SELECT name, year, SUM(amnt) AS amnt FROM sales_star GROUP BY name, year"


def test_stale_mv_declines_rewrite_until_refreshed(spark, sf_dir, tmp_path):
    """Mutate a base table after the build: the rewriter must DECLINE the
    (now stale) MV and execute directly against the mutated base — never
    serve a pre-mutation aggregate — then rewrite again after refresh()."""
    import os
    import shutil

    from postgresql_datawarehouse_excercise_spark import catalog

    tmp_sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, tmp_sf)
    reg = default_registry(str(tmp_path / "wh"))
    try:
        reg.build_all(spark, tmp_sf)
        nav = default_navigator(reg)
        sql_rewrite.register_star_view(spark, tmp_sf)

        explain: list[str] = []
        df = sql_rewrite.spark_sql(spark, tmp_sf, _FRESH_TEXT, reg, nav, explain=explain)
        assert any("rewriting onto MV" in e for e in explain), explain
        before = sorted(map(tuple, df.collect()))

        # base mutation: DELETE one order's lines (write-then-swap, the COW
        # shape every mutation here uses), then re-resolve views/caches
        lp = os.path.join(tmp_sf, "lineitem.parquet")
        line = spark.read.parquet(lp)
        victim = line.select("l_orderkey").first()[0]
        line.filter(f"l_orderkey <> {victim}").write.parquet(lp + "__new")
        os.remove(lp) if os.path.isfile(lp) else shutil.rmtree(lp)
        os.rename(lp + "__new", lp)
        catalog._TABLES_CACHE.clear()
        sql_rewrite.register_star_view(spark, tmp_sf)

        explain = []
        df2 = sql_rewrite.spark_sql(spark, tmp_sf, _FRESH_TEXT, reg, nav, explain=explain)
        assert any("stale" in e for e in explain), explain
        got = sorted(map(tuple, df2.collect()))
        direct = sorted(map(tuple, spark.sql(_FRESH_TEXT).collect()))
        assert got == direct
        assert got != before  # the mutation is visible, not the stale MV

        # refresh re-records the base snapshot: rewriting resumes, on the
        # NEW values
        reg.build_all(spark, tmp_sf)
        explain = []
        df3 = sql_rewrite.spark_sql(spark, tmp_sf, _FRESH_TEXT, reg, nav, explain=explain)
        assert any("rewriting onto MV" in e for e in explain), explain
        assert sorted(map(tuple, df3.collect())) == got
    finally:
        reg.drop_all(spark)
        catalog._TABLES_CACHE.clear()
        # restore the module-level star view other tests read
        sql_rewrite.register_star_view(spark, sf_dir)


def test_freshness_check_runs_no_spark_job(spark, sf_dir, built):
    """is_fresh is os.stat-only: the hot-path staleness check must launch
    ZERO Spark jobs (negative test from the round-6 verdict)."""
    reg, _nav = built
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    assert reg.is_fresh(sf_dir, "view2")
    assert not reg.is_fresh(sf_dir, "no_such_mv")
    jobs_after = set(tracker.getJobIdsForGroup(None))
    assert jobs_after == jobs_before
