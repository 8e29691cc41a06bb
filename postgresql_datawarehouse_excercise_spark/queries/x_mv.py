"""Extension: SQL-text MV rewrite on the driver gate (mv/sql_rewrite.py).

The reference's View2 decision (assignment-5.md:626-632: answer the
customer-year report from the narrower materialization) executed END TO END
from SQL text: build the MV stack, publish the denormalized star view, hand
``spark.sql``-able text to the rewriter, and return the rewritten result.
The entry RAISES if the rewrite did not happen, so a green driver row proves
both the rewrite fired (plan reads the view2 parquet, not the fact) and
that its values hash-match the relationally-stated DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog, session
from ..etl.sales_fact import ORACLE_SALES_CTE
from ..functions import money
from ..mv import sql_rewrite
from ..mv.definitions import default_navigator, default_registry, with_count_stats
from . import query
from .q4_views import _VIEW2_CTE

_TEXT = "SELECT name, year, SUM(amnt) AS amnt FROM sales_star GROUP BY name, year"

_TEXT_MULTI = """SELECT name, year, SUM(amnt) AS total_amnt, COUNT(*) AS n_rows,
       AVG(amnt) AS avg_amnt, MAX(amnt) AS max_amnt
FROM sales_star WHERE year >= 1996 GROUP BY name, year
HAVING COUNT(*) > 1 ORDER BY total_amnt DESC, name, year LIMIT 100"""


def _rewrite_entry(
    spark: SparkSession,
    sf_dir: str,
    text: str,
    target: str,
    shape: list,
    publish=sql_rewrite.register_star_view,
    view_name: str = sql_rewrite.STAR_VIEW,
) -> DataFrame:
    """Answer SQL `text` through the rewriter from a scratch warehouse that
    holds only the `target` MV's dependency chain, after `publish`
    registered the relation the text reads; RAISES unless the rewrite
    landed on `target`.  The result is selected as `shape` and
    materialized before the warehouse is dropped."""
    reg = default_registry(session.scratch("pdwx-sqlrw-"))
    if target not in reg.defs:
        with_count_stats(reg)
    try:
        for name in ("time", "sales", target):
            reg.build(spark, sf_dir, name)
        nav = default_navigator(reg)
        publish(spark, sf_dir)
        explain: list[str] = []
        df = sql_rewrite.spark_sql(
            spark, sf_dir, text, reg, nav, view_name=view_name, explain=explain
        )
        if not any(f"rewriting onto MV '{target}'" in e for e in explain):
            raise AssertionError(f"MV rewrite onto {target!r} did not fire: {explain}")
        return df.select(*shape).transform(session.materialize, "result")
    finally:
        reg.drop_all(spark)


@query(
    "x_mv_sql_rewrite",
    oracle=f"""WITH {_VIEW2_CTE}
SELECT name, year, CAST(ROUND(SUM(sum_d), 2) AS DOUBLE) AS amnt
FROM view2 GROUP BY name, year
""",
)
def x_mv_sql_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL text answered from an MV: the analyzed-plan matcher routes the
    star-view aggregate onto view2 (cheapest sufficient materialization),
    and the result must equal the query's relational statement."""
    return _rewrite_entry(
        spark, sf_dir, _TEXT, "view2", ["name", "year", money(F.col("amnt")).alias("amnt")]
    )


@query(
    "x_mv_sql_rewrite_multi",
    oracle=f"""WITH {ORACLE_SALES_CTE},
time_y AS (
  SELECT CAST(row_number() OVER (ORDER BY orderdate) AS BIGINT) AS timeid,
         CAST(year(orderdate) AS BIGINT) AS year
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS orderdate FROM orders)
),
star AS (
  SELECT c.c_name AS name, t.year, s.amnt
  FROM sales s
  JOIN customer c ON s.customerid = c.c_custkey
  JOIN time_y t ON s.timeid = t.timeid
  WHERE t.year >= 1996
),
g AS (
  SELECT name, year, SUM(amnt) AS sum_d, COUNT(*) AS cnt,
         CAST(SUM(amnt) * 10000 AS BIGINT) AS s4,
         MAX(amnt) AS max_d
  FROM star GROUP BY name, year HAVING COUNT(*) > 1
)
SELECT name, year,
       CAST(ROUND(sum_d, 2) AS DOUBLE) AS total_amnt,
       cnt AS n_rows,
       CAST((2 * s4 * 10000 + cnt) // (2 * cnt) AS DOUBLE) / 100000000.0 AS avg_amnt,
       CAST(ROUND(max_d, 2) AS DOUBLE) AS max_amnt
FROM g
ORDER BY sum_d DESC, name, year
LIMIT 100
""",
)
def x_mv_sql_rewrite_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure SQL text (SUM + COUNT(*) + AVG with WHERE / HAVING /
    ORDER BY / LIMIT) answered from the count-bearing view2 twin: AVG
    re-derives as SUM(sum)/SUM(cnt) bit-identically to direct execution
    (correctly-rounded decimal quotient -- see mv/sql_rewrite.py), and the
    oracle replicates that rounding with exact integer arithmetic
    ((2*S*10^4 + C) // (2*C) = half-up at scale 8 for positive sums)."""
    return _rewrite_entry(
        spark,
        sf_dir,
        _TEXT_MULTI,
        "view2_stats",
        [
            "name",
            "year",
            money(F.col("total_amnt")).alias("total_amnt"),
            "n_rows",
            F.col("avg_amnt").cast("double").alias("avg_amnt"),
            money(F.col("max_amnt")).alias("max_amnt"),
        ],
    )


_TEXT_JOIN = """SELECT customerid, SUM(amnt) AS spending
FROM sales NATURAL JOIN time WHERE year = 1997 GROUP BY customerid"""


@query(
    "x_mv_sql_rewrite_join",
    oracle=f"""WITH {ORACLE_SALES_CTE},
time_y AS (
  SELECT CAST(row_number() OVER (ORDER BY orderdate) AS BIGINT) AS timeid,
         CAST(year(orderdate) AS BIGINT) AS year
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS orderdate FROM orders)
)
SELECT customerid, CAST(ROUND(SUM(amnt), 2) AS DOUBLE) AS spending
FROM sales JOIN time_y USING (timeid)
WHERE year = 1997 GROUP BY customerid
""",
)
def x_mv_sql_rewrite_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-shaped SQL text answered from an MV: the reference user writes
    `FROM sales NATURAL JOIN time` (the assignment's own formulation, not
    the pre-joined star view); the matcher recognizes the fact-dimension
    equi-join tree (time attaches 1:1 on its unique surrogate key), strips
    the leaf qualifiers from the rendered WHERE, and answers from the
    cheapest sufficient MV.  The entry RAISES unless the rewrite fired."""
    return _rewrite_entry(
        spark,
        sf_dir,
        _TEXT_JOIN,
        "view2",
        ["customerid", money(F.col("spending")).alias("spending")],
        publish=catalog.register_views,
    )


_TEXT_DISTINCT = """SELECT year, COUNT(DISTINCT customerid) AS n_customers,
       SUM(amnt) AS total FROM sales_star GROUP BY year ORDER BY year"""


@query(
    "x_mv_sql_rewrite_distinct",
    oracle=f"""WITH {ORACLE_SALES_CTE},
time_y AS (
  SELECT CAST(row_number() OVER (ORDER BY orderdate) AS BIGINT) AS timeid,
         CAST(year(orderdate) AS BIGINT) AS year
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS orderdate FROM orders)
)
SELECT year, CAST(COUNT(DISTINCT customerid) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(amnt), 2) AS DOUBLE) AS total
FROM sales JOIN time_y USING (timeid)
GROUP BY year ORDER BY year
""",
)
def x_mv_sql_rewrite_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) answered from an MV: generally NOT additively
    re-aggregable (the HLL sketch rollup is the approximate fallback), but
    customerid is part of view2's GRAIN -- the MV holds every distinct
    (customer, year) combination once, so the per-year distinct customer
    count re-derives exactly.  The entry RAISES unless the rewrite fired."""
    return _rewrite_entry(
        spark,
        sf_dir,
        _TEXT_DISTINCT,
        "view2",
        ["year", "n_customers", money(F.col("total")).alias("total")],
    )


_TEXT_EXPR = """SELECT year, SUM(quantity * price) AS revenue,
       SUM(CASE WHEN dayofweek = 'Saturday' THEN quantity * price ELSE 0 END) AS sat_revenue
FROM sales_lines WHERE year >= 1996 GROUP BY year ORDER BY year"""


@query(
    "x_mv_sql_rewrite_expr",
    oracle="""
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS year,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       CAST(ROUND(SUM(CASE WHEN dayname(CAST(o_orderdate AS DATE)) = 'Saturday'
                           THEN CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))
                           ELSE 0 END), 2) AS DOUBLE) AS sat_revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE year(CAST(o_orderdate AS DATE)) >= 1996
GROUP BY 1 ORDER BY year
""",
)
def x_mv_sql_rewrite_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPRESSION-valued measures answered from an MV: SQL text over the
    LINE-grain star stating SUM(quantity * price) -- the reference's own
    fact measure (assignment-5.sql:75) -- plus a conditional
    SUM(CASE WHEN dayofweek='Saturday' ...) rewrites onto the
    expression-bearing view2 twin.  The matcher canonicalizes the measure
    expression through the analyzer and requires an MV whose declared
    measure expr (MVDef.measure_exprs) canonicalizes identically; direct
    execution would join every order line to part/time/customer.  The
    entry RAISES unless the rewrite fired."""
    return _rewrite_entry(
        spark,
        sf_dir,
        _TEXT_EXPR,
        "view2_stats",
        [
            "year",
            money(F.col("revenue")).alias("revenue"),
            money(F.col("sat_revenue")).alias("sat_revenue"),
        ],
        publish=sql_rewrite.register_lines_view,
        view_name=sql_rewrite.LINES_VIEW,
    )


@query(
    "x_mv_sketch_rollup",
    oracle="""
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS year,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT date_trunc('month', CAST(o_orderdate AS DATE))) AS BIGINT)
         AS n_months,
       TRUE AS estimate_ok
FROM orders GROUP BY 1
""",
)
def x_mv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-bearing rollup: COUNT DISTINCT is NOT additive, so the MV
    navigator never rewrites it (mv/definitions.py measures) -- unless the
    materialization stores a MERGEABLE sketch.  Per-(year, month) HLL
    sketches of the customer set union-merge to the year grain, and the
    merged estimate must land within the sketch's error bound of the
    exact count (asserted; lgK=12 gives ~1.6% standard error, the gate
    allows 5%).  At 100 TB the monthly sketch MV is KB-per-group regardless
    of cardinality, and any coarser distinct-count query re-aggregates
    sketches instead of rescanning the fact -- the approximate analog of
    the additive-measure MV rewrite.  DataSketches HLL is deterministic
    for identical input, so the boolean gate is hash-stable; the oracle
    pins the exact counts."""
    t = catalog.load(spark, sf_dir)
    o = t.orders.select(
        F.year(F.col("o_orderdate").cast("date")).alias("year"),
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("month"),
        "o_custkey",
    )
    monthly = o.groupBy("year", "month").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    rolled = monthly.groupBy("year").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).alias("n_months"),
    )
    exact = o.groupBy("year").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return rolled.join(exact, "year").select(
        "year",
        "exact_distinct",
        "n_months",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            < 0.05
        ).alias("estimate_ok"),
    )


_CATALYST_ORACLE = """
WITH mv AS (
  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS orderdate,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS spending
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
)
SELECT custkey,
       CAST(ROUND(SUM(CAST(spending AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS total_spending
FROM mv GROUP BY 1
"""


@query("x_mv_catalyst_rewrite", oracle=_CATALYST_ORACLE)
def x_mv_catalyst_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPILED Catalyst MV-rewrite rule (SURVEY section 4 option b,
    the deferred stretch goal): pdwx.MvSubstituteRule -- a real
    org.apache.spark.sql.catalyst.rules.Rule written in Java, compiled at
    first use against the installed Spark jars (no Scala toolchain
    needed: Catalyst's rule API is JVM API), loaded into the LIVE driver
    JVM and installed through spark.experimental.extraOptimizations,
    Spark's documented hook for user optimizer rules on a running
    session.

    The demonstration is the reference's own View2 decision executed at
    the PLAN level: a per-(customer, orderdate) spending MV materializes
    to parquet; the user query is the per-customer roll-up written
    ENTIRELY against the base tables (orders join lineitem, two stacked
    aggregates); the rule matches the embedded defining subtree with
    Catalyst's own sameResult (the CacheManager mechanism) and swaps in
    the MV scan with an ExprId-preserving Project -- the surrounding
    Aggregate then re-aggregates the MV, i.e. aggregate NAVIGATION falls
    out of subtree substitution with zero aggregate-rewriting logic.
    The entry RAISES unless the rule actually fired (hits >= 1) AND the
    executed plan no longer scans lineitem -- a green driver row
    therefore proves the rewrite happened and preserved values against
    the relationally-stated DuckDB oracle (which, as everywhere, states
    the semantics over the base tables: rewrite-preserves-semantics IS
    the gated claim).

    Runs in a fresh spark.newSession() so the driver's session is never
    mutated; the rule set is restored even on that session (the
    `installed` context manager).  The pure-Python RewritingSession
    entries (x_mv_sql_rewrite*) remain the text-layer mirror of the same
    methodology."""
    from .. import catalyst as cat
    from ..functions import dec

    s2 = spark.newSession()
    t = catalog.load(s2, sf_dir)
    defining = (
        t.orders.join(
            t.lineitem, F.col("o_orderkey") == F.col("l_orderkey")
        )
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
        )
        .agg(money(F.sum(dec("l_extendedprice"))).alias("spending"))
    )
    mv_path = session.scratch("pdwx-mvcat-") + "/customer_day_spending.parquet"
    defining.write.mode("overwrite").parquet(mv_path)
    replacement = s2.read.parquet(mv_path)

    rule = cat.load_rule(s2)
    cat.register_mv(rule, defining, replacement)
    with cat.installed(s2, rule):
        user = (
            t.orders.join(
                t.lineitem, F.col("o_orderkey") == F.col("l_orderkey")
            )
            .groupBy(
                F.col("o_custkey").alias("custkey"),
                F.col("o_orderdate").cast("date").alias("orderdate"),
            )
            .agg(money(F.sum(dec("l_extendedprice"))).alias("spending"))
            .groupBy("custkey")
            .agg(money(F.sum(dec("spending"))).alias("total_spending"))
        )
        # materialize UNDER the rule; the returned frame reads the
        # checkpoint, so the driver's later collect is rewrite-independent
        out = session.materialize(user, "result")
        plan = user._jdf.queryExecution().executedPlan().toString()
    if rule.hits() < 1:
        raise AssertionError("catalyst MV rule did not fire")
    if "lineitem" in plan:
        raise AssertionError(
            "executed plan still scans lineitem after MV substitution"
        )
    return out


_CATALYST_FD_ORACLE = """
SELECT r_name AS country,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS spending
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


@query("x_mv_catalyst_rewrite_fd", oracle=_CATALYST_FD_ORACLE)
def x_mv_catalyst_rewrite_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Q4b View3 FD rescue executed at the COMPILED
    Catalyst-rule layer (VERDICT r14 item 3): a per-country rollup
    written ENTIRELY against the base tables is answered from the
    per-DISTRICT materialization plus a district->country BRIDGE --
    the functional-dependency hierarchy rewrite
    (assignment-5.md:822-825, assignment-5.sql:465-469) that plain
    subtree substitution cannot see, because `country` is not in the
    MV's output.

    Mechanism (catalyst.register_fd_rollup): the FD reasoning runs at
    REGISTRATION time -- the bridge (itself a materialized dimension MV:
    SELECT DISTINCT district, country) is verified functional, else the
    join would double-count; the bridged re-aggregate becomes the
    REPLACEMENT plan for a defining plan stating the country rollup
    over the base tables -- and plan-time matching stays Catalyst's own
    `sameResult`.  The substitution machinery is UNCHANGED java: the
    rule already takes arbitrary (defining, replacement) plan pairs.

    The entry RAISES unless the rule fired AND the executed plan scans
    neither the fact lineage (lineitem, orders) NOR the customer
    dimension -- both MV parquets replace them, which is strictly
    stronger than the reference's own rescue (its bridge re-scans the
    customer dimension at query time; here the bridge was materialized
    up front).  The DuckDB oracle states the one-level rollup over the
    BASE tables, so a green row proves the two-level FD rewrite is
    value-identical -- exact because district partials are 2-decimal
    DECIMAL sums that round-trip the parquet double losslessly."""
    from .. import catalyst as cat
    from ..functions import dec
    from .q4_views import _geo

    s2 = spark.newSession()
    t = catalog.load(s2, sf_dir)
    line = t.orders.join(
        t.lineitem, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(F.col("o_custkey").alias("customerid"), "l_extendedprice")
    geo = _geo(t)

    def lineage():
        return line.join(geo, "customerid").select(
            "district", "country", "l_extendedprice"
        )

    defining_fine = (
        lineage()
        .groupBy("district")
        .agg(money(F.sum(dec("l_extendedprice"))).alias("spending"))
    )
    scratch = session.scratch("pdwx-mvcatfd-")
    mv_path = scratch + "/district_spending.parquet"
    bridge_path = scratch + "/geo_bridge.parquet"
    defining_fine.write.mode("overwrite").parquet(mv_path)
    geo.select("district", "country").distinct().write.mode(
        "overwrite"
    ).parquet(bridge_path)
    mv_scan = s2.read.parquet(mv_path)
    bridge_scan = s2.read.parquet(bridge_path)

    defining_coarse = (
        lineage()
        .groupBy("country")
        .agg(money(F.sum(dec("l_extendedprice"))).alias("spending"))
    )
    rule = cat.load_rule(s2)
    cat.register_fd_rollup(
        rule,
        defining_coarse,
        mv_scan,
        bridge_scan,
        "district",
        "country",
        lambda bridged: bridged.groupBy("country").agg(
            money(F.sum(dec("spending"))).alias("spending")
        ),
    )
    with cat.installed(s2, rule):
        user = (
            lineage()
            .groupBy("country")
            .agg(money(F.sum(dec("l_extendedprice"))).alias("spending"))
        )
        out = session.materialize(user, "result")
        plan = user._jdf.queryExecution().executedPlan().toString()
    if rule.hits() < 1:
        raise AssertionError("catalyst FD rollup rule did not fire")
    for banned in ("lineitem", "orders", "customer"):
        if banned in plan:
            raise AssertionError(
                f"executed plan still scans {banned} after the FD rewrite"
            )
    return out
