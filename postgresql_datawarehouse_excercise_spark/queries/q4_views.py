"""Q4 -- the materialized-view stack and MV-answered queries.

Reference: /root/reference/assignment-5.sql:300-470.  View1 denormalizes the
star; View2 groups customer-year; View3 groups (district,day,book).  The same
report (best buyers / top country) is then answered from raw tables, from the
mart, and from each view -- the MV-rewrite methodology of SURVEY 2 J.

Driver-schema geography (FIXTURES.md section B): the reference's
city -> district -> country FD-hierarchy maps to
customer -> nation -> region, so "district" ~ n_name and "country" ~ r_name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..etl.sales_fact import ORACLE_SALES_CTE
from ..functions import cents_sum, money
from .q3_reports import _BEST_BUYERS_SQL, _best_buyers, _top5_buyers
from . import query

_W = f"WITH {ORACLE_SALES_CTE}"


def _view1(t: catalog.Tables) -> DataFrame:
    """sales + customer + nation + time denormalization (sql:300-310)."""
    sales = t.sales()
    cust = t.customer.select(
        F.col("c_custkey").alias("customerid"),
        F.col("c_name").alias("name"),
        "c_nationkey",
    )
    nation = t.nation.select("n_nationkey", F.col("n_name").alias("district"))
    tdim = t.time_dim().select("timeid", "dayofweek")
    return (
        sales.join(cust, "customerid")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(tdim), "timeid")
        .select("customerid", "name", "district", "timeid", "dayofweek", "partkey", "amnt")
    )


_VIEW1_CTE = f"""{ORACLE_SALES_CTE},
view1 AS (
  SELECT s.customerid, c.c_name AS name, n.n_name AS district,
         s.timeid, dayname(t.orderdate) AS dayofweek, s.partkey, s.amnt
  FROM sales s
  JOIN customer c ON s.customerid = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN time t ON s.timeid = t.timeid
)"""


@query(
    "q4_view1",
    oracle=f"""WITH {_VIEW1_CTE}
SELECT customerid, name, district, timeid, dayofweek, partkey,
       CAST(ROUND(amnt, 2) AS DOUBLE) AS amnt
FROM view1
""",
)
def q4_view1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View1: row-grain denormalized star (assignment-5.sql:300-310)."""
    t = catalog.load(spark, sf_dir)
    return _view1(t).withColumn("amnt", money(F.col("amnt")))


def _view2(t: catalog.Tables) -> DataFrame:
    """customer-year aggregate: customerid, name, year, sum (sql:313-321)."""
    sales = t.sales()
    cust = t.customer.select(
        F.col("c_custkey").alias("customerid"), F.col("c_name").alias("name")
    )
    tdim = t.time_dim().select("timeid", "year")
    return (
        sales.join(cust, "customerid")
        .join(F.broadcast(tdim), "timeid")
        .groupBy("customerid", "name", "year")
        .agg(F.sum("amnt").alias("sum_d"))
    )


_VIEW2_CTE = f"""{ORACLE_SALES_CTE},
time_y AS (
  SELECT CAST(row_number() OVER (ORDER BY orderdate) AS BIGINT) AS timeid,
         CAST(year(orderdate) AS BIGINT) AS year
  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS orderdate FROM orders)
),
view2 AS (
  SELECT s.customerid, c.c_name AS name, t.year, SUM(s.amnt) AS sum_d
  FROM sales s
  JOIN customer c ON s.customerid = c.c_custkey
  JOIN time_y t ON s.timeid = t.timeid
  GROUP BY 1, 2, 3
)"""


@query(
    "q4_view2",
    oracle=f"""WITH {_VIEW2_CTE}
SELECT customerid, name, year, CAST(ROUND(sum_d, 2) AS DOUBLE) AS sum_amnt
FROM view2
""",
)
def q4_view2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View2: per-(customer, year) spending (assignment-5.sql:313-321)."""
    t = catalog.load(spark, sf_dir)
    return _view2(t).select(
        "customerid", "name", "year", money(F.col("sum_d")).alias("sum_amnt")
    )


def view3(view1: DataFrame) -> DataFrame:
    """(district, day, book) aggregate of View1: drops the customer grain
    (sql:401-409)."""
    return view1.groupBy("district", "timeid", "dayofweek", "partkey").agg(
        F.sum("amnt").alias("sum_d")
    )


_VIEW3_CTE = f"""{_VIEW1_CTE},
view3 AS (
  SELECT district, timeid, dayofweek, partkey, SUM(amnt) AS sum_d
  FROM view1 GROUP BY 1, 2, 3, 4
)"""


@query(
    "q4_view3",
    oracle=f"""WITH {_VIEW3_CTE}
SELECT district, timeid, dayofweek, partkey, CAST(ROUND(sum_d, 2) AS DOUBLE) AS sum_amnt
FROM view3
""",
)
def q4_view3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View3: per-(district, day, part) spending (assignment-5.sql:401-409)."""
    t = catalog.load(spark, sf_dir)
    return view3(_view1(t)).select(
        "district", "timeid", "dayofweek", "partkey", money(F.col("sum_d")).alias("sum_amnt")
    )


# --- Q4a: best buyers answered from each target (sql:328-394) -------------

@query("q4a_best_buyers_raw", oracle=_BEST_BUYERS_SQL)
def q4a_best_buyers_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best buyers computed from the raw operational tables -- the 5-way join
    baseline (assignment-5.sql:330-346); bench contrast to the MV variants."""
    t = catalog.load(spark, sf_dir)

    line = t.lineitem.select("l_orderkey", "l_partkey", "l_quantity")
    ords = t.orders.select("o_orderkey", "o_custkey")
    prices = t.part.select("p_partkey", "p_retailprice")
    cust = t.customer.select(
        F.col("c_custkey").alias("customerid"), F.col("c_name").alias("name")
    )
    spend = (
        line.join(ords, line.l_orderkey == ords.o_orderkey)
        .join(prices, line.l_partkey == prices.p_partkey)
        .groupBy(F.col("o_custkey").alias("customerid"))
        .agg(cents_sum("l_quantity", "p_retailprice").alias("spending_d"))
    )
    return _top5_buyers(spend.join(cust, "customerid"))


@query("q4a_best_buyers_mart", oracle=_BEST_BUYERS_SQL)
def q4a_best_buyers_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best buyers from the sales mart (assignment-5.sql:350-363)."""
    return _best_buyers(spark, sf_dir)


@query("q4a_best_buyers_view1", oracle=_BEST_BUYERS_SQL)
def q4a_best_buyers_view1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best buyers from View1 (full fact grain + names already joined) --
    the join-elimination step of the MV ladder (assignment-5.sql:366-378)."""
    v1 = _view1(catalog.load(spark, sf_dir))
    return _top5_buyers(
        v1.groupBy("customerid", "name").agg(F.sum("amnt").alias("spending_d"))
    )


@query("q4a_best_buyers_view2", oracle=_BEST_BUYERS_SQL)
def q4a_best_buyers_view2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best buyers by re-aggregating View2's per-year sums -- the grouping-
    compatibility + aggregate-computability MV rewrite (assignment-5.sql:
    381-393, findings assignment-5.md:630-631)."""
    v2 = _view2(catalog.load(spark, sf_dir))
    return _top5_buyers(
        v2.groupBy("customerid", "name").agg(F.sum("sum_d").alias("spending_d"))
    )


# --- Q4b: top country answered from each target (sql:415-470) -------------

_TOP_COUNTRY_SQL = f"""{_W}
SELECT r.r_name AS country, CAST(ROUND(SUM(s.amnt), 2) AS DOUBLE) AS spending
FROM sales s
JOIN customer c ON s.customerid = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
ORDER BY SUM(s.amnt) DESC, r.r_name ASC
LIMIT 1
"""


def _geo(t: catalog.Tables) -> DataFrame:
    """customer -> nation -> region bridge (FD customerid->district->country)."""
    return (
        t.customer.select(F.col("c_custkey").alias("customerid"), "c_nationkey")
        .join(
            F.broadcast(t.nation.select("n_nationkey", F.col("n_name").alias("district"), "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region.select("r_regionkey", F.col("r_name").alias("country"))),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("customerid", "district", "country")
    )


def _top_country(df: DataFrame, bridge: DataFrame, key: str, measure: str) -> DataFrame:
    """The top-country report tail shared by every Q4b form: join `df` to a
    geo bridge carrying `country` on `key`, sum `measure` per country and
    keep the top one, country breaking ties."""
    return (
        df.join(bridge, key)
        .groupBy("country")
        .agg(F.sum(measure).alias("spending_d"))
        .orderBy(F.col("spending_d").desc(), F.col("country").asc())
        .limit(1)
        .select("country", money(F.col("spending_d")).alias("spending"))
    )


@query("q4b_top_country_raw", oracle=_TOP_COUNTRY_SQL)
def q4b_top_country_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country with the highest total spending, from raw operational tables
    (assignment-5.sql:415-429)."""
    t = catalog.load(spark, sf_dir)

    line = t.lineitem.select("l_orderkey", "l_partkey", "l_quantity")
    ords = t.orders.select("o_orderkey", "o_custkey")
    prices = t.part.select("p_partkey", "p_retailprice")
    per_cust = (
        line.join(ords, line.l_orderkey == ords.o_orderkey)
        .join(prices, line.l_partkey == prices.p_partkey)
        .groupBy(F.col("o_custkey").alias("customerid"))
        .agg(cents_sum("l_quantity", "p_retailprice").alias("amnt_d"))
    )
    return _top_country(per_cust, _geo(t), "customerid", "amnt_d")


@query("q4b_top_country_mart", oracle=_TOP_COUNTRY_SQL)
def q4b_top_country_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top country from the sales mart via FD customerid->country
    (assignment-5.sql:436-441, findings assignment-5.md:822-825).

    The reference query is ONE aggregate -- GROUP BY country over
    sales NATURAL JOIN customer -- so this plan is too: broadcast the geo
    bridge onto the fact rows and aggregate once (map-side partial leaves
    <= |countries| rows per partition before the only shuffle).  An earlier
    per-customer pre-aggregation added a second shuffle the reference
    doesn't have."""
    t = catalog.load(spark, sf_dir)
    geo = _geo(t).select("customerid", "country")
    return _top_country(t.sales(), geo, "customerid", "amnt")


@query("q4b_top_country_view2", oracle=_TOP_COUNTRY_SQL)
def q4b_top_country_view2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top country from View2 (customer grain preserved -> data-sufficiency
    rescued by the customerid->country FD; assignment-5.sql:448-453).

    Mirrors the reference's single GROUP BY country over
    View2 NATURAL JOIN customer: one broadcast join + one aggregate over
    the (customer, year)-grain view -- the smallest input of the three
    rewrite targets, which is exactly why the reference finds View2
    cheapest (assignment-5.md:779)."""
    t = catalog.load(spark, sf_dir)
    geo = _geo(t).select("customerid", "country")
    return _top_country(_view2(t), geo, "customerid", "sum_d")


@query("q4b_top_country_view3", oracle=_TOP_COUNTRY_SQL)
def q4b_top_country_view3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top country from View3 via the district->country dimension-hierarchy
    bridge (SELECT DISTINCT district, country), the Join-Compatibility
    rewrite (assignment-5.sql:461-469, findings assignment-5.md:825)."""
    t = catalog.load(spark, sf_dir)
    bridge = _geo(t).select("district", "country").distinct()
    return _top_country(view3(_view1(t)), F.broadcast(bridge), "district", "sum_d")
