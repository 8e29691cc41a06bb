"""Q3 -- reports: best buyers (top-k) and the best-buyer order-percentage
chain (scalar MVs, semi-join, scalar cross-join, CASE banding).

Reference: /root/reference/assignment-5.sql:191-283.  Top-k queries append a
deterministic tie-break key (customerid) to ORDER BY on BOTH engines so the
driver's hash compare is stable (the reference orders by spending alone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..etl.sales_fact import ORACLE_SALES_CTE
from ..functions import cents_sum, avg4_exact, money, ratio
from . import query

_W = f"WITH {ORACLE_SALES_CTE}"

_BEST_BUYERS_SQL = f"""{_W}
SELECT s.customerid AS customer_id, c.c_name AS name,
       CAST(ROUND(SUM(s.amnt), 2) AS DOUBLE) AS spending
FROM sales s JOIN customer c ON s.customerid = c.c_custkey
GROUP BY 1, 2
ORDER BY SUM(s.amnt) DESC, s.customerid ASC
LIMIT 5
"""


def _top5_buyers(spend: DataFrame) -> DataFrame:
    """The best-buyers report tail shared by every Q3a/Q4a form: top 5 of a
    (customerid, name, spending_d) frame, customerid breaking ties."""
    return (
        spend.orderBy(F.col("spending_d").desc(), F.col("customerid").asc())
        .limit(5)
        .select(
            F.col("customerid").alias("customer_id"),
            "name",
            money(F.col("spending_d")).alias("spending"),
        )
    )


def _best_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    cust = t.customer.select(
        F.col("c_custkey").alias("customerid"), F.col("c_name").alias("name")
    )
    per_cust = t.sales().groupBy("customerid").agg(F.sum("amnt").alias("spending_d"))
    # customer scales with SF: no static hint; AQE broadcasts at runtime
    return _top5_buyers(per_cust.join(cust, "customerid"))


@query("q3a_best_buyers", oracle=_BEST_BUYERS_SQL)
def q3a_best_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers by total spending with names (assignment-5.sql:191-200)
    -- group-by-PK-with-dependent-columns rewritten per SURVEY 7.3 D2;
    Catalyst compiles the sort+limit to TakeOrderedAndProject (top-N heapsort
    analog, assignment-5.md:486)."""
    return _best_buyers(spark, sf_dir)


_APO_CTE = f"""{ORACLE_SALES_CTE},
amount_per_order AS (
  SELECT l_orderkey AS orderid,
         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS order_amount
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)"""


def _amount_per_order(t: catalog.Tables) -> DataFrame:
    line = t.lineitem.select("l_orderkey", "l_partkey", "l_quantity")
    prices = t.part.select("p_partkey", "p_retailprice")
    return (
        line.join(prices, line.l_partkey == prices.p_partkey)
        .groupBy(F.col("l_orderkey").alias("orderid"))
        .agg(cents_sum("l_quantity", "p_retailprice").alias("order_amount"))
    )


@query(
    "q3b_amount_per_order",
    oracle=f"""WITH {_APO_CTE}
SELECT orderid, CAST(ROUND(order_amount, 2) AS DOUBLE) AS order_amount
FROM amount_per_order
""",
)
def q3b_amount_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """amount_per_order MV: per-order total (assignment-5.sql:213-218)."""
    t = catalog.load(spark, sf_dir)
    return _amount_per_order(t).select(
        "orderid", money(F.col("order_amount")).alias("order_amount")
    )


@query(
    "q3b_ord_avg_amnt",
    oracle=f"""WITH {_APO_CTE}
SELECT FLOOR((CAST(SUM(order_amount) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS ord_avg_amnt
FROM amount_per_order
""",
)
def q3b_ord_avg_amnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar grand-average order amount (assignment-5.sql:221-223,
    golden 777.7702... at reference scale)."""
    t = catalog.load(spark, sf_dir)
    return _amount_per_order(t).agg(
        ratio(F.sum("order_amount"), F.count(F.lit(1))).alias("ord_avg_amnt")
    )


_BEST_ID_CTE = """
best_buyer AS (
  SELECT customerid FROM sales
  GROUP BY customerid
  ORDER BY SUM(amnt) DESC, customerid ASC
  LIMIT 1
)"""


def ord_avg_amnt(apo: DataFrame) -> DataFrame:
    """Exact 4-dp grand average of amount_per_order (assignment-5.sql:221-223)."""
    return apo.agg(
        avg4_exact(F.sum("order_amount"), F.count(F.lit(1))).alias("ord_avg_amnt")
    )


def _best_buyer_id(t: catalog.Tables) -> DataFrame:
    return (
        t.sales()
        .groupBy("customerid")
        .agg(F.sum("amnt").alias("s"))
        .orderBy(F.col("s").desc(), F.col("customerid").asc())
        .limit(1)
        .select("customerid")
    )


def no_of_ord(orders: DataFrame, best: DataFrame) -> DataFrame:
    """Order count of `best` (one customerid row) -- IN (subquery LIMIT 1)
    as a left-semi join (assignment-5.sql:232-235, SURVEY 2 B8/C5)."""
    return orders.join(
        best, orders.o_custkey == F.col("customerid"), "left_semi"
    ).agg(F.count(F.lit(1)).alias("no_of_ord"))


@query(
    "q3b_no_of_ord",
    oracle=f"""{_W},{_BEST_ID_CTE}
SELECT COUNT(*) AS no_of_ord
FROM orders WHERE o_custkey IN (SELECT customerid FROM best_buyer)
""",
)
def q3b_no_of_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order count of the best buyer (assignment-5.sql:232-235)."""
    t = catalog.load(spark, sf_dir)
    return no_of_ord(t.orders, _best_buyer_id(t))


def amounts_of_best_buyer(
    apo: DataFrame, orders: DataFrame, best: DataFrame
) -> DataFrame:
    """amount_per_order rows of the orders placed by `best` (one
    customerid row)."""
    ords = orders.select("o_orderkey", "o_custkey").join(
        best, F.col("o_custkey") == F.col("customerid"), "left_semi"
    )
    return apo.join(ords, apo.orderid == ords.o_orderkey).select(
        "orderid", "order_amount"
    )


@query(
    "q3b_amounts_of_best_buyer",
    oracle=f"""WITH {_APO_CTE},{_BEST_ID_CTE},
apobc AS (
  SELECT a.orderid, a.order_amount
  FROM amount_per_order a JOIN orders o ON a.orderid = o.o_orderkey
  WHERE o.o_custkey IN (SELECT customerid FROM best_buyer)
)
SELECT orderid, CAST(ROUND(order_amount, 2) AS DOUBLE) AS order_amount FROM apobc
""",
)
def q3b_amounts_of_best_buyer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order amounts of the best buyer (assignment-5.sql:244-250)."""
    t = catalog.load(spark, sf_dir)
    apobc = amounts_of_best_buyer(_amount_per_order(t), t.orders, _best_buyer_id(t))
    return apobc.select("orderid", money(F.col("order_amount")).alias("order_amount"))


_PERC_CTE = f"""{_APO_CTE},{_BEST_ID_CTE},
no_of_ord AS (
  SELECT COUNT(*) AS no_of_ord FROM orders
  WHERE o_custkey IN (SELECT customerid FROM best_buyer)
),
ord_avg AS (
  SELECT CAST(FLOOR((CAST(SUM(order_amount) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS DECIMAL(18,4)) AS ord_avg_amnt
  FROM amount_per_order
),
apobc AS (
  SELECT a.orderid, a.order_amount
  FROM amount_per_order a JOIN orders o ON a.orderid = o.o_orderkey
  WHERE o.o_custkey IN (SELECT customerid FROM best_buyer)
),
perc AS (
  SELECT FLOOR((CAST(COUNT(*) * 100 AS DOUBLE) / CAST(no_of_ord AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS perc_of_ord
  FROM apobc, ord_avg, no_of_ord
  WHERE order_amount > ord_avg_amnt
  GROUP BY no_of_ord
)"""


def perc_of_ord(apobc: DataFrame, ord_avg: DataFrame, no_of_ord: DataFrame) -> DataFrame:
    """Scalar MVs joined by cartesian product -- the reference's degenerate
    NATURAL JOIN with no shared columns (assignment-5.sql:259-263, SURVEY
    2 C3 / 7.3 D3): explicit crossJoin of 1-row DataFrames."""
    return (
        apobc.crossJoin(F.broadcast(ord_avg))
        .crossJoin(F.broadcast(no_of_ord))
        .filter(F.col("order_amount") > F.col("ord_avg_amnt"))
        .groupBy("no_of_ord")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            ratio(F.col("cnt") * F.lit(100), F.col("no_of_ord")).alias("perc_of_ord")
        )
    )


def _perc_of_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = catalog.load(spark, sf_dir)
    apo, best = _amount_per_order(t), _best_buyer_id(t)
    return perc_of_ord(
        amounts_of_best_buyer(apo, t.orders, best),
        ord_avg_amnt(apo),
        no_of_ord(t.orders, best),
    )


@query("q3b_perc_of_ord", oracle=f"WITH {_PERC_CTE}\nSELECT perc_of_ord FROM perc\n")
def q3b_perc_of_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentage of the best buyer's orders above the global average order
    amount (assignment-5.sql:259-263, golden 71.4285... at reference scale)."""
    return _perc_of_ord(spark, sf_dir)


@query(
    "q3b_classification",
    oracle=f"""WITH {_PERC_CTE}
SELECT perc_of_ord,
       CASE WHEN perc_of_ord >= 75 THEN 'big number of orders'
            WHEN perc_of_ord < 75 AND perc_of_ord >= 50 THEN 'greater to medium number of orders'
            WHEN perc_of_ord < 50 AND perc_of_ord >= 25 THEN 'medium to small number of orders'
            ELSE 'small number of orders'
       END AS classification
FROM perc
""",
)
def q3b_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-branch CASE banding of perc_of_ord (assignment-5.sql:271-283,
    SURVEY 2 B9/B10)."""
    perc = _perc_of_ord(spark, sf_dir)
    p = F.col("perc_of_ord")
    return perc.select(
        p.alias("perc_of_ord"),
        F.when(p >= 75, "big number of orders")
        .when((p < 75) & (p >= 50), "greater to medium number of orders")
        .when((p < 50) & (p >= 25), "medium to small number of orders")
        .otherwise("small number of orders")
        .alias("classification"),
    )
