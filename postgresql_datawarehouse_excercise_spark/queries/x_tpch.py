"""Extension: TPC-H-style analytics over the full driver star schema.

The reference's analytic surface (SURVEY.md section 2) exercises one fact
table and tiny dimensions.  The driver testdata is a TPC-H subset (region,
nation, customer, supplier, part, orders, lineitem), so this module proves
the engine on the canonical OLAP workload shapes at the full schema width:
scan-heavy aggregation (Q1/Q6), selective multi-way joins with top-k
(Q3/Q10), correlated EXISTS (Q4), a 6-way snowflake join with a cross-table
equality constraint (Q5), bilateral nation-pair trade (Q7), a
conditional-aggregate market-share ratio (Q8), LIKE-filtered profit rollup
(Q9), late-line priority counts (Q12), an outer-join count histogram (Q13),
conditional-aggregate ratios (Q14), argmax-by-scalar-subquery (Q15), a
below-average-threshold self-join (Q17), a having-filtered self-aggregate
join (Q18), disjunctive pushdown predicates (Q19), sole-late-supplier
EXISTS/NOT-EXISTS-as-aggregation (Q21), and an anti-join dormant-customer
report (Q22).  Adapted to the driver's column subset (no partsupp /
shipmode / commitdate); constants chosen to hit the 1995-2001 data range.

Scale design: only the CONSTANT-cardinality relations (nation, region, and
1-row scalar aggregates) carry explicit broadcast hints.  customer, part,
supplier and partsupp all scale LINEARLY with SF in TPC-H -- at the 100 TB
north star a filtered customer slice is tens of GB, over Spark's broadcast
hard limit, and an explicit hint is never demoted by AQE -- so every
SF-scaling side joins un-hinted and AQE promotes it to broadcast at runtime
only when the slice actually fits (it always does at bench SFs, so the
small-scale plans are unchanged).  All monetary aggregation is exact-decimal
(order-independent across partitions); every top-k compiles to
TakeOrderedAndProject (no global sort); date filters and band predicates
push to the parquet scan.  plans.fact_broadcast_hints + the registry-wide
plan guard pin the no-SF-scaling-hints property for every entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog, session
from ..sources import files
from ..functions import (
    c100,
    cents_sum,
    dec,
    money,
    ratio,
    sql_dec,
    sql_money,
    sql_ratio,
    sum_c100,
    sum_charge_cents,
    sum_rev_cents,
)
from . import query

_SQL_REV = f"{sql_dec('l_extendedprice')} * (1 - {sql_dec('l_discount')})"


@query(
    "x_tpch_q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_money(f"SUM({sql_dec('l_quantity')})")} AS sum_qty,
       {sql_money(f"SUM({sql_dec('l_extendedprice')})")} AS sum_base_price,
       {sql_money(f"SUM({_SQL_REV})")} AS sum_disc_price,
       {sql_money(f"SUM({_SQL_REV} * (1 + {sql_dec('l_tax')}))")} AS sum_charge,
       {sql_ratio(f"SUM({sql_dec('l_quantity')})", 'COUNT(*)')} AS avg_qty,
       {sql_ratio(f"SUM({sql_dec('l_extendedprice')})", 'COUNT(*)')} AS avg_price,
       {sql_ratio(f"SUM({sql_dec('l_discount')})", 'COUNT(*)')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def x_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: single wide scan -> partial agg -> one
    6-group shuffle.  The shipdate filter and 7-column projection push to the
    parquet scan; everything else is map-side combine."""
    t = catalog.load(spark, sf_dir)
    return pricing_summary(
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
    )


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """The Q1 aggregate over any lineitem-shaped input (probe it on K-fold
    multiplied data with `scripts/probe.py --scale K`)."""
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # long-cents aggregation (functions.sum_*_cents): per-row math in
            # integer cents inside codegen, decimal only at the final divide;
            # measured ~40% off the all-decimal form, values identical
            money(sum_c100("l_quantity")).alias("sum_qty"),
            money(sum_c100("l_extendedprice")).alias("sum_base_price"),
            money(sum_rev_cents("l_extendedprice", "l_discount")).alias("sum_disc_price"),
            money(sum_charge_cents("l_extendedprice", "l_discount", "l_tax")).alias("sum_charge"),
            ratio(sum_c100("l_quantity"), F.count(F.lit(1))).alias("avg_qty"),
            ratio(sum_c100("l_extendedprice"), F.count(F.lit(1))).alias("avg_price"),
            ratio(sum_c100("l_discount"), F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "x_tpch_q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey, {sql_money(f"SUM({_SQL_REV})")} AS revenue, o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate  > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def x_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: lineitem joins the date-filtered orders
    scan with NO static hint (orders is fact-cardinality at scale -- AQE
    broadcasts it at runtime only when the filtered slice actually fits);
    the segment-filtered customer key set is ALSO un-hinted -- customer
    scales linearly with SF, so the broadcast call belongs to AQE's runtime
    size check, not a static hint; top-10 via TakeOrderedAndProject."""
    t = catalog.load(spark, sf_dir)
    cust = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t.orders.filter(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = t.lineitem.filter(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(money(sum_rev_cents("l_extendedprice", "l_discount")).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "x_tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
""",
)
def x_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order priority: correlated EXISTS as a conditional left-semi
    join (orders is the small filtered side; the semi join short-circuits per
    key, no lineitem aggregation)."""
    t = catalog.load(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t.lineitem.select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "x_tpch_q5_local_supplier",
    oracle=f"""
SELECT n_name, {sql_money(f"SUM({_SQL_REV})")} AS revenue
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
""",
)
def x_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local supplier volume: 6-way snowflake join with the
    "customer and supplier share a nation" cross-table constraint.  Only the
    CONSTANT relations (region-filtered nations) carry hints; customer and
    supplier scale linearly with SF, so they join un-hinted like orders --
    AQE's runtime size check promotes each side to broadcast only when the
    slice actually fits."""
    t = catalog.load(spark, sf_dir)
    nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            t.nation.n_regionkey == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    cust = t.customer.join(
        F.broadcast(nations), t.customer.c_nationkey == nations.n_nationkey
    ).select("c_custkey", "c_nationkey", "n_name")
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t.lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            t.supplier.select("s_suppkey", "s_nationkey"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(money(sum_rev_cents("l_extendedprice", "l_discount")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@query(
    "x_tpch_q6_revenue_forecast",
    oracle=f"""
SELECT {sql_money(f"SUM({sql_dec('l_extendedprice')} * {sql_dec('l_discount')})")} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def x_tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue change: pure scan-aggregate; all three band
    predicates push to parquet row-group pruning, no shuffle at all (scalar
    aggregate)."""
    t = catalog.load(spark, sf_dir)
    return (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            money(cents_sum("l_extendedprice", "l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "x_tpch_q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, {sql_money(f"SUM({_SQL_REV})")} AS revenue, c_acctbal, n_name
FROM customer JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
)
def x_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned items: the quarter-filtered orders scan joins the
    returnflag-filtered lineitem UN-hinted (fact-side; AQE may broadcast it
    at runtime when the slice fits); the nation hint stays (constant
    cardinality) but the nation-tagged CUSTOMER side is un-hinted -- customer
    scales with SF; per-customer revenue, top-20."""
    t = catalog.load(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = t.customer.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        t.customer.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money(sum_rev_cents("l_extendedprice", "l_discount")).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "x_tpch_q14_promo_revenue",
    oracle=f"""
SELECT {sql_ratio(
        f"100.0 * SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_REV} ELSE 0 END)",
        f"SUM({_SQL_REV})")} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
""",
)
def x_tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo revenue share: conditional aggregate ratio; part
    joins a one-month lineitem slice UN-hinted (part scales with SF -- AQE
    broadcasts it at runtime while it fits), single scalar output."""
    t = catalog.load(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev4 = c100("l_extendedprice") * (F.lit(100) - c100("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev4).otherwise(F.lit(0))
    return (
        li.join(t.part.select("p_partkey", "p_type"),
                li.l_partkey == F.col("p_partkey"))
        .agg(
            # both sums are exact 1e-4ths; the scale cancels in the ratio
            ratio(
                F.lit(100.0) * F.sum(promo.cast("decimal(38,0)")),
                F.sum(rev4.cast("decimal(38,0)")),
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "x_tpch_q18_large_orders",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, {sql_money(f"SUM({sql_dec('l_quantity')})")} AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM({sql_dec('l_quantity')}) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big JOIN orders   ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
""",
)
def x_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume orders: self-aggregate on lineitem with HAVING,
    the surviving keys (rare) joined back to orders+customer.  The aggregate
    is the only big shuffle; the join sides after HAVING are tiny, but
    CUSTOMER is un-hinted (SF-scaling) -- AQE broadcasts whichever side of
    each join is actually small at runtime."""
    t = catalog.load(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey", money(F.col("q")).alias("total_qty"))
    )
    return (
        big.join(
            t.orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            big.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            t.customer.select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "x_tpch_q18_bucketed",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, {sql_money(f"SUM({sql_dec('l_quantity')})")} AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM({sql_dec('l_quantity')}) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big JOIN orders   ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
""",
)
def x_tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 on the co-located bucketed layout -- the lane the round-9
    q18 plan audit concluded is the right 100 TB lever (rerun it with
    `scripts/probe.py --scale K --explain DIR`).  x_tpch_q18_large_orders pays one full lineitem shuffle
    for the HAVING aggregate every run; here lineitem AND orders are both
    written bucketed (and sorted) on the order key once, so the per-order
    quantity aggregate runs WITHOUT re-hashing lineitem (the bucketed scan
    already satisfies the aggregate's required distribution) and the
    big-orders join is exchange-free too -- zero shuffles from either fact
    scan through the HAVING join, pinned in tests/test_plans.py.  The one
    write-time shuffle is amortized across every later order-grain query,
    which is exactly how a 100 TB warehouse keeps its biggest fact pair.
    customer stays un-hinted (SF-scaling; AQE broadcasts it while the
    post-HAVING slice fits).  Values are pinned against the plain
    (shuffled) Q18 in DuckDB -- the layout may never change the answer."""
    import uuid

    t = catalog.load(spark, sf_dir)
    tag = uuid.uuid4().hex[:8]
    loc = session.scratch("pdwx-q18bkt-")
    lt, ot = f"pdwx_q18l_{tag}", f"pdwx_q18o_{tag}"
    try:
        files.write_bucketed(
            t.lineitem.select("l_orderkey", "l_quantity"),
            lt, f"{loc}/{lt}", "l_orderkey",
        )
        files.write_bucketed(
            t.orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            ot, f"{loc}/{ot}", "o_orderkey",
        )
        big = (
            spark.table(lt)
            .groupBy("l_orderkey")
            .agg(F.sum(dec("l_quantity")).alias("q"))
            .filter(F.col("q") > 250)
            .select("l_orderkey", money(F.col("q")).alias("total_qty"))
        )
        return (
            big.hint("merge")
            .join(spark.table(ot), big.l_orderkey == F.col("o_orderkey"))
            .join(
                t.customer.select("c_custkey", "c_name"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select(
                "c_custkey", "c_name", "o_orderkey",
                "o_orderdate", "o_totalprice", "total_qty",
            )
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")
        # the eager checkpoint above makes the bucketed files dead here;
        # free the GBs immediately instead of at the atexit sweep
        import shutil

        shutil.rmtree(loc, ignore_errors=True)


@query(
    "x_tpch_q19_disjunctive_bands",
    oracle=f"""
SELECT {sql_money(f"SUM({_SQL_REV})")} AS revenue, COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
""",
)
def x_tpch_q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue over disjunctive brand/size/quantity
    bands: the OR-of-ANDs predicate evaluates post-join, but the derivable
    prefilters (quantity range, brand set) still push to the scans; part is
    un-hinted (SF-scaling), AQE promotes the join at runtime."""
    t = catalog.load(spark, sf_dir)
    li = t.lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    joined = li.join(
        t.part.select("p_partkey", "p_brand", "p_size"),
        li.l_partkey == F.col("p_partkey"),
    )
    band1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    band2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    return joined.filter(band1 | band2).agg(
        money(sum_rev_cents("l_extendedprice", "l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# exact long-cents revenue expression (1e-4ths), reused by Q7/Q8/Q9
def _rev_c(price: str = "l_extendedprice", disc: str = "l_discount"):
    return c100(price) * (F.lit(100) - c100(disc))


_SQL_REV_C = (
    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))"
)


@query(
    "x_tpch_q7_volume_shipping",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year, {sql_money('SUM(rev)')} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         {_SQL_REV} AS rev
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
    AND n2.n_name IN ('NATION_1', 'NATION_2')
    AND n1.n_name <> n2.n_name
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def x_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: bilateral trade between two nations by ship
    year.  Both nation filters reduce supplier and customer to ~2/25 before
    they touch the fact table, but a fixed FRACTION of an SF-scaling table
    still scales with SF -- so supplier, customer and orders all join
    UN-hinted (an explicit hint overrides the size threshold for good; AQE
    never demotes it) and AQE promotes each join to broadcast at runtime
    only when the slice actually fits.  Only the 25-row nation carries a
    hint."""
    t = catalog.load(spark, sf_dir)
    nat = t.nation.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        "n_nationkey", "n_name"
    )
    supp = t.supplier.join(
        F.broadcast(nat), t.supplier.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = t.customer.join(
        F.broadcast(nat), t.customer.c_nationkey == nat.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    orders = t.orders.select("o_orderkey", "o_custkey")
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(money(sum_rev_cents("l_extendedprice", "l_discount")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "x_tpch_q8_market_share",
    oracle=f"""
SELECT o_year,
       {sql_ratio("SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev_c ELSE 0 END)",
                  "SUM(rev_c)")} AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         {_SQL_REV_C} AS rev_c,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part      ON l_partkey = p_partkey
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region    ON n1.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
) all_sales
GROUP BY o_year
ORDER BY o_year
""",
)
def x_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: NATION_3's share of ECONOMY-part
    revenue sold into EUROPE customers, per order year.  The share is a
    conditional-aggregate ratio computed in exact long cents (both sums are
    1e-4ths; the scale cancels in the division).  Part, the region-filtered
    customer key set, nation-tagged suppliers and the orders slice ALL join
    un-hinted -- every one of them scales linearly with SF, so the
    broadcast decision is AQE's at runtime; only nation/region (constant)
    carry hints."""
    t = catalog.load(spark, sf_dir)
    eur_nat = t.nation.join(
        F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
        t.nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey")
    cust = t.customer.join(
        F.broadcast(eur_nat), t.customer.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey")
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    supp = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li = t.lineitem.select("l_orderkey", "l_partkey", "l_suppkey",
                           "l_extendedprice", "l_discount")
    rev_c = _rev_c().cast("decimal(38,0)")
    nat3 = F.when(F.col("supp_nation") == "NATION_3", rev_c).otherwise(F.lit(0))
    return (
        li.join(
            t.part.filter(F.col("p_type") == "ECONOMY").select("p_partkey"),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("o_year")
        .agg(ratio(F.sum(nat3), F.sum(rev_c)).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "x_tpch_q9_product_profit",
    oracle=f"""
SELECT nation, o_year, {sql_money('SUM(amount)')} AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
         {_SQL_REV} - {sql_dec('p_retailprice')} * {sql_dec('l_quantity')} AS amount
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def x_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 product-type profit (adapted: cost = p_retailprice * qty in
    place of ps_supplycost — the driver schema has no partsupp).  The
    LIKE-filtered part slice prunes lineitem first but joins UN-hinted
    (part scales with SF; AQE broadcasts at runtime while it fits); profit
    per row is computed in exact
    long 1e-4ths (revenue cents minus cost cents) so the per-(nation, year)
    sums are order-independent across partitions."""
    t = catalog.load(spark, sf_dir)
    part = t.part.filter(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    supp = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    li = t.lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    amount_c = (_rev_c() - c100("p_retailprice") * c100("l_quantity")).cast("decimal(38,0)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            t.orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("nation", "o_year")
        .agg(money((F.sum(amount_c) / F.lit(10_000)).cast("decimal(38,4)")).alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@query(
    "x_tpch_q12_late_lines",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def x_tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: linestatus stands in for shipmode, ship-lag > 60
    days for the commit/receipt lag — neither column exists in the driver
    schema): count urgent vs non-urgent order lines among late shipments.
    The ship-year filter pushes to the scan; the lag predicate evaluates
    post-join; one 2-group shuffle."""
    t = catalog.load(spark, sf_dir)
    li = t.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "x_tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
       ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def x_tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order-count distribution (adapted: the priority
    filter stands in for the comment LIKE exclusion).  Orders are aggregated
    to per-customer counts BEFORE the outer join — the join then moves one
    row per customer instead of one per order, which is the formulation that
    survives 100 TB (the naive outer-join-then-group shuffles every order
    row).  Customers with no qualifying orders surface via the left join's
    null -> 0."""
    t = catalog.load(spark, sf_dir)
    per_cust = (
        t.orders.filter(F.col("o_orderpriority") != "5-LOW")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    return (
        t.customer.select("c_custkey")
        .join(per_cust, t.customer.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("n_ord"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "x_tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, {sql_money(f"SUM({_SQL_REV})")} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def x_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: per-supplier quarterly revenue, then the
    supplier(s) whose revenue equals the global max.  The scalar max is a
    1-row broadcast cross join back onto the aggregate (no second scan of
    lineitem, no window-over-everything -- a 1-row aggregate is the ONE
    thing a static hint is always right for); the supplier dimension joins
    un-hinted (SF-scaling -- AQE broadcasts the 1-row-ish filtered side at
    runtime instead); equality on the 2-dp-rounded revenue is exact."""
    t = catalog.load(spark, sf_dir)
    revenue = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(money(sum_rev_cents("l_extendedprice", "l_discount")).alias("total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(
            t.supplier.select("s_suppkey", "s_name"),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "x_tpch_q17_small_quantity",
    oracle=f"""
WITH part_avg AS (
  SELECT l_partkey AS pk,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sum_qty_c,
         COUNT(*) AS n_li
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_money(f"SUM({sql_dec('l_extendedprice')})")} AS total_price,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_ratio(f"SUM({sql_dec('l_extendedprice')})", '7')} AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN part_avg ON l_partkey = pk
WHERE p_brand = 'Brand#2' AND p_size < 10
  AND CAST(ROUND(l_quantity * 100) AS BIGINT) * 5 * n_li < sum_qty_c
""",
)
def x_tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: lineitems of a brand/size
    slice whose quantity is below 20% of that part's average.  The per-part
    average is a self-aggregate of lineitem joined back by partkey; the
    below-20%% test runs in exact integer cents (qty_c * 5 * n < sum_c), so
    Spark and the oracle agree bit-for-bit with no double-threshold edge
    cases.  At scale both sides of the self-join shuffle on l_partkey —
    co-partitioned, no broadcast of the fact; the brand/size part slice is
    un-hinted (part scales with SF, AQE decides)."""
    t = catalog.load(spark, sf_dir)
    part = t.part.filter((F.col("p_brand") == "Brand#2") & (F.col("p_size") < 10)).select(
        "p_partkey"
    )
    li = t.lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
    part_avg = (
        li.groupBy(F.col("l_partkey").alias("pk"))
        .agg(
            F.sum(c100("l_quantity")).alias("sum_qty_c"),
            F.count(F.lit(1)).alias("n_li"),
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(part_avg, li.l_partkey == part_avg.pk)
        .filter(c100("l_quantity") * F.lit(5) * F.col("n_li") < F.col("sum_qty_c"))
        .agg(
            money(F.sum(dec("l_extendedprice"))).alias("total_price"),
            F.count(F.lit(1)).alias("n_items"),
            ratio(F.sum(dec("l_extendedprice")), F.lit(7)).alias("avg_yearly"),
        )
    )


@query(
    "x_tpch_q21_late_sole_supplier",
    oracle="""
WITH order_supp AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), order_stats AS (
  SELECT ok, COUNT(*) AS n_supp, SUM(is_late) AS n_late
  FROM order_supp GROUP BY ok
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM order_supp
JOIN order_stats USING (ok)
JOIN supplier ON sk = s_suppkey
WHERE is_late = 1 AND n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 10
""",
)
def x_tpch_q21_late_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 suppliers who kept orders waiting (adapted: ship-lag > 60
    days marks "late").  The classic EXISTS/NOT-EXISTS pair is re-expressed
    as one aggregation: per (order, supplier) lateness, then per-order
    supplier / late-supplier counts as window aggregates over the SAME
    orderkey partitioning (no self-join, no second shuffle), then
    "multi-supplier order whose only late supplier is this one" — versus the
    correlated formulation's two extra joins against lineitem.  This is the
    shape that survives a 100 TB fact."""
    t = catalog.load(spark, sf_dir)
    from pyspark.sql.window import Window

    li = t.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = t.orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    order_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(F.max(late).alias("is_late"))
    )
    w = Window.partitionBy("ok")
    return (
        order_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late", F.sum("is_late").over(w))
        .filter((F.col("is_late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(
            t.supplier.select("s_suppkey", "s_name"),
            F.col("sk") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@query(
    "x_tpch_q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), offers AS (
  SELECT p_partkey, p_type, s_name, s_acctbal, n_name, cost
  FROM ps JOIN part ON l_partkey = p_partkey
          JOIN eu   ON l_suppkey = s_suppkey
  WHERE p_size < 10 AND p_type = 'ECONOMY'
), ranked AS (
  SELECT *, MIN(cost) OVER (PARTITION BY p_partkey) AS min_cost FROM offers
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ROUND(cost, 2) AS DOUBLE) AS supply_cost
FROM ranked WHERE cost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def x_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 minimum-cost supplier (adapted: the driver schema has no
    partsupp, so the supplier-part catalog is derived from lineitem --
    supply cost = MIN(l_extendedprice) observed per (part, supplier), an
    arithmetic-free exact min).  Both the part slice and the region-filtered
    supplier side prefilter lineitem BEFORE the (part, supplier) aggregate,
    so the only large shuffle moves just the qualifying ~p_size/600 fraction
    of lineitem; the per-part min is a second aggregate over the already-tiny
    offer set joined back for the argmin equality.  All part/supplier-derived
    sides (and the per-part min, whose cardinality tracks part count) join
    UN-hinted -- they scale linearly with SF, so AQE makes the broadcast call
    at runtime; only nation/region carry hints."""
    t = catalog.load(spark, sf_dir)
    part = t.part.filter(
        (F.col("p_size") < 10) & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey", "p_type")
    eu = (
        t.supplier.join(
            F.broadcast(
                t.nation.join(
                    F.broadcast(t.region.filter(F.col("r_name") == "EUROPE")),
                    t.nation.n_regionkey == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            t.supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        t.lineitem.select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(eu.select("s_suppkey"), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("bp")).agg(F.min("cost").alias("min_cost"))
    return (
        offers.join(
            best,
            (offers.l_partkey == F.col("bp")) & (F.col("cost") == F.col("min_cost")),
        )
        .join(eu, offers.l_suppkey == eu.s_suppkey)
        .join(part, offers.l_partkey == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            money(F.col("cost")).alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@query(
    "x_tpch_q11_important_parts",
    oracle=f"""
WITH nat_supp AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_1'
), val AS (
  SELECT l_partkey,
         SUM({_SQL_REV_C}) AS value_c,
         {sql_money(f"SUM({_SQL_REV})")} AS part_value
  FROM lineitem JOIN nat_supp ON l_suppkey = s_suppkey
  GROUP BY l_partkey
), tot AS (SELECT SUM(value_c) AS total_c, COUNT(*) AS n_parts FROM val)
SELECT l_partkey AS p_partkey, part_value
FROM val, tot
WHERE value_c * n_parts > 2 * total_c
ORDER BY part_value DESC, p_partkey
""",
)
def x_tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 important stock (adapted: part value = discounted revenue
    shipped by NATION_1 suppliers, in place of supplycost * availqty).
    Parts whose value exceeds twice the mean part value -- a scale-invariant
    threshold (TPC-H's fixed fraction-of-total empties out as the part count
    grows).  The test runs as the exact integer-cents cross-multiplication
    value_c * n_parts > 2 * total_c (no double threshold), with the grand
    total a 1-row broadcast back onto the per-part aggregate -- one fact
    shuffle, one scalar."""
    t = catalog.load(spark, sf_dir)
    nat_supp = t.supplier.join(
        F.broadcast(t.nation.filter(F.col("n_name") == "NATION_1").select("n_nationkey")),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    val = (
        t.lineitem.select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(nat_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev_c().cast("decimal(38,0)")).alias("value_c"))
    )
    tot = val.agg(F.sum("value_c").alias("total_c"), F.count(F.lit(1)).alias("n_parts"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") * F.col("n_parts") > F.col("total_c") * 2)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            money((F.col("value_c") / F.lit(10_000)).cast("decimal(38,4)")).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey").asc())
    )


@query(
    "x_tpch_q16_supplier_part_counts",
    oracle="""
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def x_tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-part relationship counts (adapted: the supplier
    pool per part comes from lineitem, and the "customer complaints"
    exclusion is suppliers with negative account balance).  The NOT IN
    subquery is a left-anti join applied before anything else; the
    brand/type/size slice prefilters the fact.  Both sides are un-hinted
    (supplier/part scale with SF; AQE broadcasts them at runtime while they
    fit).  COUNT(DISTINCT) runs as
    Spark's two-phase distinct aggregate, partial per partition, so the
    shuffle carries (group, suppkey) pairs -- bounded by catalog size, not
    fact size."""
    t = catalog.load(spark, sf_dir)
    part = t.part.filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complaints = t.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t.lineitem.select("l_partkey", "l_suppkey")
        .join(complaints, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
    )


@query(
    "x_tpch_q20_dominant_suppliers",
    oracle="""
WITH sp AS (
  SELECT l_suppkey AS sk, l_partkey AS pk,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sp_qty_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY sk, pk
), dom AS (
  SELECT DISTINCT sk FROM (
    SELECT sk, sp_qty_c, SUM(sp_qty_c) OVER (PARTITION BY pk) AS part_qty_c FROM sp
  ) WHERE sp_qty_c * 2 > part_qty_c
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT sk FROM dom)
ORDER BY s_suppkey
""",
)
def x_tpch_q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 potential part promotion (adapted: no availqty, so "excess
    stock" becomes dominance -- a supplier who shipped more than half of a
    red-part's 1997 volume).  The LIKE-filtered part slice prefilters one
    ship-year of lineitem (un-hinted -- part scales with SF, AQE broadcasts
    at runtime); per-(supplier, part) quantities aggregate in
    exact cents; the half-share test is a window over the aggregate's own
    output (small), and the surviving supplier keys semi-join the supplier
    dimension."""
    from pyspark.sql.window import Window

    t = catalog.load(spark, sf_dir)
    part = t.part.filter(F.col("p_name").like("red%")).select("p_partkey")
    sp = (
        t.lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk"))
        .agg(F.sum(c100("l_quantity")).alias("sp_qty_c"))
    )
    dom = (
        sp.withColumn("part_qty_c", F.sum("sp_qty_c").over(Window.partitionBy("pk")))
        .filter(F.col("sp_qty_c") * 2 > F.col("part_qty_c"))
        .select("sk")
        .distinct()
    )
    supp = t.supplier.join(
        F.broadcast(t.nation.select("n_nationkey", "n_name")),
        t.supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name", "n_name")
    return supp.join(dom, supp.s_suppkey == dom.sk, "left_semi").orderBy("s_suppkey")


@query(
    "x_tpch_q22_inactive_customers",
    oracle="""
WITH pool AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c, c_acctbal
  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)
), stats AS (
  SELECT SUM(bal_c) AS sum_c, COUNT(*) AS n FROM pool WHERE bal_c > 0
)
SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
FROM pool, stats
WHERE bal_c * n > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def x_tpch_q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global sales opportunity (adapted: nation-key subset stands
    in for phone-prefix country codes, and "dormant" means no order since
    2000-01-01 — the unfiltered variant is empty at every driver SF).  The
    above-average test is the exact rational comparison bal*n > sum (no
    double threshold); dormancy is a left-anti join against the date-filtered
    customer keys of orders — at 100 TB that filtered key set is the cheap
    side and the anti join stays key-partitioned."""
    t = catalog.load(spark, sf_dir)
    pool = t.customer.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9)).select(
        "c_custkey", "c_nationkey", "c_acctbal", c100("c_acctbal").alias("bal_c")
    )
    stats = pool.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("sum_c"), F.count(F.lit(1)).alias("n")
    )
    return (
        pool.crossJoin(F.broadcast(stats))
        .filter(F.col("bal_c") * F.col("n") > F.col("sum_c"))
        .join(
            t.orders.filter(
                F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
            ).select("o_custkey"),
            pool.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money(F.sum(dec("c_acctbal"))).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


RF_MOD = 97  # ~1% of order keys form the refresh batch
RF_SHIFT = 3_000_000_000


@query(
    "x_tpch_rf_roundtrip",
    oracle=f"""
WITH ob AS (SELECT COUNT(*) AS n FROM orders),
lb AS (SELECT COUNT(*) AS n FROM lineitem),
rb AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % {RF_MOD} = 0),
rl AS (SELECT COUNT(*) AS n FROM lineitem WHERE l_orderkey % {RF_MOD} = 0)
SELECT CAST(ob.n AS BIGINT) AS n_orders_base,
       CAST(rb.n AS BIGINT) AS n_rf1_orders,
       CAST(ob.n + rb.n AS BIGINT) AS n_orders_after_rf1,
       CAST(lb.n AS BIGINT) AS n_line_base,
       CAST(rl.n AS BIGINT) AS n_rf1_lines,
       CAST(lb.n + rl.n AS BIGINT) AS n_line_after_rf1,
       CAST(ob.n AS BIGINT) AS n_orders_after_rf2,
       CAST(lb.n AS BIGINT) AS n_line_after_rf2,
       TRUE AS roundtrip_ok
FROM ob, lb, rb, rl
""",
)
def x_tpch_rf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh functions RF1/RF2 on the COW lakehouse machinery --
    the update half of the benchmark kit the 22 query shapes leave out.
    RF1 merge-inserts a ~1% re-keyed order/lineitem batch (merge_upsert:
    all keys new, so (0, n) inserts, one snapshot commit); RF2 deletes
    exactly that batch (partition-pruned COW delete_where).  The entry
    returns the counts at every step and asserts the round trip restores
    the base cardinality -- the ACID-ish maintenance-stream story
    (operators/mutations.ManagedParquetTable: versioned snapshots, atomic
    pointer commit).  The oracle derives every expected count from the
    base tables; the Spark side earns them by doing the actual writes."""
    from ..operators import mutations

    t = catalog.load(spark, sf_dir)
    n_ob = t.orders.count()
    n_lb = t.lineitem.count()
    rf_orders = t.orders.filter(F.col("o_orderkey") % RF_MOD == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + RF_SHIFT
    )
    # the synthetic lineitem carries duplicate (orderkey, linenumber)
    # pairs, so the RF1 batch renumbers its lines deterministically --
    # merge_upsert requires UNIQUE source keys (Delta's
    # multiple-source-rows-matched rule); batch size is unchanged
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )
    rf_lines = (
        t.lineitem.filter(F.col("l_orderkey") % RF_MOD == 0)
        .withColumn("l_linenumber", F.row_number().over(_w))
        .withColumn("l_orderkey", F.col("l_orderkey") + RF_SHIFT)
    )
    to = mutations.temp_table(spark, t.orders)
    tl = mutations.temp_table(spark, t.lineitem)
    up_o, ins_o = to.merge_upsert(rf_orders, ("o_orderkey",))
    up_l, ins_l = tl.merge_upsert(rf_lines, ("l_orderkey", "l_linenumber"))
    assert up_o == 0 and up_l == 0, "RF1 keys must all be new"
    n_o1 = to.read().count()
    n_l1 = tl.read().count()
    del_o = to.delete_where(F.col("o_orderkey") >= RF_SHIFT)
    del_l = tl.delete_where(F.col("l_orderkey") >= RF_SHIFT)
    n_o2 = to.read().count()
    n_l2 = tl.read().count()
    ok = (
        del_o == ins_o and del_l == ins_l and n_o2 == n_ob and n_l2 == n_lb
    )
    return spark.createDataFrame(
        [(n_ob, ins_o, n_o1, n_lb, ins_l, n_l1, n_o2, n_l2, bool(ok))],
        "n_orders_base long, n_rf1_orders long, n_orders_after_rf1 long, "
        "n_line_base long, n_rf1_lines long, n_line_after_rf1 long, "
        "n_orders_after_rf2 long, n_line_after_rf2 long, roundtrip_ok boolean",
    )
