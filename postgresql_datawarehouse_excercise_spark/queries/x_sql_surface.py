"""Extended SQL surface beyond the reference (SURVEY.md §7.4 extensions).

The reference exercises inner/semi/cross joins, plain GROUP BY, default-frame
windows, and top-k (SURVEY.md §2).  This module widens the engine to the SQL
surface a reference user would expect next: multi-dimensional aggregation
(ROLLUP/CUBE/GROUPING SETS), ranking and offset window functions, explicit
frames, set operations, outer/anti joins, HAVING, EXISTS-semi, pivot, scalar
subqueries, and approximate distinct — each a built-in Spark operator with a
DuckDB oracle twin (approx_count_distinct is estimator-specific, so it gets
a rows-only check plus an accuracy pytest).

Determinism rules: every window ORDER BY ends in a unique key; every monetary
aggregate goes through the exact-decimal helpers (functions/__init__.py).
Scale: all of these compile to standard hash-aggregate / window exchanges;
rollup/cube expand rows map-side (the `expand` operator) BEFORE the shuffle,
so partial aggregation still applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..functions import c100, dec, fround, money, ratio, sql_dec, sql_money
from ..session import materialize
from . import query


@query(
    "x_sql_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def x_sql_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): hierarchy subtotals + grand
    total; map-side Expand feeds one shuffle."""
    t = catalog.load(spark, sf_dir)
    return t.lineitem.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        money(F.sum(dec("l_quantity"))).alias("sum_qty"),
    )


@query(
    "x_sql_cube",
    oracle="""
SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, CAST(year(o_orderdate) AS INT))
""",
)
def x_sql_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, year): all 4 grouping combinations."""
    t = catalog.load(spark, sf_dir)
    return t.orders.cube(
        "o_orderpriority", F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total_price"),
    )


@query(
    "x_sql_grouping_sets",
    oracle="""
SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
       COUNT(*) AS n_customers
FROM customer
GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
""",
)
def x_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: segment totals, nation totals, grand total."""
    t = catalog.load(spark, sf_dir)
    return (
        t.customer.select("c_mktsegment", F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .groupingSets(
            [["c_mktsegment"], ["c_nationkey"], []], "c_mktsegment", "c_nationkey"
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "x_sql_ranking",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_custkey, c_acctbal,
       RANK()       OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROW_NUMBER() OVER w AS rn,
       NTILE(4)     OVER w AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
QUALIFY rn <= 5
""",
)
def x_sql_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (rank/dense_rank/row_number/ntile) with a unique-key
    tie-break; top-5 per nation via the row_number filter (the distributed
    per-group top-k idiom: one hash-partition window, no global sort)."""
    t = catalog.load(spark, sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        t.customer.select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.row_number().over(w).cast("long").alias("rn"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "x_sql_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(date_diff('day',
                      lag(CAST(o_orderdate AS DATE)) OVER w,
                      CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
       CAST(date_diff('day',
                      CAST(o_orderdate AS DATE),
                      lead(CAST(o_orderdate AS DATE)) OVER w) AS INT) AS days_to_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def x_sql_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset windows: per-customer inter-order gaps via lag/lead."""
    t = catalog.load(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        d.alias("o_orderdate"),
        F.datediff(d, F.lag(d).over(w)).alias("days_since_prev"),
        F.datediff(F.lead(d).over(w), d).alias("days_to_next"),
    )


@query(
    "x_sql_rows_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_sum3
FROM orders
""",
)
def x_sql_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame: 3-order moving spend per customer (the reference
    only uses default frames -- SURVEY.md §2-E)."""
    t = catalog.load(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        money(F.sum(dec("o_totalprice")).over(w)).alias("moving_sum3"),
    )


@query(
    "x_sql_setops",
    oracle="""
SELECT c_custkey, 'both' AS src FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
UNION ALL
SELECT c_custkey, 'only_building' AS src FROM (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
""",
)
def x_sql_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT / EXCEPT / UNION ALL composed."""
    t = catalog.load(spark, sf_dir)
    building = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = t.customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return building.intersect(rich).withColumn("src", F.lit("both")).unionAll(
        building.exceptAll(rich).distinct().withColumn("src", F.lit("only_building"))
    )


@query(
    "x_sql_left_join_zero_counts",
    oracle="""
SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
       CAST(ROUND(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0), 2) AS DOUBLE) AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1
""",
)
def x_sql_left_join_zero_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (count=0, spend=0)."""
    t = catalog.load(spark, sf_dir)
    return (
        t.customer.join(t.orders, t.customer.c_custkey == t.orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            money(F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))).alias("total_spend"),
        )
    )


@query(
    "x_sql_anti_join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
""",
)
def x_sql_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS twin): customers with no in-progress
    order.  The 'P' restriction keeps the result non-empty at every SF --
    the unrestricted "never ordered" form is 0 rows on the driver's data,
    which green-lights without checking any values."""
    t = catalog.load(spark, sf_dir)
    in_progress = t.orders.filter(F.col("o_orderstatus") == "P")
    return t.customer.join(
        in_progress, t.customer.c_custkey == in_progress.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "x_sql_exists_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
""",
)
def x_sql_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with a finished order."""
    t = catalog.load(spark, sf_dir)
    finished = t.orders.filter(F.col("o_orderstatus") == "F")
    return t.customer.join(
        finished, t.customer.c_custkey == finished.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "x_sql_having",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, COUNT(*) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_bal
FROM customer
GROUP BY 1
HAVING COUNT(*) > 20
""",
)
def x_sql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation predicate (filter above the agg node)."""
    t = catalog.load(spark, sf_dir)
    return (
        t.customer.groupBy(F.col("c_nationkey").cast("long").alias("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(F.sum(dec("c_acctbal"))).alias("total_bal"),
        )
        .filter(F.col("n_customers") > 20)
    )


@query(
    "x_sql_pivot",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS automobile,
       COUNT(*) FILTER (c_mktsegment = 'BUILDING')   AS building,
       COUNT(*) FILTER (c_mktsegment = 'FURNITURE')  AS furniture,
       COUNT(*) FILTER (c_mktsegment = 'HOUSEHOLD')  AS household,
       COUNT(*) FILTER (c_mktsegment = 'MACHINERY')  AS machinery
FROM customer GROUP BY 1
""",
)
def x_sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: segment counts per nation with a fixed value list (fixed list
    => no extra pass to discover values; single shuffle)."""
    t = catalog.load(spark, sf_dir)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    df = (
        t.customer.select(
            F.col("c_nationkey").cast("long").alias("c_nationkey"), "c_mktsegment"
        )
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", segs)
        .agg(F.count(F.lit(1)))
    )
    renames = {s: s.lower() for s in segs}
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df.na.fill(0, list(renames.values()))


@query(
    "x_sql_scalar_subquery",
    oracle="""
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
""",
)
def x_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery compare: customers above global average balance
    (broadcast 1-row cross join -- the reference's D3 scalar pattern)."""
    t = catalog.load(spark, sf_dir)
    avg_bal = t.customer.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        t.customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal")
    )


@query(
    "x_sql_approx_distinct",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       TRUE AS within_5pct
FROM orders GROUP BY 1
""",
)
def x_sql_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per order priority.  The sketch
    estimate is engine-specific, so the oracle-checked output is the exact
    distinct count plus a deterministic accuracy-bound boolean (estimate
    within 5% of exact); the tighter <2% bound on the raw estimate is
    asserted in tests/test_sql_surface.py."""
    t = catalog.load(spark, sf_dir)
    # Mixing a DISTINCT aggregate with approx_count_distinct in ONE agg makes
    # Spark carry the rsd=0.01 HLL buffer (~100 KB) through the per-(group,
    # custkey) distinct expansion — measured 10x the cost of either aggregate
    # alone at sf0.1.  HLL is duplicate-insensitive (registers are maxes over
    # the hashed value SET), so aggregating over the pre-deduped rows yields
    # the bit-identical estimate: one distinct shuffle of skinny rows, then a
    # tiny agg where COUNT(*) == the exact distinct count (guide §2.3:
    # aggregate before you shuffle the heavy buffers).
    # PRECONDITION (ADVICE r16): COUNT(*) over distinct rows == COUNT(DISTINCT
    # o_custkey) only because TPC-H o_custkey is NOT NULL -- countDistinct
    # ignores NULL keys while distinct()+COUNT(*) would count a NULL row.
    # Copying this pattern to a nullable column needs .filter(col.isNotNull()).
    return (
        t.orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers"),
            F.count(F.lit(1)).alias("exact_customers"),
        )
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx_customers") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers")
            ).alias("within_5pct"),
        )
    )


@query(
    "x_sql_percentiles",
    oracle="""
SELECT o_orderpriority,
       FLOOR((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_price,
       FLOOR((quantile_cont(o_totalprice, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90_price,
       FLOOR((quantile_cont(o_totalprice, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99_price
FROM orders GROUP BY 1
""",
)
def x_sql_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) per order priority --
    Spark `percentile` and DuckDB `quantile_cont` share the same linear-
    interpolation definition, so values match to rounding.  (The approximate
    sketch path is x_sql_approx_distinct; exact percentile sorts within
    groups and is the right tool at dimension-bounded cardinalities.)"""
    t = catalog.load(spark, sf_dir)
    return t.orders.groupBy("o_orderpriority").agg(
        fround(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        fround(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        fround(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99_price"),
    )


@query(
    "x_sql_posexplode",
    oracle="""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(unnest(range(len(embedding))) AS INT) AS pos,
       FLOOR((CAST(unnest(embedding) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS val
FROM embeddings WHERE vec_id < 4
""",
)
def x_sql_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-to-rows with ordinality (posexplode, the table-generating
    function surface): each embedding component becomes a (vec_id, pos, val)
    row.  Generate is a pure map-side operator -- rows fan out inside the
    scan's partition, no shuffle at any scale."""
    t = catalog.load(spark, sf_dir)
    return (
        t.embeddings.filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.posexplode(F.col("embedding")),
        )
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            fround(F.col("col").cast("double"), 6).alias("val"),
        )
    )


@query(
    "x_sql_argmax",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       arg_max(c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey) AS top_custkey,
       MAX(c_acctbal) AS top_acctbal
FROM customer GROUP BY 1
""",
)
def x_sql_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-selection aggregate: the top customer per nation via max_by
    (one hash-aggregate -- no window, no join).  The composite ordering
    (acctbal, custkey tie-break) is encoded as one BIGINT because DuckDB's
    arg_max takes a scalar ordering; 2-dp balances and custkey < 1e7 make
    the encoding exact and monotone in both engines."""
    t = catalog.load(spark, sf_dir)
    ordering = (
        F.round(F.col("c_acctbal") * 100).cast("long") * F.lit(10_000_000)
        + F.col("c_custkey")
    )
    return t.customer.groupBy(
        F.col("c_nationkey").cast("long").alias("c_nationkey")
    ).agg(
        F.max_by("c_custkey", ordering).alias("top_custkey"),
        F.max("c_acctbal").alias("top_acctbal"),
    )


@query(
    "x_sql_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
)
""",
)
def x_sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide->long, the inverse of x_sql_pivot): each lineitem
    measure becomes a (key, measure, value) row.  Like posexplode this is a
    pure map-side Expand -- rows fan out inside the scan partition with no
    shuffle, so it scales with input splits.  Values pass through unrounded:
    both engines read the identical parquet doubles."""
    t = catalog.load(spark, sf_dir)
    return t.lineitem.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@query(
    "x_sql_value_windows",
    oracle="""
SELECT o_custkey, o_orderkey,
       first_value(o_orderkey) OVER w  AS first_order,
       last_value(o_orderkey)  OVER wf AS last_order,
       nth_value(o_orderkey, 2) OVER wf AS second_order,
       FLOOR((percent_rank() OVER w) * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
       FLOOR((cume_dist()    OVER w) * 1000000.0 + 0.5) / 1000000.0 AS cume
FROM orders
WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def x_sql_value_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic value windows (first_value / last_value / nth_value) plus
    relative-position ranks (percent_rank / cume_dist), per customer ordered
    by (date, key).  last/nth use the full-partition ROWS frame -- the
    default RANGE frame would stop at CURRENT ROW.  percent_rank is
    (rank-1)/(n-1) in both engines, so 6-dp rounding matches exactly."""
    t = catalog.load(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wf).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_order"),
        fround(F.percent_rank().over(w), 6).alias("pct_rank"),
        fround(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "x_sql_range_frame",
    oracle="""
WITH d AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey, day,
       CAST(ROUND(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY day
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) / 100.0, 2) AS DOUBLE)
         AS trailing_30d_spend
FROM d
""",
)
def x_sql_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with a numeric offset: per-customer trailing-30-day spend
    (value-based frame -- peers with the same order day share one frame, so
    the result is deterministic under ties, unlike a ROWS frame would be).
    The sum shuffles exact long cents; the divide runs once per output row.
    The reference only ever uses the default RANGE frame (SURVEY.md §2-E6)."""
    t = catalog.load(spark, sf_dir)
    d = t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("int")
        .alias("day"),
        c100("o_totalprice").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
    return d.select(
        "o_custkey",
        "o_orderkey",
        "day",
        F.round(F.sum("cents").over(w) / 100.0, 2).cast("double").alias("trailing_30d_spend"),
    )


@query(
    "x_sql_stats_moments",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sqq,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sp,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS spp,
         SUM(CAST(ROUND(l_quantity * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       FLOOR((CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 100) * 1000000.0 + 0.5) / 1000000.0 AS mean_qty,
       FLOOR((sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                  / CAST(n - 1 AS DOUBLE)) / 100) * 1000000.0 + 0.5) / 1000000.0 AS stddev_qty,
       FLOOR(((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_price
FROM s ORDER BY l_returnflag
""",
)
def x_sql_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments (mean, sample stddev, Pearson correlation) from
    EXACT integer-cents power sums: the shuffled aggregate carries only
    order-independent integer sums (double moment accumulators are not
    associative-stable across partitionings), and the floating formula runs
    once per group on identical inputs in both engines.  Correlation is
    computed on cents directly -- it is scale-invariant."""
    t = catalog.load(spark, sf_dir)
    qc = F.round(F.col("l_quantity") * 100).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100).cast("long")
    d38 = "decimal(38,0)"
    s = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sq"),
        F.sum((qc * qc).cast(d38)).alias("sqq"),
        F.sum(pc).alias("sp"),
        F.sum((pc * pc).cast(d38)).alias("spp"),
        F.sum((qc * pc).cast(d38)).alias("sqp"),
    )
    n, sq, sqq = F.col("n").cast("double"), F.col("sq").cast("double"), F.col("sqq").cast("double")
    sp, spp, sqp = F.col("sp").cast("double"), F.col("spp").cast("double"), F.col("sqp").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        fround(sq / n / 100, 6).alias("mean_qty"),
        fround(F.sqrt((sqq - sq * sq / n) / (n - F.lit(1.0))) / 100, 6).alias("stddev_qty"),
        fround((n * sqp - sq * sp)
            / F.sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)),
            6, ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


@query(
    "x_sql_null_semantics",
    oracle="""
WITH d AS (
  SELECT NULLIF(l_returnflag, 'N') AS fk, NULLIF(l_linestatus, 'O') AS sk
  FROM lineitem
)
SELECT COALESCE(fk, '<open>') AS flag,
       COUNT(*) AS n_rows,
       COUNT(sk) AS n_closed_status,
       CAST(SUM(CASE WHEN fk IS NOT DISTINCT FROM sk THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_safe_eq
FROM d GROUP BY fk
""",
)
def x_sql_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics surface: NULLIF manufactures nulls from clean columns,
    COUNT(col) skips them while COUNT(*) keeps them, grouping collects all
    nulls into ONE group, COALESCE renders them, and <=> (null-safe equality
    / IS NOT DISTINCT FROM) treats NULL=NULL as true where plain = yields
    NULL.  Exercised because parquet at 100 TB always carries nulls and
    every one of these constructs changes aggregate results silently."""
    t = catalog.load(spark, sf_dir)
    d = t.lineitem.select(
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("fk"),
        F.nullif(F.col("l_linestatus"), F.lit("O")).alias("sk"),
    )
    return d.groupBy("fk").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("sk").alias("n_closed_status"),
        F.sum(F.when(F.col("fk").eqNullSafe(F.col("sk")), 1).otherwise(0))
        .cast("long")
        .alias("n_null_safe_eq"),
    ).select(
        F.coalesce(F.col("fk"), F.lit("<open>")).alias("flag"),
        "n_rows",
        "n_closed_status",
        "n_null_safe_eq",
    )


@query(
    "x_sql_collect_agg",
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
       array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS priorities,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
""",
)
def x_sql_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation (collect_list / collect_set): each customer's full
    sorted order-key list and distinct priority set -- the groupBy->array
    primitive that feeds per-key feature vectors and session logs.  Arrays
    are SORTED (collect order is partition-dependent in any distributed
    engine) and then serialized to a comma-joined string: the driver's
    comparator sorts rows per column and list cells are unhashable there
    (CORRECTNESS r2 crash).  Scale: one shuffle; per-key lists must fit an
    executor row -- cap with slice() upstream if a key can be unbounded."""
    t = catalog.load(spark, sf_dir)
    return t.orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("order_keys"),
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "x_sql_strings",
    oracle="""
SELECT p_partkey,
       CAST(length(p_name) AS BIGINT) AS name_len,
       upper(substr(p_name, 1, 8)) AS prefix8,
       replace(p_name, ' ', '_') AS snake_name,
       lpad(CAST(p_partkey AS VARCHAR), 12, '0') AS padded_key,
       concat_ws('|', p_brand, p_type) AS brand_type,
       CAST(instr(p_name, 'an') AS BIGINT) AS an_pos,
       CAST(levenshtein(p_brand, 'Brand#33') AS BIGINT) AS brand_dist
FROM part
""",
)
def x_sql_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part: length / substring+upper /
    replace / lpad zero-padding (stable sort keys from numeric ids) /
    concat_ws / 1-based instr position (0 = absent, both engines) /
    levenshtein edit distance (the fuzzy-match primitive).  All are
    per-row JVM expressions inside one codegen stage -- no shuffle, no UDF."""
    t = catalog.load(spark, sf_dir)
    return t.part.select(
        "p_partkey",
        F.length("p_name").cast("long").alias("name_len"),
        F.upper(F.substring("p_name", 1, 8)).alias("prefix8"),
        F.regexp_replace("p_name", " ", "_").alias("snake_name"),
        F.lpad(F.col("p_partkey").cast("string"), 12, "0").alias("padded_key"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.instr(F.col("p_name"), "an").cast("long").alias("an_pos"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#33")).cast("long").alias("brand_dist"),
    )


@query(
    "x_sql_datetime",
    oracle="""
WITH d AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders)
SELECT o_orderkey,
       date_trunc('month', od) AS month_start,
       last_day(od) AS month_end,
       CAST(od + INTERVAL 3 MONTH AS DATE) AS plus3m,
       CAST(quarter(od) AS BIGINT) AS qtr,
       CAST(isodow(od) AS BIGINT) AS iso_weekday,
       CAST(year(od) * 100 + month(od) AS BIGINT) AS yyyymm
FROM d
""",
)
def x_sql_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface beyond the reference's to_char/extract (SURVEY.md
    section 2-H): month truncation and last_day (partition boundaries),
    add_months with end-of-month clamping (both engines clamp Jan 31 + 1mo
    to Feb end), quarter, ISO weekday (Monday=1 -- Spark's weekday()+1 ==
    DuckDB's isodow), and the yyyymm partition key every date-partitioned
    100 TB table is laid out by.  Pure per-row projection, no shuffle."""
    t = catalog.load(spark, sf_dir)
    od = F.col("o_orderdate").cast("date")
    return t.orders.select(
        "o_orderkey",
        F.trunc(od, "month").alias("month_start"),
        F.last_day(od).alias("month_end"),
        F.add_months(od, 3).alias("plus3m"),
        F.quarter(od).cast("long").alias("qtr"),
        (F.weekday(od) + 1).cast("long").alias("iso_weekday"),
        (F.year(od) * 100 + F.month(od)).cast("long").alias("yyyymm"),
    )


@query(
    "x_sql_approx_percentile",
    oracle="""
SELECT o_orderpriority,
       FLOOR((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 AS median_exact,
       FLOOR((quantile_cont(o_totalprice, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99_exact,
       TRUE AS median_within_5pct,
       TRUE AS p99_within_5pct
FROM orders GROUP BY 1
""",
)
def x_sql_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch -- the mergeable one-pass quantile path
    for 100 TB, where exact percentile would sort every group) next to the
    exact interpolated percentile.  Like x_sql_approx_distinct, the sketch
    value is engine-specific, so the oracle-checked output is the exact
    value plus deterministic accuracy-bound booleans (sketch within 5% of
    exact at accuracy=10000)."""
    t = catalog.load(spark, sf_dir)
    approx = F.approx_percentile(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.99)), F.lit(10_000)
    )
    agg = t.orders.groupBy("o_orderpriority").agg(
        fround(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_exact"),
        fround(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99_exact"),
        approx.alias("ap"),
    )
    return agg.select(
        "o_orderpriority",
        "median_exact",
        "p99_exact",
        (
            F.abs(F.col("ap")[0] - F.col("median_exact"))
            <= 0.05 * F.abs(F.col("median_exact"))
        ).alias("median_within_5pct"),
        (
            F.abs(F.col("ap")[1] - F.col("p99_exact"))
            <= 0.05 * F.abs(F.col("p99_exact"))
        ).alias("p99_within_5pct"),
    )


@query(
    "x_sql_lateral_topn",
    oracle="""
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM nation n, LATERAL (
  SELECT c_custkey, c_acctbal FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
) c
""",
)
def x_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (top-2 customers per nation by
    balance, unique-key tie-break) through the spark.sql surface -- the
    per-row-subquery shape Catalyst decorrelates into a ranked join rather
    than executing N nested queries.  Same SQL text runs on both engines."""
    t = catalog.load(spark, sf_dir)
    t.nation.createOrReplaceTempView("lateral_nation")
    t.customer.createOrReplaceTempView("lateral_customer")
    return spark.sql("""
      SELECT n.n_name, c.c_custkey, c.c_acctbal
      FROM lateral_nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM lateral_customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
      ) c
    """)


@query(
    "x_sql_recursive_cte",
    oracle="""
WITH RECURSIVE chain(start_key, cur, depth, chain_cost) AS (
  SELECT p_partkey, p_partkey, 0,
         CAST(p_retailprice AS DECIMAL(18,2))
  FROM part WHERE p_partkey < 256
  UNION ALL
  SELECT c.start_key, p.p_partkey, c.depth + 1,
         CAST(c.chain_cost + CAST(p.p_retailprice AS DECIMAL(18,2))
              AS DECIMAL(18,2))
  FROM chain c JOIN part p ON p.p_partkey = (c.cur - 1) // 2
  WHERE c.cur > 0
)
SELECT start_key, CAST(MAX(depth) AS INT) AS depth,
       CAST(MAX(chain_cost) AS DOUBLE) AS chain_cost
FROM chain GROUP BY start_key
""",
)
def x_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 recursive CTE): bill-of-materials-style
    hierarchy walk -- every part's assembly chain to the root under the
    implicit parent = (key-1)/2 tree, accumulating exact-decimal cost along
    the path.  Each recursion step is one equi-join against the parts
    relation (depth <= log2(max key) rounds, no driver loop); the
    monotone-depth accumulator keeps the recursion finite on both engines.
    The same WITH RECURSIVE text (modulo integer-division spelling) runs on
    DuckDB as the oracle."""
    t = catalog.load(spark, sf_dir)
    t.part.createOrReplaceTempView("rec_part")
    return spark.sql("""
      WITH RECURSIVE chain(start_key, cur, depth, chain_cost) AS (
        SELECT p_partkey, p_partkey, 0,
               CAST(p_retailprice AS DECIMAL(18,2))
        FROM rec_part WHERE p_partkey < 256
        UNION ALL
        SELECT c.start_key, p.p_partkey, c.depth + 1,
               CAST(c.chain_cost + CAST(p.p_retailprice AS DECIMAL(18,2))
                    AS DECIMAL(18,2))
        FROM chain c JOIN rec_part p ON p.p_partkey = (c.cur - 1) DIV 2
        WHERE c.cur > 0
      )
      SELECT start_key, CAST(MAX(depth) AS INT) AS depth,
             CAST(MAX(chain_cost) AS DOUBLE) AS chain_cost
      FROM chain GROUP BY start_key
    """)


@query(
    "x_sql_variant_json",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS distinct_k
FROM events
GROUP BY event_type
""",
)
def x_sql_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    parse_json once per row into the binary variant encoding, then typed
    path extraction with variant_get -- the columnar-shredded path for
    JSON event payloads (parse once, extract many, no per-extraction
    re-parse of the text).  The DuckDB oracle extracts the same paths
    with its JSON operators."""
    t = catalog.load(spark, sf_dir)
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        t.events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count_distinct(F.col("k")).alias("distinct_k"),
        )
    )


@query(
    "x_sql_udf_scalar",
    oracle="""
SELECT o_orderstatus,
       CASE WHEN o_totalprice >= 200000 THEN 'large'
            WHEN o_totalprice >= 50000 THEN 'mid'
            ELSE 'small' END AS band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2
""",
)
def x_sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL user-defined functions (CREATE FUNCTION ... RETURN
    <expr>): the banding rule is declared ONCE as a catalog function and
    every query calls it by name -- the reusable-business-logic surface a
    warehouse user expects from CREATE FUNCTION in the reference engine.
    Unlike a Python UDF, the body INLINES into the plan at analysis time
    (pure Catalyst expression, whole-stage codegen, zero serialization
    boundary), so this is free at 100 TB.  The oracle states the same
    expression inline -- which is exactly what the analyzer sees."""
    t = catalog.load(spark, sf_dir)
    t.orders.createOrReplaceTempView("udf_orders")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pdwx_price_band(x DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN x >= 200000 THEN 'large'
                    WHEN x >= 50000 THEN 'mid'
                    ELSE 'small' END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION pdwx_money(x DECIMAL(28,2))
        RETURNS DOUBLE
        RETURN CAST(round(x, 2) AS DOUBLE)
        """
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               pdwx_price_band(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               pdwx_money(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS total_price
        FROM udf_orders
        GROUP BY o_orderstatus, pdwx_price_band(o_totalprice)
        """
    )


@query(
    "x_sql_try_arithmetic",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         regexp_extract(text, '([0-9]+)', 1) AS first_num,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id,
       TRY_CAST(first_num AS BIGINT) AS first_num,
       TRY_CAST(first_num AS BIGINT) / nullif(n_chars - n_chars, 0) AS div_by_zero,
       TRY_CAST('9999999999999999999999' AS BIGINT) AS overflow_cast,
       TRY_CAST(concat('x', first_num) AS BIGINT) AS malformed_cast
FROM raw
""",
)
def x_sql_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant expression surface: TRY_CAST of extracted /
    malformed / overflowing strings and try_divide-by-zero all yield NULL
    instead of failing the job -- the ingestion-safety semantics (ANSI
    mode with graceful degradation) a permissive pipeline needs beyond
    PERMISSIVE-mode parsing.  Pure JVM expressions over one pruned scan;
    DuckDB's TRY_CAST + NULLIF division mirror each case exactly."""
    t = catalog.load(spark, sf_dir)
    first_num = F.regexp_extract("text", r"([0-9]+)", 1)
    return t.documents.select(
        "doc_id",
        first_num.try_cast("bigint").alias("first_num"),
        F.try_divide(
            first_num.try_cast("bigint"),
            F.col("n_chars") - F.col("n_chars"),
        ).alias("div_by_zero"),
        F.lit("9999999999999999999999").try_cast("bigint").alias("overflow_cast"),
        F.concat(F.lit("x"), first_num).try_cast("bigint").alias("malformed_cast"),
    )


@query(
    "x_sql_observe_metrics",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
       {sql_money(f"SUM({sql_dec('o_totalprice')})")} AS total_price
FROM orders
""",
)
def x_sql_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API (df.observe): accumulator-backed metrics
    collected DURING a pass -- the data-quality/row-count telemetry a
    production pipeline attaches to its writes (count every batch without
    a second scan).  The entry observes count / conditional count / exact
    decimal sum over one orders pass, then re-emits the observed values as
    its result, so the oracle verifies the accumulator arithmetic itself
    against plain SQL aggregates."""
    from decimal import Decimal

    from pyspark.sql import Observation

    t = catalog.load(spark, sf_dir)
    obs = Observation("order_stats")
    observed = t.orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
            "n_finished"
        ),
        F.sum(dec("o_totalprice")).alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    total = m["total_price"]
    total = float(round(total if isinstance(total, Decimal) else Decimal(str(total)), 2))
    return spark.createDataFrame(
        [(int(m["n_orders"]), int(m["n_finished"]), total)],
        "n_orders long, n_finished long, total_price double",
    )


HLL_M = 256  # registers (p = 8); standard error 1.04/sqrt(m) ~ 6.5%

_HLL_ORACLE = f"""
WITH vals AS (
  SELECT md5(CAST(l_orderkey AS VARCHAR)) AS hx, l_orderkey % 4 AS shard FROM lineitem
),
h AS (
  SELECT shard,
         CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS idx,
         CAST(concat('0x', substr(hx, 3, 8)) AS BIGINT) AS w
  FROM vals
),
rho AS (
  SELECT shard, idx,
         CASE WHEN w = 0 THEN 33
              ELSE strpos(lpad(bin(w), 32, '0'), '1') END AS r
  FROM h
),
shard_reg AS (SELECT shard, idx, MAX(r) AS m FROM rho GROUP BY 1, 2),
merged AS (SELECT idx, MAX(m) AS m FROM shard_reg GROUP BY 1),
direct AS (SELECT idx, MAX(r) AS m FROM rho GROUP BY 1),
mstats AS (
  SELECT SUM(m) AS rho_sum, COUNT(*) AS nz, SUM(power(2.0, -m)) AS z_part
  FROM merged
),
eq AS (
  SELECT COUNT(*) = 0 AS same FROM (
    SELECT idx, m FROM merged EXCEPT SELECT idx, m FROM direct
    UNION ALL
    SELECT idx, m FROM direct EXCEPT SELECT idx, m FROM merged
  )
)
SELECT CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS BIGINT) AS exact_keys,
       CAST(rho_sum AS BIGINT) AS rho_sum,
       CAST(nz AS BIGINT) AS nonzero_registers,
       FLOOR((0.7213 / (1.0 + 1.079/{HLL_M}.0)) * {HLL_M}.0 * {HLL_M}.0
             / (z_part + ({HLL_M} - nz) * 1.0) * 10000.0 + 0.5) / 10000.0 AS hll_estimate,
       (SELECT same FROM eq) AS merged_equals_direct
FROM mstats
"""


@query("x_sql_hll_sketch", oracle=_HLL_ORACLE)
def x_sql_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built mergeable HyperLogLog (Flajolet et al. 2007) over
    lineitem's order keys -- the sketch whose STATE the oracle can verify,
    complementing x_sql_approx_distinct where the builtin HLL++ estimate is
    engine-internal and only an accuracy bound is checkable.

    Register state is 256 (index, max-rho) rows: index = first md5 byte,
    rho = 1-based position of the leftmost 1-bit in the next 32 hash bits.
    Mergeability is exercised, not assumed: sketches are built per shard
    (l_orderkey % 4) and merged with a second MAX -- the merged register
    set must equal the direct single-pass registers (merged_equals_direct).
    The register fingerprint (rho_sum, nonzero count) is integer-exact
    cross-engine; the harmonic sum is 256 terms of the form 2^-r with
    r <= 33, every partial sum exactly representable in a double (33 + 8
    mantissa bits < 53), so the estimate itself is bit-identical in any
    summation order and quantizes cleanly.

    Scale design (100 TB): this is the distinct-count-at-scale primitive --
    per-partition register maps merge associatively (map-side combine on
    the (shard, idx) groupBy keys), the final state is m=256 rows no
    matter the input size, and sketches persist/merge across days the way
    the streaming count-min entry's state does.  The small-range linear-
    counting correction branch (E <= 2.5m with empty registers) is
    deliberately out of scope: it needs ln(), which is libm-dependent;
    inputs here keep E well above it (asserted in tests)."""
    t = catalog.load(spark, sf_dir)
    hx = F.md5(F.col("l_orderkey").cast("string"))
    h = t.lineitem.select(
        (F.col("l_orderkey") % 4).alias("shard"),
        F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("idx"),
        F.conv(F.substring(hx, 3, 8), 16, 10).cast("long").alias("w"),
    )
    rho = h.select(
        "shard",
        "idx",
        F.when(F.col("w") == 0, F.lit(33))
        .otherwise(F.instr(F.lpad(F.bin(F.col("w")), 32, "0"), "1"))
        .cast("long")
        .alias("r"),
    )
    shard_reg = rho.groupBy("shard", "idx").agg(F.max("r").alias("m"))
    merged = shard_reg.groupBy("idx").agg(F.max("m").alias("m"))
    direct = rho.groupBy("idx").agg(F.max("r").alias("m"))
    mstats = merged.agg(
        F.sum("m").cast("long").alias("rho_sum"),
        F.count(F.lit(1)).cast("long").alias("nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("z_part"),
    )
    same = (
        merged.exceptAll(direct)
        .unionAll(direct.exceptAll(merged))
        .agg((F.count(F.lit(1)) == 0).alias("merged_equals_direct"))
    )
    exact = t.lineitem.agg(
        F.countDistinct("l_orderkey").cast("long").alias("exact_keys")
    )
    alpha = 0.7213 / (1.0 + 1.079 / HLL_M)
    return (
        exact.crossJoin(F.broadcast(mstats))
        .crossJoin(F.broadcast(same))
        .select(
            "exact_keys",
            "rho_sum",
            F.col("nz").alias("nonzero_registers"),
            fround(
                F.lit(alpha)
                * F.lit(float(HLL_M))
                * F.lit(float(HLL_M))
                / (F.col("z_part") + (F.lit(HLL_M) - F.col("nz")) * F.lit(1.0)),
                4,
            ).alias("hll_estimate"),
            "merged_equals_direct",
        )
    )


@query(
    "x_sql_higher_order",
    oracle=r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
)
SELECT doc_id,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(tk, x -> length(x) >= 5)) AS BIGINT) AS n_long,
       CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT)
         AS sum_len,
       list_contains(tk, 'spark') AS has_spark,
       CAST(COALESCE(list_max(list_transform(tk, x -> length(x))), 0) AS BIGINT)
         AS max_len,
       CAST(COALESCE(list_position(tk, 'spark'), 0) AS BIGINT) AS spark_pos
FROM toks
""",
)
def x_sql_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions -- transform / filter / aggregate
    (fold) / exists / array_max / array_position -- the lambda surface that
    keeps per-row collection logic INSIDE whole-stage codegen instead of
    exploding rows or dropping to Python.  At 100 TB the difference is a
    zero-shuffle narrow map over each split vs an explode -> groupBy
    round-trip per document.  DuckDB twins: list_transform / list_filter /
    list_sum / list_contains / list_max / list_position."""
    t = catalog.load(spark, sf_dir)
    tk = F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    d = t.documents.select(F.col("doc_id").cast("long").alias("doc_id"), tk.alias("tk"))
    return d.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.expr("size(filter(tk, x -> length(x) >= 5))").cast("long").alias("n_long"),
        F.expr("aggregate(tk, 0L, (acc, x) -> acc + length(x))")
        .cast("long")
        .alias("sum_len"),
        F.expr("exists(tk, x -> x = 'spark')").alias("has_spark"),
        F.coalesce(F.expr("array_max(transform(tk, x -> length(x)))"), F.lit(0))
        .cast("long")
        .alias("max_len"),
        F.expr("array_position(tk, 'spark')").cast("long").alias("spark_pos"),
    )


@query(
    "x_sql_runtime_bloom_join",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_money(f"SUM({sql_dec('l_extendedprice')})")} AS total_price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderpriority
""",
)
def x_sql_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning (Spark's InjectRuntimeFilter): the
    big-join lever left when BOTH sides outgrow the broadcast lane.  The
    optimizer builds a bloom filter over the keys of the FILTERED orders
    slice and pushes `might_contain(xxhash64(l_orderkey))` into the
    lineitem side BEFORE its exchange, so the ~80% of lineitem rows whose
    order is not urgent never enter the shuffle -- the runtime semi-join
    analog of static predicate pushdown.  Measured honestly at the 100x
    probe (60M-row lineitem, local[32]): bloom ON 10.0 s vs OFF 5.1 s, and
    the gap persists even at 0.2% build-side selectivity -- in local mode
    the shuffle is memory-speed, so there is no IO for the pruned rows to
    save while the build subquery adds a fixed pre-job.  The lever is real
    where shuffle crosses a network (the 1000-executor regime this entry
    exists to demonstrate); the measurement is recorded in BENCH.md so the
    local cost is never mistaken for the cluster economics.

    At gate scale AQE would broadcast the slice and the filter would never
    inject (it only guards shuffle joins), so the entry emulates the
    at-scale regime inside an EAGER conf window -- broadcast thresholds -1,
    application-side scan threshold 0 -- checkpoints the result, and
    restores every conf in finally (physical planning is lazy; without the
    eager checkpoint the restored confs would re-plan the broadcast join
    and the demonstration would silently vanish).  The injected
    might_contain + the bloom build aggregate are pinned on the plan in
    tests/test_plans.py; values are pinned against the plain join oracle --
    a runtime filter may never change the answer (no false negatives)."""
    t = catalog.load(spark, sf_dir)  # before the window: load re-applies confs
    window = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old: dict[str, str | None] = {}
    for k, v in window.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        return (
            t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                money(F.sum(dec("l_extendedprice"))).alias("total_price"),
            )
            .transform(materialize, "result")
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


HIST_B = 64  # equi-width buckets; estimate error bound = one bucket width

_HIST_EST_SQL = """
  SELECT FLOOR(((CAST(lo + w * bucket AS DOUBLE)
         + CAST(w * (FLOOR({q} * CAST(n - 1 AS DOUBLE)) + 1 - cum + cnt) AS DOUBLE)
           / CAST(cnt AS DOUBLE)) / 100.0) * 10000.0 + 0.5) / 10000.0 AS v
  FROM cum CROSS JOIN wd
  WHERE cum >= FLOOR({q} * CAST(n - 1 AS DOUBLE)) + 1
  ORDER BY bucket LIMIT 1
"""

_HIST_ORACLE = f"""
WITH c AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
         l_orderkey % 4 AS shard
  FROM lineitem
),
rng AS (SELECT MIN(c) AS lo, MAX(c) AS hi, CAST(COUNT(*) AS BIGINT) AS n FROM c),
wd AS (SELECT lo, hi, n, (hi - lo) // {HIST_B} + 1 AS w FROM rng),
b AS (SELECT shard, (c.c - wd.lo) // wd.w AS bucket FROM c CROSS JOIN wd),
shard_reg AS (SELECT shard, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
merged AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM shard_reg GROUP BY 1),
direct AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
eq AS (
  SELECT COUNT(*) = 0 AS same FROM (
    SELECT bucket, cnt FROM merged EXCEPT SELECT bucket, cnt FROM direct
    UNION ALL
    SELECT bucket, cnt FROM direct EXCEPT SELECT bucket, cnt FROM merged
  )
),
cum AS (
  SELECT bucket, cnt,
         CAST(SUM(cnt) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM merged
),
exactq AS (SELECT quantile_cont(CAST(c AS DOUBLE) / 100.0, [0.5, 0.9, 0.99]) AS p FROM c)
SELECT rng.n AS n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM merged) AS nonzero_buckets,
       (SELECT CAST(SUM(bucket * cnt) AS BIGINT) FROM merged) AS state_fp,
       (SELECT same FROM eq) AS merged_equals_direct,
       ({_HIST_EST_SQL.format(q='0.5')}) AS est_p50,
       ({_HIST_EST_SQL.format(q='0.9')}) AS est_p90,
       ({_HIST_EST_SQL.format(q='0.99')}) AS est_p99,
       FLOOR(p[1] * 10000.0 + 0.5) / 10000.0 AS exact_p50,
       FLOOR(p[2] * 10000.0 + 0.5) / 10000.0 AS exact_p90,
       FLOOR(p[3] * 10000.0 + 0.5) / 10000.0 AS exact_p99
FROM rng CROSS JOIN exactq
"""


@query("x_sql_histogram_sketch", oracle=_HIST_ORACLE)
def x_sql_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch over lineitem's
    extended price -- the QUANTILE member of the hand-built sketch family
    (x_sql_hll_sketch = distinct count, x_text_countmin_hh = frequency),
    and the shape behind engine column statistics (Spark's ANALYZE
    histogram, Postgres pg_stats buckets): 64 fixed-width buckets
    over the observed [min, max] cents range, quantiles read off the
    cumulative histogram with within-bucket linear interpolation, reported
    BESIDE the exact interpolated percentiles so the sketch's error is
    visible in the row itself.  The true error bound -- pinned in
    tests/test_sql_surface.py -- is one bucket width against the
    rank-floor(q*(n-1))+1 ORDER STATISTIC (that value provably lies in
    the selected bucket); the interpolated percentile leans toward the
    NEXT order statistic, which a sparse tail can place buckets higher,
    so against it the distance is informative, not bounded.

    Everything countable is exact int64: values are 2-dp cents, the bucket
    id is pure integer division, the state fingerprint is SUM(bucket*cnt).
    Mergeability is exercised, not assumed (the hll_sketch discipline):
    per-shard histograms (l_orderkey % 4) merge by a second SUM and must
    equal the direct single-pass bucket counts.  The one float per
    estimate is the within-bucket interpolation division, then the
    established floor-half-up 1e-4 quantization; Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)*q interpolation definition on
    identical doubles (the ccnet_buckets precedent).

    Scale design (100 TB): bucket counts map-side combine to <= 64
    rows per partition -- the shuffle carries KBs no matter the input; the
    state is {HIST_B} (bucket, cnt) rows that persist/merge across shards
    or days exactly like the HLL registers; the cumulative window runs on
    the {HIST_B}-row state (the SinglePartition there is the bounded
    sketch state, not data).  The exact-percentile arm is the verification
    baseline, not the production path."""
    from pyspark.sql import Window

    t = catalog.load(spark, sf_dir)
    base = t.lineitem.select(
        c100("l_extendedprice").alias("c"),
        (F.col("l_orderkey") % 4).alias("shard"),
    )
    rng = base.agg(
        F.min("c").alias("lo"),
        F.max("c").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wd = rng.select(
        "lo", "hi", "n", F.expr(f"(hi - lo) DIV {HIST_B} + 1").alias("w")
    )
    b = base.crossJoin(F.broadcast(wd)).select(
        "shard", F.expr("(c - lo) DIV w").alias("bucket"), "n", "lo", "w"
    )
    shard_reg = b.groupBy("shard", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    merged = shard_reg.groupBy("bucket").agg(F.sum("cnt").cast("long").alias("cnt"))
    direct = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    same = (
        merged.exceptAll(direct.select("bucket", "cnt"))
        .unionAll(direct.select("bucket", "cnt").exceptAll(merged))
        .agg((F.count(F.lit(1)) == 0).alias("merged_equals_direct"))
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bucket", "cnt", F.sum("cnt").over(wcum).cast("long").alias("cum")
    )

    def est(alias: str, q: float) -> DataFrame:
        k1 = F.floor(F.lit(q) * (F.col("n") - 1).cast("double")) + 1
        lower = (F.col("lo") + F.col("w") * F.col("bucket")).cast("double")
        interp = (
            (F.col("w") * (k1 - F.col("cum") + F.col("cnt"))).cast("double")
            / F.col("cnt").cast("double")
        )
        picked = (
            cum.crossJoin(F.broadcast(wd))
            .filter(F.col("cum") >= k1)
            .orderBy("bucket")
            .limit(1)
            .select(fround((lower + interp) / F.lit(100.0), 4).alias(alias))
        )
        # 1-row aggregate over the <=1-row pick: value-identical when a
        # bucket matched, and a NULL row (not a vanished row) on an empty
        # input -- matching the oracle's scalar-subquery semantics.
        return picked.agg(F.min(alias).alias(alias))

    exactq = base.select((F.col("c").cast("double") / F.lit(100.0)).alias("x")).agg(
        F.percentile(F.col("x"), F.lit([0.5, 0.9, 0.99])).alias("p")
    )
    state = merged.agg(
        F.count(F.lit(1)).cast("long").alias("nonzero_buckets"),
        F.sum(F.col("bucket") * F.col("cnt")).cast("long").alias("state_fp"),
    )
    return (
        rng.select(F.col("n").alias("n_rows"))
        .crossJoin(F.broadcast(state))
        .crossJoin(F.broadcast(same))
        .crossJoin(F.broadcast(est("est_p50", 0.5)))
        .crossJoin(F.broadcast(est("est_p90", 0.9)))
        .crossJoin(F.broadcast(est("est_p99", 0.99)))
        .crossJoin(
            F.broadcast(
                exactq.select(
                    fround(F.col("p")[0], 4).alias("exact_p50"),
                    fround(F.col("p")[1], 4).alias("exact_p90"),
                    fround(F.col("p")[2], 4).alias("exact_p99"),
                )
            )
        )
    )


BASKET_TOP = 20

_BASKET_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
tot AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM items),
pc AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS part_orders FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS pair_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
top AS (
  SELECT part_a, part_b, pair_orders
  FROM pairs ORDER BY pair_orders DESC, part_a ASC, part_b ASC LIMIT {BASKET_TOP}
)
SELECT t.part_a, t.part_b, t.pair_orders,
       ca.part_orders AS orders_a, cb.part_orders AS orders_b,
       FLOOR((CAST(t.pair_orders AS DOUBLE) * CAST(tot.n_orders AS DOUBLE)
              / (CAST(ca.part_orders AS DOUBLE) * CAST(cb.part_orders AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM top t
JOIN pc ca ON ca.l_partkey = t.part_a
JOIN pc cb ON cb.l_partkey = t.part_b
CROSS JOIN tot
"""


@query("x_sql_market_basket", oracle=_BASKET_ORACLE)
def x_sql_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the 2-itemset half of Apriori, the
    classic warehouse cross-sell report): top-20 co-purchased
    part pairs by order count, each with its LIFT --
    P(a,b) / (P(a) * P(b)) -- against the single-part order frequencies.

    Scale shape: the pair generator is a SELF-JOIN KEYED BY THE ORDER KEY
    (hash equi join, never a cartesian), so fanout is bounded by the max
    basket size squared (13 items -> <= 78 pairs here) regardless of
    corpus size; pair counting is one map-side-combined aggregate on the
    (a, b) key; top-k compiles to TakeOrderedAndProject; the two
    part-frequency joins run against the BOUNDED top-k relation and the
    1-row order total broadcasts.  The one float per output row is the
    lift division, 1e-6-quantized.

    The item-dedup is the entry's priciest exchange at scale (the 100x
    probe measured the first cut at 138 s because FOUR subtrees each
    re-derived it), so only the pair self-join consumes it -- its two
    sides are the same exchange (ReuseExchange) -- while the order total
    and the per-part order frequencies aggregate the RAW scan with
    count-distincts (partial_count_distinct combines map-side; no
    second dedup shuffle).  Re-measured at 100x: 138 -> 47 s uniform,
    118 -> 50 s on the skewed-basket shape."""
    t = catalog.load(spark, sf_dir)
    items = t.lineitem.select("l_orderkey", "l_partkey").distinct()
    tot = t.lineitem.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    pc = t.lineitem.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").cast("long").alias("part_orders")
    )
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_orders"))
    )
    top = pairs.orderBy(
        F.col("pair_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(BASKET_TOP)
    ca = pc.select(
        F.col("l_partkey").alias("part_a"), F.col("part_orders").alias("orders_a")
    )
    cb = pc.select(
        F.col("l_partkey").alias("part_b"), F.col("part_orders").alias("orders_b")
    )
    return (
        top.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            "orders_a",
            "orders_b",
            fround(
                F.col("pair_orders").cast("double")
                * F.col("n_orders").cast("double")
                / (
                    F.col("orders_a").cast("double")
                    * F.col("orders_b").cast("double")
                ),
                6,
            ).alias("lift"),
        )
    )
