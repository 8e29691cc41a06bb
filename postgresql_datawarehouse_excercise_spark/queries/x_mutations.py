"""Extension: in-place table mutation (operators/mutations.py).

The reference mutates its warehouse with `UPDATE ... WHERE`
(assignment-5.sql:13-15) on tables with declared constraints; this entry
exercises the engine's copy-on-write equivalent end-to-end on the driver's
tables: materialize customer as a partitioned ManagedParquetTable, run an
UPDATE and a DELETE through the partition-pruned COW path, and aggregate the
mutated snapshot.  The DuckDB oracle states the same mutations relationally
(CASE projection + anti-filter), so the value hash pins mutation semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..functions import money, sql_dec, sql_money, sum_c100
from ..session import materialize
from ..operators import mutations
from . import query

_UPDATE_PRED = "c_mktsegment = 'BUILDING' AND c_acctbal < 0"
_DELETE_PRED = "c_mktsegment = 'MACHINERY' AND c_custkey % 10 = 0"


@query(
    "x_mutation_update_delete",
    oracle=f"""
WITH mutated AS (
  SELECT c_mktsegment,
         CASE WHEN {_UPDATE_PRED} THEN 0.0 ELSE c_acctbal END AS c_acctbal
  FROM customer
  WHERE NOT ({_DELETE_PRED})
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_money(f"SUM({sql_dec('c_acctbal')})")} AS sum_acctbal
FROM mutated
GROUP BY c_mktsegment
""",
)
def x_mutation_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE + DELETE through partition-pruned copy-on-write, verified by
    aggregating the mutated snapshot per segment."""
    t = catalog.load(spark, sf_dir)
    tbl = mutations.temp_table(
        spark, t.customer, partition_by=("c_mktsegment",)
    )
    tbl.update_where(_UPDATE_PRED, {"c_acctbal": F.lit(0.0)})
    tbl.delete_where(_DELETE_PRED)
    return (
        tbl.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(sum_c100("c_acctbal")).alias("sum_acctbal"),
        )
    )


@query(
    "x_mutation_time_travel",
    oracle=f"""
SELECT 'v0' AS snapshot, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_money(f"SUM({sql_dec('c_acctbal')})")} AS sum_acctbal
FROM customer GROUP BY c_mktsegment
UNION ALL
SELECT 'v1' AS snapshot, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_money(f"SUM({sql_dec(f'CASE WHEN {_UPDATE_PRED} THEN 0.0 ELSE c_acctbal END')})")}
         AS sum_acctbal
FROM customer GROUP BY c_mktsegment
""",
)
def x_mutation_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation / time travel on the managed table: after an
    UPDATE commits as snapshot v=1, `read(version=0)` still serves the
    pre-mutation state -- both snapshots aggregated side by side, tagged.
    The lakehouse property the reference's MV refresh-by-overwrite lacks
    (assignment-5.sql:70-80: a concurrent reader mid-refresh); here the
    version-pointer commit keeps every retained snapshot fully readable."""
    t = catalog.load(spark, sf_dir)
    tbl = mutations.temp_table(
        spark, t.customer, partition_by=("c_mktsegment",)
    )
    tbl.update_where(_UPDATE_PRED, {"c_acctbal": F.lit(0.0)})

    def seg_agg(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(sum_c100("c_acctbal")).alias("sum_acctbal"),
        ).select(F.lit(tag).alias("snapshot"), "c_mktsegment", "n_customers", "sum_acctbal")

    return seg_agg(tbl.read(version=0), "v0").unionByName(
        seg_agg(tbl.read(), "v1")
    )


@query(
    "x_mutation_optimize_zorder",
    oracle=f"""
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_money(f"SUM({sql_dec('o_totalprice')})")} AS sum_totalprice
FROM orders GROUP BY o_orderstatus
""",
)
def x_mutation_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER through the managed table (the A7 clustering analog):
    orders re-clustered on the Morton interleave of (custkey, totalprice)
    committed as a new snapshot, then aggregated -- the oracle pins that
    clustering is pure layout (bit-identical content), and the entry raises
    unless the optimize actually committed a new version."""
    t = catalog.load(spark, sf_dir)
    tbl = mutations.temp_table(spark, t.orders)
    tbl.optimize(cluster_by=("o_custkey", "o_totalprice"), zorder=True, num_files=8)
    if tbl.version() != 1:
        raise AssertionError(f"optimize did not commit: version={tbl.version()}")
    return (
        tbl.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(sum_c100("o_totalprice")).alias("sum_totalprice"),
        )
    )


_DIFF_DELETE_PRED = "c_mktsegment = 'MACHINERY' AND c_acctbal < -900"


@query(
    "x_mutation_snapshot_diff",
    oracle=f"""
SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM customer WHERE {_DIFF_DELETE_PRED} HAVING COUNT(*) > 0
UNION ALL
SELECT 'update', CAST(COUNT(*) AS BIGINT)
FROM customer WHERE {_UPDATE_PRED} HAVING COUNT(*) > 0
UNION ALL
SELECT 'unchanged', CAST(COUNT(*) AS BIGINT)
FROM customer WHERE NOT ({_DIFF_DELETE_PRED}) AND NOT ({_UPDATE_PRED})
HAVING COUNT(*) > 0
""",
)
def x_mutation_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed from snapshots (the Delta table_changes analog):
    after an UPDATE (v1) and a DELETE (v2) commit, diff the v0 snapshot
    against the head GENERICALLY -- full-outer join on the primary key,
    whole-row struct comparison classifies each key as delete / insert /
    update / unchanged.  No knowledge of the mutations is used by the
    diff; the oracle restates the predicates relationally (they touch
    disjoint segments, so apply order cannot matter).  Scale shape: one
    key-hash shuffle of both snapshots; the struct compare is per-row
    codegen; untouched partitions hardlink-share files between snapshots,
    so the diff's I/O is real but storage stays deduplicated."""
    t = catalog.load(spark, sf_dir)
    # retain=3: v0 (initial), v1 (update), v2 (delete) must ALL stay
    # readable for the diff -- the default retention of 2 would vacuum v0
    # as soon as the second mutation commits
    tbl = mutations.temp_table(
        spark, t.customer, partition_by=("c_mktsegment",), retain=3
    )
    tbl.update_where(_UPDATE_PRED, {"c_acctbal": F.lit(0.0)})
    tbl.delete_where(_DIFF_DELETE_PRED)
    cols = t.customer.columns
    old = tbl.read(version=0).select(
        "c_custkey", F.struct(*cols).alias("o")
    )
    new = tbl.read().select("c_custkey", F.struct(*cols).alias("n"))
    j = old.join(new, "c_custkey", "full_outer")
    change = (
        F.when(F.col("n").isNull(), F.lit("delete"))
        .when(F.col("o").isNull(), F.lit("insert"))
        .when(~F.col("o").eqNullSafe(F.col("n")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@query(
    "x_mutation_merge_upsert",
    oracle=f"""
WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
source AS (
  SELECT c_custkey, c_name, c_nationkey, 0.0 AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 3
  UNION ALL
  SELECT c_custkey + (SELECT m FROM mx) + 1, c_name, c_nationkey,
         c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 7
),
merged AS (
  SELECT * FROM source
  UNION ALL
  SELECT * FROM customer WHERE c_custkey % 10 != 3
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {sql_money(f"SUM({sql_dec('c_acctbal')})")} AS sum_acctbal,
       CAST(SUM(CASE WHEN c_custkey > (SELECT m FROM mx) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inserted
FROM merged GROUP BY c_mktsegment
""",
)
def x_mutation_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the managed table (the Delta/Iceberg upsert): a source
    batch of updated rows (every custkey%10==3, balance zeroed) plus brand
    new rows (copies of custkey%10==7 shifted past the key space -- shift
    derived from MAX(c_custkey) on BOTH engines, so no scale factor can
    collide inserts with real keys) merges in one snapshot commit --
    matched rows updated in place, unmatched inserted, untouched
    partitions hardlink-shared.  The entry raises unless the merge's
    (updated, inserted) counts match the construction, and the post-merge
    aggregate must equal the oracle's relational MERGE statement."""
    t = catalog.load(spark, sf_dir)
    shift = t.customer.agg(F.max("c_custkey")).collect()[0][0] + 1
    tbl = mutations.temp_table(spark, t.customer, partition_by=("c_mktsegment",))
    upd = t.customer.filter(F.col("c_custkey") % 10 == 3).withColumn(
        "c_acctbal", F.lit(0.0)
    )
    ins = t.customer.filter(F.col("c_custkey") % 10 == 7).withColumn(
        "c_custkey", F.col("c_custkey") + F.lit(shift)
    )
    n_upd_want, n_ins_want = upd.count(), ins.count()
    n_upd, n_ins = tbl.merge_upsert(upd.unionByName(ins), ("c_custkey",))
    if (n_upd, n_ins) != (n_upd_want, n_ins_want):
        raise AssertionError(
            f"merge counts {(n_upd, n_ins)} != expected {(n_upd_want, n_ins_want)}"
        )
    return (
        tbl.read()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money(sum_c100("c_acctbal")).alias("sum_acctbal"),
            F.sum(F.when(F.col("c_custkey") >= F.lit(shift), 1).otherwise(0))
            .cast("long")
            .alias("n_inserted"),
        )
        .transform(materialize, "result")
    )
