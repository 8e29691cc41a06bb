"""Continuous aggregate maintenance: a micro-batch stream drives the MV
registry's incremental refresh.

Each foreachBatch invocation wraps the arriving orders as a delta
catalog.Tables (batch orders + their lineitems semi-joined from the static
fact, full dimensions) and calls MVRegistry.refresh_incremental -- so the
persisted sales fact (and the append-only time dimension under it) stays
current as data lands, without ever rescanning history.  This is the
continuous-aggregate / REFRESH-on-ingest pattern a 100 TB warehouse runs;
the same code path bootstraps the MV from nothing on the first batch.

Scale notes: per-batch cost is |batch| joined against broadcast dims plus
one full new snapshot of the MV, committed with a pointer flip while the
previous snapshot stays readable; at very large MV sizes writing that
snapshot becomes the bottleneck, and the next step is a commit that
rewrites only the partitions the batch's keys land in.  In production
the stream would carry orders WITH their lines (one topic), dropping the
static semi join this module does for the file-source shape of the testdata.

Reference scope: the reference's REFRESH MATERIALIZED VIEW concept
(/root/reference/assignment-5.sql:70-80 sales MV; SURVEY.md EP2) composed
with Structured Streaming -- an extension target, not a reference feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import catalog
from ..mv.registry import MVRegistry
from . import drain, read_files

ORDERS_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)


def read_orders_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of order batches, one micro-batch per file
    (tests lay the batches down as separate files; in production the
    directory keeps growing)."""
    return read_files(spark, ORDERS_SCHEMA, path)


def maintain_sales_stream(
    spark: SparkSession,
    sf_dir: str,
    reg: MVRegistry,
    orders_stream: DataFrame,
    mv_name: str = "sales",
) -> StreamingQuery:
    """Drain a stream that applies every arriving orders micro-batch as an
    incremental delta to ``mv_name`` (and, transitively, to the time
    dimension).  Returns the finished query."""

    def apply_batch(batch_orders: DataFrame, _epoch: int) -> None:
        if not batch_orders.head(1):
            return
        keys = batch_orders.select("o_orderkey")
        t = catalog.load(spark, sf_dir)
        delta = catalog.delta_tables(
            spark,
            sf_dir,
            orders=batch_orders,
            lineitem=t.lineitem.join(
                keys, t.lineitem.l_orderkey == keys.o_orderkey, "left_semi"
            ),
        )
        reg.refresh_incremental(spark, sf_dir, mv_name, delta)

    return drain(orders_stream, apply_batch)
