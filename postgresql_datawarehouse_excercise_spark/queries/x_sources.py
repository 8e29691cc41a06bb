"""Extension: text-format source/sink round-trips (sources/files.py).

Each entry exports a driver table to a text format (JSONL / CSV), reads it
back schema-explicit, and aggregates the re-read rows; the DuckDB oracle
computes the same aggregate on the original parquet.  A value-hash match
therefore proves the round-trip is lossless (values, types, row multiplicity)
-- the property a pipeline that interchanges shards as JSONL/CSV depends on.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog, session
from ..functions import dec, money, sql_dec, sql_money, sum_c100
from ..sources import files
from . import query

T = TypeVar("T")


def _corpus_fingerprint(sf_dir: str, table_file: str) -> tuple:
    """Corpus part of an _index_memo key: (sf_dir, table_file, mtime_ns,
    size) of the source file, so a corpus regenerated in-process under the
    same path invalidates the memo instead of silently serving a stale
    index (ADVICE r13).  A missing file keys with mtime_ns and size None
    (the loader will raise its own error downstream)."""
    try:
        st = os.stat(os.path.join(sf_dir, table_file))
        return (sf_dir, table_file, st.st_mtime_ns, st.st_size)
    except OSError:
        return (sf_dir, table_file, None, None)


# key -> (index dir, build result); see _index_memo
_INDEX_MEMO: dict[tuple, tuple[str, object]] = {}


def _index_memo(key: tuple, marker: str, build: Callable[[str], T]) -> T:
    """One persisted index build per key and process.  Every index here is
    built deterministically, so every lane that serves it may read the SAME
    directory: the first call runs ``build(loc)`` into a fresh scratch dir
    and memoizes its result; later calls return that result while
    ``loc/marker`` still exists.  ``key`` is a _corpus_fingerprint plus the
    index kind, which also names the scratch dir."""
    hit = _INDEX_MEMO.get(key)
    if hit is not None and os.path.isdir(os.path.join(hit[0], marker)):
        return hit[1]
    loc = session.scratch(f"pdwx-{key[-1]}-")
    value = build(loc)
    _INDEX_MEMO[key] = (loc, value)
    return value


@query(
    "x_source_jsonl_roundtrip",
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_hash
FROM documents
GROUP BY lang, source
""",
)
def x_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> gzip JSONL -> schema-explicit re-read -> per-(lang,
    source) aggregate with an order-canonical content hash: hash equality
    proves the JSONL sink/source round-trip preserved every text byte."""
    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-jsonl-")
    files.write_jsonl(t.documents, out)
    back = files.read_jsonl(spark, out, t.documents.schema)
    return (
        back.select("lang", "source", "n_chars", F.md5("text").alias("h"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias(
                "content_hash"
            ),
        )
    )


@query(
    "x_source_csv_roundtrip",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_money(f"SUM({sql_dec('o_totalprice')})")} AS total_price
FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def x_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (sans timestamp column: CSV interchange of order facts) ->
    gzip CSV with header -> schema-explicit re-read -> status/priority
    aggregate in exact decimal.  Value-hash equality pins both the CSV
    writer/reader pair and numeric fidelity through the text format."""
    t = catalog.load(spark, sf_dir)
    slim = t.orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    out = session.scratch("pdwx-csv-")
    files.write_csv(slim, out)
    back = files.read_csv(spark, out, slim.schema)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(sum_c100("o_totalprice")).alias("total_price"),
    )


@query(
    "x_source_partitioned_pruned",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(date_trunc('day', ts) AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
GROUP BY event_type
""",
)
def x_source_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware sink + pruned source on the driver gate: events written
    day-partitioned to a temp table, then re-read with a day-range filter
    that must prune to 3 partition directories (the index-scan analog --
    tests/test_plans pins PartitionFilters; here the VALUES are pinned
    against computing the same aggregate straight off the unpartitioned
    parquet in DuckDB)."""
    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-part-")
    t.events.withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    ).write.mode("overwrite").partitionBy("day").parquet(out)
    back = spark.read.parquet(out).filter(
        F.col("day").between(F.lit("2024-01-03"), F.lit("2024-01-05"))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "x_source_bucketed_join",
    oracle=f"""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_money(f"SUM({sql_dec('l_extendedprice')})")} AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def x_source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both fact tables written bucketed on the
    join key (8 buckets, sorted), then joined WITHOUT a shuffle -- the
    plan contains no shuffle Exchange on either join input (pinned in
    tests/test_plans.py).  This is the pre-shuffled layout a 100 TB
    warehouse keeps its biggest fact pair in: the bucket id is a stable
    hash of the key, so bucket i of lineitem only ever joins bucket i of
    orders and the exchange disappears from EVERY subsequent join on that
    key, amortizing one write-time shuffle across all future queries.
    The merge hint pins the at-scale strategy: at bench SF Catalyst would
    broadcast the small side (both facts exceed any broadcast threshold
    at 100 TB, where sort-merge over co-located buckets is the real
    plan).  Values are pinned against the plain (shuffled) join in
    DuckDB."""
    import uuid

    t = catalog.load(spark, sf_dir)
    tag = uuid.uuid4().hex[:8]
    loc = session.scratch("pdwx-bucketed-")
    lt, ot = f"pdwx_bl_{tag}", f"pdwx_bo_{tag}"
    try:
        files.write_bucketed(
            t.lineitem.select("l_orderkey", "l_extendedprice"),
            lt, f"{loc}/{lt}", "l_orderkey",
        )
        files.write_bucketed(
            t.orders.select("o_orderkey", "o_orderpriority"),
            ot, f"{loc}/{ot}", "o_orderkey",
        )
        joined = spark.table(lt).hint("merge").join(
            spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
        )
        return (
            joined.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                money(F.sum(dec("l_extendedprice"))).alias("total_price"),
            )
            .localCheckpoint()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {ot}")
        shutil.rmtree(loc, ignore_errors=True)


@query(
    "x_source_schema_evolution",
    oracle=f"""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderstatus END AS o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_money(f"SUM({sql_dec('o_totalprice')})")} AS total_price
FROM orders GROUP BY 1
""",
)
def x_source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an early batch written WITHOUT the status
    column and a later batch WITH it land in the same dataset;
    mergeSchema unifies them (missing column = NULL for old files) and the
    aggregate runs over the union -- the additive-column migration every
    long-lived ingest eventually performs, with no rewrite of old data.
    The NULL status group in the result IS the old batch, pinned by the
    oracle's CASE restatement."""
    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-evo-")
    t.orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{out}/batch=1")
    t.orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{out}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total_price"),
    )


@query(
    "x_source_python_datasource",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(md5(text), '' ORDER BY md5(text))) AS content_hash
FROM documents
GROUP BY source
""",
)
def x_source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via Spark 4's PYTHON DataSource API
    (sources/pyds.py): documents -> gzip JSONL -> re-read through a
    pure-Python DataSource (one InputPartition per file, executor-side
    line parsing, schema-explicit) -> per-source aggregate with an
    order-canonical content hash.  Hash equality against the original
    parquet proves the whole custom-source path is lossless -- the
    pattern for attaching Spark to formats/systems that only have a
    Python SDK."""
    from ..sources import pyds

    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-pyds-")
    files.write_jsonl(t.documents, out)
    spark.dataSource.register(pyds.JsonlDataSource)
    back = (
        spark.read.format("pdwx_jsonl")
        .schema(t.documents.schema)
        .load(out)
    )
    return (
        back.select("source", "n_chars", F.md5("text").alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias(
                "content_hash"
            ),
        )
    )


@query(
    "x_source_dynamic_partition_overwrite",
    oracle="""
WITH base AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, user_id, value
  FROM events
),
swapped AS (
  SELECT day, event_type, user_id,
         CASE WHEN day = DATE '2024-01-04'
              THEN CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) * 2
              ELSE CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
         END AS cents
  FROM base
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM swapped GROUP BY day
""",
)
def x_source_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE of a SINGLE partition (dynamic partitionOverwriteMode):
    events land day-partitioned, then one day's slice is rewritten (values
    doubled, in exact cents) with mode('overwrite') under
    partitionOverwriteMode=dynamic -- only the partitions present in the
    written frame are replaced, every other day's files are untouched.
    That selective-replace is THE backfill/restatement primitive of a
    partitioned warehouse (a static overwrite would wipe the table).  The
    re-read per-day aggregate must match the oracle's relational statement
    of the same restatement; the untouched days double-check that nothing
    else was clobbered."""
    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-dynpart-")
    cents = F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5)).cast("long")
    base = t.events.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "event_type",
        "user_id",
        cents.alias("cents"),
    )
    base.write.mode("overwrite").partitionBy("day").parquet(out)
    restated = (
        spark.read.parquet(out)
        .filter(F.col("day") == F.lit("2024-01-04").cast("date"))
        .withColumn("cents", F.col("cents") * 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.parquet(out)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
    )


@query(
    "x_source_orc_roundtrip",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_money(f"SUM({sql_dec('l_quantity')})")} AS sum_qty,
       {sql_money(f"SUM({sql_dec('l_extendedprice')})")} AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def x_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem measure columns -> columnar ORC (zlib) -> schema-explicit
    re-read -> flag/status aggregate in exact decimal.  Value-hash equality
    pins Spark's SECOND columnar format end-to-end (the interchange path to
    Hive/Trino estates that standardized on ORC before parquet): writer,
    reader, predicate-capable types, and numeric fidelity through the
    format's own double encoding.  Scale shape: identical to the parquet
    path -- splittable stripes parallelize the re-read, and the aggregate
    is one map-side-combined shuffle on the 6-value key."""
    t = catalog.load(spark, sf_dir)
    slim = t.lineitem.select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"
    )
    out = session.scratch("pdwx-orc-")
    slim.write.mode("overwrite").option("compression", "zlib").orc(out)
    back = spark.read.schema(slim.schema).orc(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        money(sum_c100("l_quantity")).alias("sum_qty"),
        money(sum_c100("l_extendedprice")).alias("sum_price"),
    )


@query(
    "x_source_csv_permissive",
    oracle="""
SELECT
  CAST(COUNT(CASE WHEN doc_id % 10 <> 0 THEN 1 END) AS BIGINT) AS n_good,
  CAST(COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
  CAST(SUM(CASE WHEN doc_id % 10 <> 0 THEN n_chars END) AS BIGINT) AS good_chars
FROM documents
""",
)
def x_source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema enforcement with corrupt-record quarantine (the PERMISSIVE
    ingest mode a warehouse loader runs on untrusted feeds): a CSV feed
    where every 10th record is malformed (non-numeric key) is read with an
    explicit schema + columnNameOfCorruptRecord; malformed rows land with
    NULL typed columns and the raw line captured in the quarantine column
    instead of failing the job (or silently vanishing, DROPMALFORMED's
    trap).  The aggregate pins BOTH populations: good rows keep exact
    values, corrupt rows are counted via the quarantine column.  Scale
    shape: parsing and the corrupt test are per-split map work; the only
    shuffle is the 1-row aggregate."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-permissive-")
    lines = t.documents.select(
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.lit("corrupt#"), F.col("doc_id").cast("string"), F.lit(",x")),
        )
        .otherwise(
            F.concat_ws(",", F.col("doc_id").cast("string"), F.col("n_chars").cast("string"))
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("n_chars", LongType(), True),
            StructField("_bad", StringType(), True),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out)
    )
    return back.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_bad").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("n_chars"))).alias("good_chars"),
    )


BINFILE_MOD = 50  # every 50th doc becomes a standalone binary object (~2%)


@query(
    "x_source_binaryfile",
    oracle=f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id % {BINFILE_MOD} = 0
""",
)
def x_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source -- Spark's whole-object ingest lane for
    media/model blobs: a sample of documents is written out as standalone
    binary objects (one file per doc, utf-8 payload), re-read via
    spark.read.format('binaryFile') (path + modificationTime + length +
    content columns), and verified byte-for-byte against the base table by
    md5.  The doc id round-trips through the FILENAME (the object-store
    layout pattern: identity in the key, payload opaque), parsed back with
    regexp_extract on the path metadata column.  Each file is one task at
    scale -- exactly how image/audio corpora enter a multimodal pipeline
    before operators/multimodal.py takes over."""
    t = catalog.load(spark, sf_dir)
    out = session.scratch("pdwx-binfile-")
    sample = t.documents.filter(F.col("doc_id") % BINFILE_MOD == 0).select(
        "doc_id", "text"
    )

    def _write_objects(rows) -> None:
        # executor-side fixture writer: each partition writes its own docs
        # as standalone objects, so the export scales with the sample
        # instead of serializing through the driver (VERDICT r8 #5).  In
        # local mode `out` is the shared local fs; on a cluster the same
        # code targets shared/object storage.
        for r in rows:
            with open(os.path.join(out, f"doc_{r.doc_id}.bin"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))

    sample.foreachPartition(_write_objects)
    back = spark.read.format("binaryFile").load(out)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )
