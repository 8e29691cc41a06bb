"""Streaming/batch parity: every streaming operator must produce the same
result as its batch twin when drained over the same finite input
(availableNow trigger, foreachBatch sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog
from postgresql_datawarehouse_excercise_spark.streaming import events as se


def _drain_latest(rows, key_cols):
    """foreachBatch in update mode may emit a key several times (once per
    micro-batch); keep the last emission per key."""
    out = {}
    for r in rows:
        out[tuple(r[c] for c in key_cols)] = tuple(r)
    return sorted(out.values())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    stream = se.tumbling_hourly(se.read_events_stream(spark, sf_dir))
    got = _drain_latest(se.run_finite(stream), ["window_start", "event_type"])

    t = catalog.load(spark, sf_dir)
    want = sorted(
        tuple(r)
        for r in (
            t.events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        ).collect()
    )
    assert got == want


def test_stream_sliding_equals_batch(spark, sf_dir):
    stream = se.sliding_3h_1h(se.read_events_stream(spark, sf_dir))
    got = _drain_latest(se.run_finite(stream), ["window_start"])

    t = catalog.load(spark, sf_dir)
    want = sorted(
        tuple(r)
        for r in (
            t.events.groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        ).collect()
    )
    assert got == want


def test_stream_session_windows_equals_batch(spark, sf_dir):
    # session-window aggregation supports append/complete only; complete
    # avoids the append-mode final-window holdback on finite input
    stream = se.session_windows(se.read_events_stream(spark, sf_dir))
    got = _drain_latest(
        se.run_finite(stream, output_mode="complete"), ["user_id", "session_start"]
    )

    t = catalog.load(spark, sf_dir)
    want = sorted(
        tuple(r)
        for r in (
            t.events.groupBy(F.session_window("ts", se.SESSION_GAP).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        ).collect()
    )
    assert got == want


def test_stateful_user_totals_equals_batch(spark, sf_dir):
    stream = se.user_totals_stateful(se.read_events_stream(spark, sf_dir))
    got = _drain_latest(se.run_finite(stream), ["user_id"])

    t = catalog.load(spark, sf_dir)
    want = sorted(
        tuple(r)
        for r in (
            t.events.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("max_ts")
            )
        ).collect()
    )
    assert got == want


def test_watermark_bounds_state(spark, sf_dir):
    """The watermarked plan must carry an event-time watermark node (state
    eviction at scale); smoke the semantics rather than internals."""
    stream = se.tumbling_hourly(se.read_events_stream(spark, sf_dir), watermark="1 hour")
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    # A finite drain still covers every window (update mode emits results
    # each batch; the watermark only evicts state, it doesn't withhold).
    rows = se.run_finite(stream)
    assert len(rows) > 0


def test_stateful_state_carries_across_microbatches(spark, sf_dir, tmp_path):
    """Split the events into 4 files and pace ingestion with
    maxFilesPerTrigger=1: four micro-batches, so per-user totals must
    accumulate in GroupState across batches, not within one."""
    from pyspark.sql import functions as F

    from pyspark.sql.types import LongType, StructField, StructType

    t = catalog.load(spark, sf_dir)
    src = str(tmp_path / "events_split")
    # write ts as long nanos (the TIMESTAMP(NANOS)/nanosAsLong legacy layout)
    # to also exercise the bigint branch of normalize_event_ts
    t.events.withColumn(
        "ts", (F.unix_micros("ts") * F.lit(1000)).cast("long")
    ).repartition(4).write.mode("overwrite").parquet(src)

    nanos_schema = StructType(
        [
            StructField(f.name, LongType() if f.name == "ts" else f.dataType, True)
            for f in se._events_raw_schema(src).fields
        ]
    )
    raw = (
        spark.readStream.schema(nanos_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    events = catalog.normalize_event_ts(raw)
    rows = se.run_finite(se.user_totals_stateful(events))
    # more emissions than distinct users proves multiple micro-batches ran
    n_users = t.events.select("user_id").distinct().count()
    assert len(rows) > n_users

    got = _drain_latest(rows, ["user_id"])
    want = sorted(
        tuple(r)
        for r in t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("max_ts"))
        .collect()
    )
    assert got == want


def test_events_schema_sniff_handles_dataset_directory(tmp_path):
    """The ts-layout sniff must resolve a part file when events.parquet is a
    Spark-written DIRECTORY (not a single file) -- a nanos-layout directory
    silently sniffed as micros would misparse far from the cause."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    d = tmp_path / "sfdir" / "events.parquet"
    d.mkdir(parents=True)
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(tbl, d / "part-00000.parquet", store_schema=False,
                   coerce_timestamps=None)
    schema = se._events_raw_schema(str(tmp_path / "sfdir"))
    assert isinstance(schema["ts"].dataType, LongType), schema["ts"]


def test_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static dimension enrichment must match the batch join."""
    from pyspark.sql import functions as F

    t = catalog.load(spark, sf_dir)
    enriched = se.enrich_with_customers(
        se.read_events_stream(spark, sf_dir), t.customer
    )
    got = _drain_latest(
        se.run_finite(se.segment_counts(enriched)), ["window_start", "segment"]
    )

    dim = t.customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    want = sorted(
        tuple(r)
        for r in (
            t.events.join(dim, "user_id")
            .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "segment", "n_events")
        ).collect()
    )
    assert got == want


def test_watermark_drops_late_data_across_runs(spark, tmp_path):
    """Late-data policy, end to end: run 1 establishes a watermark (persisted
    in the checkpoint); run 2 feeds events OLDER than watermark - delay.
    The aggregation must drop them -- the state-eviction contract that makes
    unbounded streams bounded."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    out: list = []

    def run_once():
        raw = (
            spark.readStream.schema("ts timestamp, k string")
            .parquet(src)
        )
        agg = (
            raw.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "k", "n")
        )
        q = (
            agg.writeStream.foreachBatch(lambda b, _e: out.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    base = datetime(2021, 6, 1, 12, 0, 0)
    batch1 = spark.createDataFrame(
        [(base, "on_time"), (base + timedelta(hours=1), "on_time")],
        "ts timestamp, k string",
    )
    batch1.write.mode("append").parquet(src)
    run_once()
    # watermark after run 1 = 13:00 - 10 min = 12:50

    late = spark.createDataFrame(
        [(base - timedelta(hours=2), "too_late"),
         (base + timedelta(hours=1, minutes=1), "on_time")],
        "ts timestamp, k string",
    )
    late.write.mode("append").parquet(src)
    run_once()

    keys = {r.k for r in out}
    assert "too_late" not in keys        # dropped by the watermark
    assert "on_time" in keys             # fresh data still lands


def test_stream_stream_range_join_equals_batch(spark, sf_dir):
    """Stream-stream time-range join must reproduce the batch range join."""
    got = sorted(
        (r.click_id, r.followup_id)
        for r in se.run_finite(
            se.click_followups_stream(spark, sf_dir), output_mode="append"
        )
    )
    from postgresql_datawarehouse_excercise_spark.queries import load_all

    want = sorted(
        (r.click_id, r.followup_id)
        for r in load_all()["x_range_join_click_followups"].fn(spark, sf_dir).collect()
    )
    assert got == want


def test_stream_dedup_within_watermark_equals_batch_distinct(spark, sf_dir):
    """Streaming dedup must keep exactly one row per key over the finite
    input -- the same key set as the batch distinct."""
    stream = se.dedup_stream(
        se.read_events_stream(spark, sf_dir), ["user_id", "event_type"]
    )
    rows = se.run_finite(stream, output_mode="append")

    t = catalog.load(spark, sf_dir)
    want = {
        (r.user_id, r.event_type)
        for r in t.events.select("user_id", "event_type").distinct().collect()
    }
    got = [(r.user_id, r.event_type) for r in rows]
    assert len(got) == len(want)          # genuine suppression, no repeats
    assert set(got) == want               # and exactly the distinct key set
    assert t.events.count() > len(want)   # the input really had duplicates


def test_stream_drives_incremental_mv_maintenance(spark, sf_dir, tmp_path):
    """Continuous aggregate maintenance: orders arrive as four micro-batches
    (arbitrary arrival order); foreachBatch applies each as an incremental
    delta, bootstrapping the sales MV on the first batch.  The maintained
    fact must equal a full one-shot rebuild when compared at the
    date-keyed grain (timeids may legitimately differ from a rebuild when
    batches arrive out of date order -- stable surrogate keys -- so the
    comparison joins each fact to ITS OWN time dimension)."""
    from postgresql_datawarehouse_excercise_spark.mv.definitions import default_registry
    from postgresql_datawarehouse_excercise_spark.streaming.mv_maintenance import (
        maintain_sales_stream,
        read_orders_stream,
    )

    t = catalog.load(spark, sf_dir)
    in_dir = str(tmp_path / "orders_stream_in")
    # four hash-split files; file-source arrival order is path/mtime driven,
    # deliberately NOT date order
    t.orders.withColumn("b", F.col("o_orderkey") % 4).repartition(4, "b").drop(
        "b"
    ).write.parquet(in_dir)

    reg = default_registry(str(tmp_path / "cmv"))
    try:
        q = maintain_sales_stream(spark, sf_dir, reg, read_orders_stream(spark, in_dir))
        q.awaitTermination()

        def by_date(sales, time):
            return sorted(
                tuple(r)
                for r in sales.join(time, "timeid")
                .select("customerid", "orderdate", "partkey", "amnt")
                .collect()
            )

        maintained = by_date(reg.read(spark, "sales"), reg.read(spark, "time"))
        # fresh Tables: the registry seeded the SHARED catalog cache with the
        # maintained MV (cache_key), so t.sales() would compare it to itself
        fresh = catalog.delta_tables(spark, sf_dir)
        want = by_date(fresh.sales(), fresh.time_dim())
        assert maintained == want
        # time dimension: every date exactly once, ids dense from 1
        ids = sorted(r["timeid"] for r in reg.read(spark, "time").collect())
        assert ids == list(range(1, len(ids) + 1))
    finally:
        reg.drop_all()


def test_funnel_state_carries_across_time_ordered_batches(spark, sf_dir, tmp_path):
    """Four time-slice files ingested one per micro-batch (time-ordered
    arrival, the documented ingest contract): the per-user funnel stage
    machine must end at exactly the batch MIN-join funnel's stage."""
    import time as _time

    t = catalog.load(spark, sf_dir)
    src = str(tmp_path / "events_sliced")
    ts_q = [r[0] for r in t.events.selectExpr("percentile(unix_micros(ts), array(0.25,0.5,0.75)) p").collect()][0]
    tb = [float("-inf"), *ts_q, float("inf")]
    for i in range(4):
        sl = t.events.filter(
            (F.unix_micros("ts") > F.lit(tb[i])) & (F.unix_micros("ts") <= F.lit(tb[i + 1]))
        )
        sl.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # ascending mtimes => file-source ingests in time order

    raw = (
        spark.readStream.schema(t.events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rows = se.run_finite(se.funnel_stateful(raw))
    got = {r["user_id"]: r["stage"] for r in rows}  # update mode: last wins via dict

    # batch MIN-join funnel per user
    ev = t.events.select("user_id", "event_type", "ts")
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    fc = (
        ev.filter(F.col("event_type") == "click")
        .join(fv, "user_id").filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id").filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    users = {r[0] for r in ev.select("user_id").distinct().collect()}
    s1 = {r[0] for r in fv.collect()}
    s2 = {r[0] for r in fc.collect()}
    s3 = {r[0] for r in fp.collect()}
    want = {u: (3 if u in s3 else 2 if u in s2 else 1 if u in s1 else 0) for u in users}
    assert got == want


def test_tws_spend_equals_batch_when_protobuf_available(spark, sf_dir):
    """transformWithStateInPandas (streaming/events.user_spend_tws): the
    named-state running spend must reproduce the batch aggregate exactly.
    The TWS driver worker imports google.protobuf at stream start; this
    sandbox has no protobuf (and no pip), so the test SKIPS here and runs
    on any standard Spark 4 install -- the reason the operator has no
    driver-gate registry entry (queries/x_streaming.py)."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf unavailable in sandbox; TWS worker needs it")
    stream = se.user_spend_tws(se.read_events_stream(spark, sf_dir))
    sunk = se.run_finite_to_sink(stream)
    got = (
        se.latest_per_key(sunk, ["user_id"])
        .select("user_id", "spend_cents", "n_events")
        .orderBy("user_id")
        .collect()
    )
    t = catalog.load(spark, sf_dir)
    want = (
        t.events.groupBy("user_id")
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("spend_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_checkpoint_restart_resumes_state(spark, sf_dir, tmp_path):
    """Production resilience: a stateful streaming query stopped and
    RESTARTED from its checkpoint must (a) not reprocess already-committed
    files and (b) carry its aggregation state across the restart -- the
    final per-user counts over two separately-ingested slices must equal
    the batch aggregate over the union.  Double counts = files replayed;
    undercounts = state lost; both are restart bugs this pins."""
    t = catalog.load(spark, sf_dir)
    ev = t.events.select("event_id", "ts", "user_id")
    inp = str(tmp_path / "inp")
    ckpt = str(tmp_path / "ckpt")
    sink_dir = str(tmp_path / "sink")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(inp)

    def drain() -> None:
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(inp)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )

        def sink(batch_df, epoch):
            batch_df.withColumn("_epoch", F.lit(epoch)).write.mode(
                "append"
            ).parquet(sink_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(inp)
    drain()

    got = sorted(
        tuple(r)
        for r in se.latest_per_key(
            spark.read.parquet(sink_dir), ["user_id"]
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in t.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    )
    assert got == want


def test_bm25_index_sink_idempotent_under_redelivery(spark, tmp_path):
    """Checkpoint-recovery re-delivery of a micro-batch must leave the
    streamed BM25 index unchanged (per-epoch overwrite, never append --
    an appending sink would double tf/dl and corrupt every score)."""
    from postgresql_datawarehouse_excercise_spark.queries.x_streaming import (
        _bm25_index_sink,
    )

    idx = str(tmp_path / "bm25idx")
    sink = _bm25_index_sink(spark, idx)
    batch = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        "doc_id long, text string",
    )
    sink(batch, 0)
    p1 = sorted(map(tuple, spark.read.parquet(f"{idx}/postings").collect()))
    d1 = sorted(map(tuple, spark.read.parquet(f"{idx}/doclen").collect()))
    sink(batch, 0)  # re-delivery
    assert sorted(map(tuple, spark.read.parquet(f"{idx}/postings").collect())) == p1
    assert sorted(map(tuple, spark.read.parquet(f"{idx}/doclen").collect())) == d1
    assert len(d1) == 2 and ("alpha", 1, 2) in {
        (r[0], r[1], r[2]) for r in p1
    }


def test_ann_index_sink_idempotent_under_redelivery(spark, tmp_path, sf_dir):
    """Epoch-0 re-delivery of the streamed vector index retrains
    DETERMINISTICALLY (same centroids/codebooks byte-for-byte) and
    rewrites its postings/codes subdirs -- the whole index is unchanged."""
    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_streaming import (
        _ann_index_sink,
    )

    idx = str(tmp_path / "annidx")
    sink = _ann_index_sink(spark, idx)
    batch = catalog.load(spark, sf_dir).embeddings.limit(40)
    sink(batch, 0)
    snap = {
        rel: sorted(map(tuple, spark.read.parquet(f"{idx}/{rel}").collect()))
        for rel in ("centroids", "codebooks", "postings", "codes")
    }
    sink(batch, 0)  # re-delivery, retrains + rewrites
    for rel, before in snap.items():
        after = sorted(map(tuple, spark.read.parquet(f"{idx}/{rel}").collect()))
        assert after == before, rel


@pytest.mark.parametrize(
    "entry",
    [
        "x_stream_bm25_index",
        "x_stream_ann_index",
        "x_stream_cep",
        "x_stream_incremental_mv",
        "x_stream_tumbling_hourly",
        "x_mutation_merge_upsert",
        "x_mv_sql_rewrite",
    ],
)
def test_stream_entry_leaves_no_dir_outside_scratch(spark, sf_dir, monkeypatch, tmp_path, entry):
    """Every directory an entry creates -- sources, sinks, state, the
    stream's checkpoint, table and MV warehouse dirs -- lives in a scratch
    dir, so the scratch cleanup at exit removes all of it.  A checkpoint placed beside a
    scratch dir (`<dir>-ckpt`) or a bare mkdtemp would be left behind.  The
    temp dir is the test's own, so other processes sharing the system temp
    dir cannot add entries to the comparison."""
    import glob
    import os
    import tempfile

    from postgresql_datawarehouse_excercise_spark import session
    from postgresql_datawarehouse_excercise_spark.queries import load_all

    made = []
    scratch = session.scratch

    def recording_scratch(prefix):
        made.append(scratch(prefix))
        return made[-1]

    monkeypatch.setattr(session, "scratch", recording_scratch)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pattern = os.path.join(tempfile.gettempdir(), "pdwx-*")
    before = set(glob.glob(pattern))
    load_all()[entry].fn(spark, sf_dir).collect()
    assert made
    assert set(glob.glob(pattern)) - before - set(made) == set()
