"""Streaming event analytics: readStream -> windowed aggs -> writeStream.

Batch/stream parity is the design invariant: every streaming operator here
shares its aggregation expressions with a batch twin in queries/x_events.py,
and tests assert the streamed result (availableNow trigger, finite input)
equals the batch result on the same files.

Watermarks: `with_late_data_policy` bounds state by event time; in
production the watermark delay is the late-data SLA.  With the availableNow
trigger on finite input we emit via foreachBatch in update/complete mode so
final windows are not withheld by the watermark (the append-mode
final-window holdback is a well-known finite-input gotcha).

Scale notes (100 TB/day stream): all aggregations are keyed on
(window, event_type) or (user_id) — state is bounded by watermark eviction;
`applyInPandasWithState` state is per-user and O(1) per key; file sources
shard by file listing, so input parallelism = number of files.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import session
from . import drain


def _events_raw_schema(sf_dir: str) -> StructType:
    """Read-schema for the events stream, matched to the file's actual ts
    physical type.  The driver's generator has shipped ts as both
    TIMESTAMP(NANOS) (readable only as long nanos under nanosAsLong) and
    timestamp[us] across rounds, so sniff the parquet footer instead of
    hard-coding either (round 3's hard-coded LongType broke when the
    testdata moved to micros)."""
    ts_type: Any = TimestampType()
    try:
        import pyarrow.parquet as pq

        path = f"{sf_dir}/events.parquet"
        if os.path.isdir(path):
            # Spark-written dataset directory: any part file carries the
            # dataset schema
            parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not parts:
                raise FileNotFoundError(f"no part files under {path}")
            path = parts[0]
        if str(pq.read_schema(path).field("ts").type) == "timestamp[ns]":
            ts_type = LongType()
    except FileNotFoundError:
        pass  # not yet populated: default micros path
    except Exception as exc:  # unreadable footer must fail loudly, not
        # silently select the wrong timestamp layout (a nanos directory
        # stream-read as micros misparses far from the cause)
        from ..catalog import SchemaDriftError

        raise SchemaDriftError(
            f"cannot sniff events ts physical type at {sf_dir}: {exc!r}"
        ) from exc
    return StructType(
        [
            StructField("event_id", LongType(), True),
            StructField("ts", ts_type, True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )


SESSION_GAP = "30 minutes"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (finite in tests; in
    production the directory keeps growing and maxFilesPerTrigger paces
    ingestion)."""
    from ..catalog import normalize_event_ts

    raw = (
        spark.readStream.schema(_events_raw_schema(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def tumbling_hourly(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows per event type; watermark bounds agg state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def sliding_3h_1h(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding 3-hour windows advancing hourly (each event lands in 3)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_windows(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("max_ts", TimestampType(), False),
    ]
)
USER_TOTALS_STATE = StructType(
    [
        StructField("n_events", LongType(), False),
        StructField("max_ts_micros", LongType(), False),
    ]
)


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running per-user
    event count + latest event time, state carried across micro-batches."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, max_us = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                batch_max = pdf["ts"].max()
                max_us = max(max_us, int(batch_max.value // 1000))
        state.update((n, max_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_ts": [pd.Timestamp(max_us * 1000)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_finite_to_sink(stream_df: DataFrame, output_mode: str = "update") -> DataFrame:
    """Drain a finite stream via foreachBatch + availableNow into a temp
    parquet sink, each emission tagged with its micro-batch epoch
    (`_epoch`); returns a DataFrame over the sink.

    This is the SCALE drain: every micro-batch is written executor-side
    (distributed parquet append), so no row ever passes through the driver
    -- the downstream consumer reads the sink like any other table.  The
    epoch column lets update-mode consumers keep the last emission per key
    (`F.row_number` over `_epoch` desc) without any ordering assumption on
    the sink files."""
    sink_dir = session.scratch("pdwx-stream-sink-")

    def sink(batch_df: DataFrame, epoch: int) -> None:
        batch_df.withColumn("_epoch", F.lit(epoch)).write.mode("append").parquet(sink_dir)

    drain(stream_df, sink, output_mode=output_mode)
    spark = stream_df.sparkSession
    if not glob.glob(os.path.join(sink_dir, "*.parquet")):
        schema = StructType([*stream_df.schema.fields, StructField("_epoch", LongType())])
        return spark.createDataFrame([], schema=schema)
    return spark.read.parquet(sink_dir)


def latest_per_key(sunk: DataFrame, key_cols: list[str]) -> DataFrame:
    """Final state per key from an UPDATE-mode sink: later epochs strictly
    supersede earlier emissions of the same key.  (Only valid for update
    mode, where a key absent from later batches is final -- complete-mode
    sinks need last_epoch_snapshot, because a later batch can MERGE keys
    away, e.g. session windows absorbing an earlier session.)"""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("_epoch").desc())
    return (
        sunk.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_epoch")
    )


def last_epoch_snapshot(sunk: DataFrame) -> DataFrame:
    """Final result from a COMPLETE-mode sink: each batch emits the whole
    answer, so the last epoch IS the result and earlier epochs are
    discarded wholesale (a key the final batch no longer emits -- merged
    away by in-watermark late data -- must not survive from an earlier
    epoch)."""
    last = sunk.agg(F.max("_epoch").alias("_epoch"))
    return sunk.join(F.broadcast(last), "_epoch").drop("_epoch")


def run_finite(stream_df: DataFrame, output_mode: str = "update") -> list:
    """Drain a finite stream and return all emitted rows as a list in epoch
    order (a SMALL-RESULT helper for tests; driver-side by construction --
    production paths use run_finite_to_sink and stay distributed)."""
    sunk = run_finite_to_sink(stream_df, output_mode)
    return sunk.orderBy("_epoch").drop("_epoch").collect()


def enrich_with_customers(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with customer attributes
    (the static side is re-read per micro-batch, broadcast by Catalyst --
    the canonical streaming dimension-enrichment pattern)."""
    from pyspark.sql import functions as F

    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return events.join(F.broadcast(dim), "user_id")


def segment_counts(enriched: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Windowed counts per customer segment over the enriched stream."""
    from pyspark.sql import functions as F

    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "segment", "n_events")
    )


def click_followups_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with a time-range condition: clicks joined
    to the same user's events within the following hour.  Both sides carry
    watermarks so the join state is bounded (Spark buffers each side only
    until watermark + range slack) -- the streaming twin of the batch
    range join (queries/x_asof.py)."""
    from pyspark.sql import functions as F

    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    evs = (
        read_events_stream(spark, sf_dir)
        .select(F.col("event_id").alias("followup_id"), "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    return clicks.join(
        evs,
        F.expr(
            "click_user = user_id AND ts >= click_ts "
            "AND ts < click_ts + INTERVAL 1 HOUR AND followup_id != click_id"
        ),
    ).select("click_id", "followup_id", "click_ts", "ts")


def dedup_stream(events: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication: first arrival per key survives, and --
    unlike plain dropDuplicates, whose state grows forever -- the per-key
    state is evicted once the watermark passes it, so memory is bounded by
    the dedup horizon, not by stream lifetime.  The streaming twin of the
    batch x_dedup_exact operator; the training-ingest primitive for
    at-least-once upstream delivery."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


FUNNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("stage", LongType(), False),
    ]
)
FUNNEL_STATE = StructType(
    [
        StructField("stage", LongType(), False),
        StructField("stage_us", LongType(), False),
    ]
)


def funnel_stateful(events: DataFrame) -> DataFrame:
    """Per-user conversion-funnel state machine via applyInPandasWithState:
    view -> later click -> later purchase, advancing on the EARLIEST
    qualifying event (the greedy min-chain, identical to the batch funnel's
    MIN-join formulation in queries/x_events.py).

    State is two longs per user regardless of event volume.  Within a batch
    events sort by event time; ACROSS micro-batches the machine assumes
    time-ordered arrival per user (the property a time-partitioned ingest --
    file batches split by time, Kafka with event-time-aligned partitions --
    provides).  Strict `>` on timestamps matches the batch twin's strict
    inequality, so ties never advance a stage."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        stage, stage_us = state.get if state.exists else (0, -1)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values("ts", kind="mergesort")
            for ts, etype in zip(batch["ts"], batch["event_type"]):
                us = int(ts.value // 1000)
                if stage == 0 and etype == "view":
                    stage, stage_us = 1, us
                elif stage == 1 and etype == "click" and us > stage_us:
                    stage, stage_us = 2, us
                elif stage == 2 and etype == "purchase" and us > stage_us:
                    stage, stage_us = 3, us
        state.update((stage, stage_us))
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_spend_tws(events: DataFrame) -> DataFrame:
    """Per-user spend totals via transformWithStateInPandas -- Spark 4's
    successor to applyInPandasWithState (named state variables, TTL,
    timers, initial state).  A ValueState tuple (sum_cents, n) carries the
    running totals across micro-batches; spend is accumulated in exact
    integer cents (portable half-up on the double input), so the final
    state reproduces the batch aggregate bit-for-bit on any engine.

    Scale: state is one 16-byte tuple per user key, partitioned by the
    stream's groupBy shuffle -- the same bounded-state story as the
    applyInPandasWithState entry, on the API that adds lifecycle control."""
    import numpy as np
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class SpendProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "sum_cents long, n long")

        def handleInputRows(self, key, rows, timer_values) -> Iterator[pd.DataFrame]:
            got = self._totals.get()
            s, n = got if got is not None else (0, 0)
            for pdf in rows:
                if len(pdf):
                    cents = np.floor(
                        pdf["value"].to_numpy(dtype="float64") * 100.0 + 0.5
                    ).astype("int64")
                    s += int(cents.sum())
                    n += len(pdf)
            self._totals.update((s, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "spend_cents": [s], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        SpendProcessor(),
        outputStructType="user_id bigint, spend_cents bigint, n_events bigint",
        outputMode="update",
        timeMode="none",
    )


def countmin_cells(events: DataFrame, depth: int = 4, width: int = 16) -> DataFrame:
    """Streaming count-min sketch over the user_id stream: every event
    explodes to `depth` (row, bucket) cells (md5-derived universal hashes,
    operators/dedup.PERMS) and ONE unwindowed streaming aggregation keeps
    the cell counters.  Total state = depth x width counters -- FIXED
    whatever the stream volume, which is the whole point of a sketch as
    streaming state: per-key frequency tracking without per-key state.
    Update-mode emissions are monotone per cell, so latest_per_key yields
    the final sketch; partial sketches from different streams/days merge by
    cell-wise addition (the mergeability the batch twin documents)."""
    from ..operators.dedup import P, PERMS, h32

    h = h32(F.col("user_id").cast("string"))
    buckets = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (((F.lit(a) * h + F.lit(b)) % F.lit(P)) % F.lit(width)).alias(
                    "bucket"
                ),
            )
            for d, (a, b) in enumerate(PERMS[:depth])
        ]
    )
    return (
        events.select(F.explode(buckets).alias("bk"))
        .groupBy(F.col("bk.d").alias("d"), F.col("bk.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )


def hll_registers(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog over the user_id stream: every event maps to
    one (register index, rho) pair -- index = first md5 byte, rho =
    leftmost 1-bit position of the next 32 hash bits -- and ONE unwindowed
    streaming MAX keeps the 256 registers.  Like the count-min cells this
    is sketch-as-streaming-state: distinct-user tracking with FIXED state
    whatever the stream volume, and register maps from different streams /
    days merge by cell-wise MAX (the mergeability the batch
    x_sql_hll_sketch entry proves).  Update-mode emissions are monotone
    per register (MAX only grows), so latest_per_key yields the final
    sketch."""
    hx = F.md5(F.col("user_id").cast("string"))
    w = F.conv(F.substring(hx, 3, 8), 16, 10).cast("long")
    return (
        events.select(
            F.conv(F.substring(hx, 1, 2), 16, 10).cast("long").alias("idx"),
            F.when(w == 0, F.lit(33))
            .otherwise(F.instr(F.lpad(F.bin(w), 32, "0"), "1"))
            .cast("long")
            .alias("r"),
        )
        .groupBy("idx")
        .agg(F.max("r").alias("m"))
    )


# fixed streaming-histogram domain: buckets x width must be shared with the
# entry's DuckDB oracle (x_streaming.py interpolates these), or a change here
# silently value-mismatches the gate instead of failing loudly
HIST_STREAM_BUCKETS = 64
HIST_STREAM_WIDTH_CENTS = 800


def histogram_cells(
    events: DataFrame,
    buckets: int = HIST_STREAM_BUCKETS,
    width_cents: int = HIST_STREAM_WIDTH_CENTS,
) -> DataFrame:
    """Streaming equi-width histogram over the event value stream: every
    event maps to one fixed-domain bucket (exact integer cents DIV a fixed
    width, clamped to the top bucket) and ONE unwindowed streaming
    aggregation keeps the <= `buckets` counters -- the third
    sketch-as-streaming-state entry beside the count-min cells and the HLL
    registers, covering the quantile axis the batch
    x_sql_histogram_sketch proves.  A STREAM cannot take the batch twin's
    min/max pre-pass, so the domain is fixed up front (the production
    convention for metrics histograms, e.g. request-latency buckets);
    values beyond it land in the top bucket instead of being dropped.
    Update-mode emissions are monotone per bucket, so latest_per_key
    yields the final histogram; partial histograms from different streams
    or days merge by cell-wise addition.

    Both ends of the domain clamp: LEAST pins overflow to the top bucket,
    GREATEST(0, ...) pins negative values to bucket 0 -- without the lower
    clamp a negative event value would emit an out-of-domain negative
    bucket id, and (worse) Spark's DIV truncates toward zero while the
    DuckDB oracle's // floors, so the two engines would disagree on WHICH
    negative bucket.  After the clamp both give 0 for every negative
    value (trunc and floor are both <= 0 there)."""
    bucket = F.greatest(
        F.lit(0),
        F.least(
            F.lit(buckets - 1),
            F.expr(
                "CAST(FLOOR(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT)"
                f" DIV {width_cents}"
            ),
        ),
    )
    return (
        events.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )
