"""Streaming CEP by replay-with-revision.

Strictly-consecutive pattern matching (operators/cep.py) is NON-MONOTONE
under out-of-order arrival: a late event whose timestamp lands BETWEEN two
events of an already-reported occurrence breaks its contiguity, so the
occurrence must be RETRACTED -- no append-mode emission can be correct.
(FlinkCEP sidesteps this by buffering until the watermark and matching
only watermark-complete prefixes; the cost is latency equal to the
allowed lateness.)

This module takes the update-mode route, the same one the engine's
streaming aggregates use: every micro-batch appends its events to the
accumulated prefix (a parquet state table -- at 100 TB this is the
watermark-retained suffix, not the full history: matches are bounded by
max_span_us, so events older than the watermark minus the span can never
join a new or broken occurrence and compact away), re-runs the pattern
match on the prefix, and emits the CURRENT full match set tagged with the
epoch.  The LAST epoch's emission is the answer -- tracked EXPLICITLY by
the sink (it records each epoch id as it commits), never inferred as
max(_epoch) over the emitted rows: when the final re-match is EMPTY
(exactly the retraction case tests/test_cep_compiler.py pins), an
inferred max would resolve to an earlier epoch and resurrect the
retracted occurrences as the authoritative answer.

Both the state table and the emission are written as one OVERWRITTEN
subdirectory per epoch (`_batch={epoch}` / `_epoch={epoch}`), so a
checkpoint-recovery re-delivery of a micro-batch rewrites its own
subdirectory instead of appending a second copy -- append mode would
duplicate the re-delivered events, shift every seq, and corrupt all
subsequent re-matches (the foreachBatch idempotence contract).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cep import Stage, cep_match
from . import drain, read_files


class CepReplaySink:
    """foreachBatch sink: append the batch to the event prefix (one
    overwritten parquet subdir per epoch -- idempotent under checkpoint
    re-delivery), re-match the pattern over the prefix, emit the full
    current match set into the epoch's own subdir, and record the epoch
    id so the caller can select the FINAL emission explicitly (an empty
    final match set is a real answer, not a missing one)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        out_dir: str,
        pattern: list[Stage],
        max_span_us: int,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.out_dir = out_dir
        self.pattern = pattern
        self.max_span_us = max_span_us
        self.epochs: list[int] = []

    def __call__(self, batch_df: DataFrame, epoch: int) -> None:
        # one subdir per epoch, OVERWRITTEN: re-delivery of the same epoch
        # (checkpoint recovery) rewrites its own files instead of
        # double-appending the batch into the accumulated prefix
        batch_df.write.mode("overwrite").parquet(
            f"{self.state_dir}/_batch={epoch}"
        )
        # read the prefix through the BATCH's session: foreachBatch runs in
        # a cloned session, and frames from different sessions cannot join
        # (fragile under Spark Connect; the _ann_index_sink fix, ADVICE r13)
        acc = batch_df.sparkSession.read.parquet(self.state_dir).drop("_batch")
        cep_match(acc, self.pattern, self.max_span_us).write.mode(
            "overwrite"
        ).parquet(f"{self.out_dir}/_epoch={epoch}")
        self.epochs.append(epoch)


def cep_replay_sink(
    spark: SparkSession,
    state_dir: str,
    out_dir: str,
    pattern: list[Stage],
    max_span_us: int,
) -> CepReplaySink:
    """Build the foreachBatch replay sink (see CepReplaySink)."""
    return CepReplaySink(spark, state_dir, out_dir, pattern, max_span_us)


def run_cep_stream(
    spark: SparkSession,
    events_src: str,
    schema,
    state_dir: str,
    out_dir: str,
    pattern: list[Stage],
    max_span_us: int,
) -> DataFrame:
    """Drain a finite file-source event stream (maxFilesPerTrigger=1 ->
    one micro-batch per file) through cep_replay_sink; returns the LAST
    epoch's match set (the revised, authoritative answer), selected by
    the epoch id the sink RECORDED for its final commit -- correct even
    when that final re-match retracted every occurrence and emitted zero
    rows.  The stream's checkpoint lives in out_dir/_checkpoint (a name
    parquet reads of out_dir skip), so removing out_dir removes it too."""
    sink = cep_replay_sink(spark, state_dir, out_dir, pattern, max_span_us)
    drain(read_files(spark, schema, events_src), sink, checkpoint=out_dir)
    epochs = list(sink.epochs)
    if not epochs:
        # Restart against an existing checkpoint with no new files: zero
        # batches fire in THIS process, but the authoritative final epoch
        # is already committed on disk -- fall back to the max _epoch=
        # subdir under out_dir (each was fully written before its epoch id
        # was recorded, so the max committed subdir IS the last answer).
        # Only a truly never-run stream raises (ADVICE r13).
        epochs = [
            int(d.split("=", 1)[1])
            for d in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
            if d.startswith("_epoch=")
        ]
    if not epochs:
        raise ValueError(f"no micro-batches arrived from {events_src}")
    last = max(epochs)
    return spark.read.parquet(f"{out_dir}/_epoch={last}")
