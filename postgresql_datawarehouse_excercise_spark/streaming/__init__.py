"""Structured Streaming operators over the `events` stream (extension
surface; the reference is batch-only — SURVEY.md §2-I).

`read_files` and `drain` are the one finite file-stream source and the one
way a stream is run to completion.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def read_files(spark: SparkSession, schema, path: str) -> DataFrame:
    """File-source stream over the parquet files of ``path``, one file per
    micro-batch (maxFilesPerTrigger=1; arrival order is path/mtime driven)."""
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def drain(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str | None = None,
    output_mode: str | None = None,
) -> StreamingQuery:
    """Run a finite stream to completion: every available micro-batch goes
    through the foreachBatch ``sink`` (availableNow trigger), then wait.
    With ``checkpoint`` the stream's state lives in
    ``<checkpoint>/_checkpoint`` (a name parquet reads of that dir skip, so
    removing the dir removes it too); without it Spark uses a temporary
    location.  Returns the finished query, whose ``recentProgress`` holds
    the per-batch records."""
    writer = stream_df.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", f"{checkpoint}/_checkpoint")
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    q = writer.start()
    q.awaitTermination()
    return q
