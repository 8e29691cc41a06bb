"""SparkSession factory.

Local test/bench sessions run on ``local[$SPARK_GRAFT_CPUS]``; on a real
cluster the same configs apply (AQE, broadcast threshold) and the master is
whatever the deployment provides.  All query code is master-agnostic.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# Runtime SQL confs we want regardless of who created the session (the driver
# hands us its own session).  These are all runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp->date casts independent of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables (region/nation/customer/part/time) are broadcast-able.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Cost-based optimization over the ANALYZEd MV catalog tables
    # (mv/registry._analyze -- the VACUUM ANALYZE analog, SURVEY A9):
    # filter-selectivity estimates from column min/max/ndv and
    # CostBasedJoinReorder from row counts.  Path-based parquet reads carry
    # no catalog stats, so plans outside the analyzed tables are unchanged.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
    # rejects; read as long and convert (catalog normalizes to micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def scratch(prefix: str) -> str:
    """mkdtemp with an atexit rmtree -- the one way package code makes a
    temporary directory.  The dirs must OUTLIVE the call that makes them
    (a returned DataFrame's lineage reads them lazily, often from a later
    bench/gate action), so cleanup happens at process exit and repeated
    runs in one interpreter leave nothing behind."""
    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


JOB_DESCRIPTION = "spark.job.description"


@contextmanager
def job_label(label: str) -> Iterator[None]:
    """Describe the Spark jobs started inside the block as
    ``<outer description>:<label>`` (just ``label`` when none is set), so a
    status-store reader can tell which entry and stage ran each job.  The
    outer description comes back afterwards, also when the block raises.
    Only the description is set: jobs in a job group would drop out of
    ``getJobIdsForGroup(None)``, which the job counters read."""
    sc = SparkContext._active_spark_context
    outer = sc.getLocalProperty(JOB_DESCRIPTION)
    sc.setJobDescription(f"{outer}:{label}" if outer else label)
    try:
        yield
    finally:
        sc.setLocalProperty(JOB_DESCRIPTION, outer)


def materialize(df: DataFrame, label: str, eager: bool = True) -> DataFrame:
    """Compute ``df`` once and return a frame that reads the stored result --
    the one way package code pins a relation that is reused (several
    consumers, an iteration's next round, a frame that must outlive the
    inputs a ``finally`` deletes) and expensive to recompute.

    It is ``localCheckpoint``: its storage level is memory-and-disk, so
    large relations spill instead of being evicted, and the blocks live as
    long as the returned frame (no session-scoped cache is shared between
    timed runs).  The truncated lineage also keeps an iterative plan from
    growing with its round count.  An eager checkpoint runs its job now,
    under ``job_label(label)``; with ``eager=False`` the materializing job
    runs later, under whatever action consumes the frame first."""
    if not eager:
        return df.localCheckpoint(eager=False)
    with job_label(label):
        return df.localCheckpoint()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally provided session (driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; defaults are acceptable
    return spark


def get_spark(app_name: str = "pdwx-engine", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return apply_runtime_confs(builder.getOrCreate())
