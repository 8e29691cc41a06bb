"""Time registry entries, optionally on K-fold multiplied inputs.

Usage: python scripts/probe.py [--scale K] [--iters N] [--explain DIR] ENTRY_OR_GLOB ...

Runs the named registry entries (or every entry matching an fnmatch
pattern, in registry order) against the sf-dir named by $SPARK_GRAFT_SF_DIR
(required) in bench.py's session after bench.py's warm-up.
Each entry is timed exactly like bench.py's ``run``: construction plus one
``noop`` write.  ``--scale K`` first writes a K-fold copy of the sf-dir
(``multiplied_dir``) and probes that, which answers "does this entry's
plan survive K times the data?" on the shipped code path.  ``--explain
DIR`` runs each entry once more, untimed, and writes its AQE-final
formatted plan to DIR/<entry>.txt and its optimized logical plan, with
the ``#<id>`` expression ids stripped, to DIR/<entry>.logical.txt, so
comparing the plans of two checkouts is one ``diff -r``.

Example: python scripts/probe.py --scale 10 --iters 3 'x_tpch_q*' x_dedup_edit_join
"""

from __future__ import annotations

import argparse
import fnmatch
import glob
import os
import re
import shutil
import sys
import tempfile
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from postgresql_datawarehouse_excercise_spark import catalog, session  # noqa: E402
from postgresql_datawarehouse_excercise_spark.queries import QueryDef, load_all  # noqa: E402

# Key columns of the tables that grow with the data.  Copy i shifts every
# one of them by i * COPY_OFFSET, so each foreign key between two scaling
# tables lands in the same copy of its parent.  region, nation and supplier
# stay 1x: c_nationkey and l_suppkey are never shifted.
SCALING_KEYS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey"),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id", "user_id"),
}
COPY_OFFSET = 1_000_000_000


def _write_parquet_file(df: DataFrame, path: str) -> None:
    # One file per table, the layout of the source sf-dirs: the streaming
    # entries read <sf_dir>/events.parquet through a file-name filter that
    # a part-file directory does not match (x_stream_tumbling_hourly would
    # read no rows).
    tmp = f"{path}.parts"
    df.coalesce(1).write.parquet(tmp)
    (part,) = glob.glob(f"{tmp}/part-*.parquet")
    os.rename(part, path)
    shutil.rmtree(tmp)


def multiplied_dir(spark: SparkSession, sf_dir: str, k: int) -> str:
    """A fresh sf-dir holding K copies of every scaling table (see
    SCALING_KEYS) and symlinks to the 1x constant tables.  The caller
    removes it."""
    out = tempfile.mkdtemp(prefix=f"pdwx-x{k}-")
    t = catalog.load(spark, sf_dir)
    copy = F.explode(F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long")))
    # Microsecond timestamps like the source files, not Spark's default
    # INT96: the streaming readers sniff events.ts with pyarrow, which
    # reads INT96 as nanoseconds.
    ts_conf = "spark.sql.parquet.outputTimestampType"
    prev_ts_type = spark.conf.get(ts_conf)
    spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
    try:
        for name in catalog.TABLE_NAMES:
            path = f"{out}/{name}.parquet"
            if name not in SCALING_KEYS:
                os.symlink(os.path.abspath(f"{sf_dir}/{name}.parquet"), path)
                continue
            df = t.table(name).select("*", copy.alias("_copy"))
            for key in SCALING_KEYS[name]:
                df = df.withColumn(key, F.col(key) + F.col("_copy") * COPY_OFFSET)
            _write_parquet_file(df.drop("_copy"), path)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    finally:
        spark.conf.set(ts_conf, prev_ts_type)
    return out


def select_entries(registry: dict[str, QueryDef], patterns: list[str]) -> list[str]:
    """Names and fnmatch patterns, expanded in argument order, each entry once."""
    names: list[str] = []
    for pat in patterns:
        hits = [n for n in registry if fnmatch.fnmatchcase(n, pat)]
        if not hits:
            sys.exit(f"probe: no registry entry matches {pat!r}")
        names += [n for n in hits if n not in names]
    return names


def write_plan(spark: SparkSession, qd: QueryDef, sf_dir: str, out_dir: str) -> tuple[int, str]:
    """Execute the entry's own plan once (so AQE finalizes it), then write
    its formatted plan and its id-free optimized logical plan.  Returns
    the row count and the formatted plan's file."""
    # AQE skips plans without an exchange (e.g. a checkpointed result);
    # forcing it gives every file the same isFinalPlan=true root and
    # changes nothing else in such plans.
    spark.conf.set("spark.sql.adaptive.forceApply", "true")
    try:
        df = qd.fn(spark, sf_dir)
        qe = df._jdf.queryExecution()
        rows = qe.toRdd().count()
    finally:
        spark.conf.unset("spark.sql.adaptive.forceApply")
    with open(os.path.join(out_dir, f"{qd.name}.logical.txt"), "w") as fh:
        fh.write(re.sub(r"#\d+L?", "", qe.optimizedPlan().toString()))
    path = os.path.join(out_dir, f"{qd.name}.txt")
    with open(path, "w") as fh:
        fh.write(spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted"))
    return rows, path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", type=int, default=1, metavar="K")
    ap.add_argument("--iters", type=int, default=1, metavar="N")
    ap.add_argument("--explain", metavar="DIR")
    ap.add_argument("entries", nargs="+", metavar="ENTRY_OR_GLOB")
    args = ap.parse_args()
    if args.scale < 1 or args.iters < 1:
        ap.error("--scale and --iters must be at least 1")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to the sf-dir to probe")
    registry = load_all()
    names = select_entries(registry, args.entries)
    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
    spark = bench.bench_session()
    probe_dir = multiplied_dir(spark, sf_dir, args.scale) if args.scale > 1 else sf_dir
    failed = []
    try:
        bench.warm_up(spark, probe_dir)
        for name in names:
            try:
                with session.job_label(f"probe:{name}"):
                    ts = sorted(
                        bench.run(lambda: registry[name].fn(spark, probe_dir))
                        for _ in range(args.iters)
                    )
                    line = (f"{name} x{args.scale}: best={ts[0]:.3f}s "
                            f"median={ts[len(ts) // 2]:.3f}s")
                    if args.explain:
                        rows, path = write_plan(spark, registry[name], probe_dir, args.explain)
                        line += f" rows={rows} plan={path}"
                print(line, flush=True)
            except Exception:
                failed.append(name)
                print(f"{name} x{args.scale}: FAILED", flush=True)
                traceback.print_exc()
    finally:
        if probe_dir != sf_dir:
            shutil.rmtree(probe_dir, ignore_errors=True)
        spark.stop()
    if failed:
        sys.exit(f"probe: {len(failed)} entries failed: {' '.join(failed)}")


if __name__ == "__main__":
    main()
