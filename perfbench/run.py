"""OLAP-mart benchmark.

    python3 perfbench/run.py --workload olap_reports --seed 1 --seconds 8 --trace 0

Run from the repository root.  Generates the catalog tables from the seed
under ``perfbench/.work``, boots one ``local[<nproc>]`` Spark session
through ``session.get_spark``, sets the workload up several times,
checks every operation's output once, then runs closed-loop passes over the
workload's operations in seeded order for ``--seconds`` seconds.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  A results file with the host fingerprint and per-operation
medians goes to ``perfbench/results/``; a traced run also writes its spans
there.  See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

T_START = time.perf_counter()
ROOT = os.getcwd()
PACKAGE = "postgresql_datawarehouse_excercise_spark"


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ.pop("SPARK_MASTER", None)
    # no hsperfdata file under the system temp dir, from the launcher JVM
    # or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={work}/spark-local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -Xms1g -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def _microbenches(spark) -> dict[str, float]:
    """bench.py's host microbenches, recorded so results from different
    hosts can be normalized."""
    from pyspark.sql import functions as F

    out = {}
    for label, fn in (
        ("codegen_1e8", lambda: spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()),
        ("shuffle_1e7", lambda: spark.range(10_000_000)
            .groupBy((F.col("id") % 1000).alias("k")).count()
            .write.format("noop").mode("overwrite").save()),
        ("python_arrow_1e6", lambda: spark.range(1_000_000).toPandas()),
    ):
        t0 = time.perf_counter()
        fn()
        out[label] = time.perf_counter() - t0
    return out


@dataclass
class Sample:
    op: object
    secs: float  # wall time, also of an operation that raised


@dataclass
class Lane:
    traced: bool
    samples: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # seconds of each whole pass


def _loop(env, ops, seconds: float, rng: random.Random, spark_work, lanes: list[Lane],
          failures: list) -> None:
    """Closed-loop passes in seeded order: one round of the lane order, then
    as many more passes as fit in ``seconds`` (a pass is not started when
    one more of the last pass's length would overrun).  With two lanes the
    order is A B B A, switching the spans on or off with the lane, so that a
    JVM still warming up slows both lanes alike."""
    from perfbench.workloads import run_op

    tr = env.tracer
    order = [0, 1, 1, 0] if len(lanes) == 2 else [0]
    t0 = time.perf_counter()
    for n in itertools.count():
        lane = lanes[order[n % len(order)]]
        tr.enabled = lane.traced
        if lane.traced:
            spark_work.take()  # drop Spark work done outside traced operations
        total = 0.0
        for op in rng.sample(ops, len(ops)):
            sid = tr.begin_op() if lane.traced else 0
            s0 = time.perf_counter()
            try:
                run_op(env, op)
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                failures.append(f"{op.kind}: {type(e).__name__}: {str(e)[:300]}")
            s1 = time.perf_counter()
            if lane.traced:
                tr.end_op(sid, op.kind, s0, s1, **spark_work.take())
            lane.samples.append(Sample(op, s1 - s0))
            total += s1 - s0
        lane.passes.append(total)
        if n + 1 >= len(order) and time.perf_counter() - t0 + total > seconds:
            return


def main() -> int:
    args = _args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"perfbench: run from the repository root ({PACKAGE}/ and tests/ not found in {ROOT})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, "perfbench", ".work", f"run-{os.getpid()}")
    results_dir = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    _prepare_env(work, cpus)

    from perfbench import workloads as wl
    from perfbench.workloads import geomean, median
    from perfbench.spans import SparkWork, Tracer
    from postgresql_datawarehouse_excercise_spark.session import get_spark

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    setup_fn, ops_fn, setup_reps = wl.WORKLOADS[args.workload]

    spark = get_spark("perfbench", shuffle_partitions=cpus)
    env = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        boot_s = time.perf_counter() - T_START
        tracer = Tracer(bool(args.trace))
        if tracer.enabled:
            wl.trace_module_calls(tracer)
        spark_work = SparkWork(spark)

        setup_s: list[float] = []
        setup_work: list[dict] = []
        for _ in range(setup_reps):
            if env is not None:
                env.close()
            t0 = time.perf_counter()
            env = setup_fn(spark, tracer, work, args.seed)
            setup_s.append(time.perf_counter() - t0)
            setup_work.append(spark_work.take() if tracer.enabled else {})

        ops = ops_fn()
        t0 = time.perf_counter()
        failures = wl.check(env, ops)
        check_s = time.perf_counter() - t0

        rng = random.Random(args.seed)
        env.explain.clear()
        timed = Lane(bool(args.trace))
        # a traced run alternates untraced and traced passes: the tracing overhead
        untraced = Lane(False)
        _loop(env, ops, args.seconds, rng, spark_work, [untraced, timed] if timed.traced else [timed],
              failures)
        tracer.enabled = timed.traced
        samples = timed.samples

        py_mb = _hwm_mb("self")
        from pyspark import SparkContext

        jvm_mb = _hwm_mb(SparkContext._gateway.proc.pid)
        host = {
            "nproc": cpus,
            "ram_mb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20,
            "spark": spark.version,
            "python": platform.python_version(),
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        }
        if tracer.enabled:
            host["microbench_s"] = _microbenches(spark)

        per_kind: dict[str, list[float]] = {}
        for x in samples:
            per_kind.setdefault(x.op.kind, []).append(1000.0 * x.secs)
        medians = {k: median(v) for k, v in per_kind.items()}
        e2e = {
            "setup_s": (median(setup_s), "s"),
            "op_geomean_ms": (geomean(list(medians.values())), "ms"),
            "pass_s": (median(timed.passes), "s"),
            "peak_rss_mb": (py_mb + jvm_mb, "MB"),
        }
        by_class = {
            klass: geomean([medians[o.kind] for o in ops if o.klass == klass and o.kind in medians])
            for klass in sorted({o.klass for o in ops})
        }
        orderings = wl.paper_orderings(medians) if args.workload == "olap_reports" else {}

        layer = {}
        if tracer.enabled:
            layer = wl.layer_metrics(
                tracer, env, ops, samples, untraced.samples, setup_work, cpus,
                boot_s=boot_s, py_mb=py_mb, jvm_mb=jvm_mb,
            )
            tracer.dump(
                os.path.join(results_dir, f"spans-{args.workload}-s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed},
            )
        attempted = len(ops) + len(untraced.samples) + len(samples)
        result_file = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host, "boot_s": boot_s, "setup_runs_s": setup_s,
            "check_s": check_s,
            "passes_s": timed.passes, "op_median_ms": medians,
            "op_samples": {k: len(v) for k, v in per_kind.items()},
            "class_geomean_ms": by_class, "paper_orderings": orderings, "failures": failures,
            "failed_share": len(failures) / attempted,
            "end_to_end": {k: v for k, (v, _) in e2e.items()}, "per_layer": layer,
            "samples": [(x.op.kind, x.secs) for x in samples],
        }
        with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(result_file, f, indent=1)

        for msg in failures:
            print(f"FAILED {msg}")
        for k, v in sorted(medians.items()):
            print(f"op {k}: median {v:.1f} ms over {len(per_kind[k])} runs")
        for klass, v in by_class.items():
            print(f"class {klass}: geomean of medians {v:.1f} ms")
        for name, (held, detail) in orderings.items():
            print(f"paper ordering {name}: {'holds' if held else 'does NOT hold'} ({detail})")
        print(f"failed_share: {len(failures)}/{attempted}")
        chosen = layer if tracer.enabled else e2e
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}
        print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                          "metrics": metrics}))
        return 0
    finally:
        if env is not None:
            env.close()
        if "tracer" in locals():
            tracer.unwrap_all()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
