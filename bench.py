"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS].  Mirrors BASELINE.md's methodology: the same
report is timed against the raw tables, the persisted sales mart, and the
persisted View2/View3 -- the relative ordering raw > mart > view must
reproduce (assignment-5.md:628).

Execution is timed with the noop sink (full plan runs, no driver collect).
The graded Q4/Q5 headline entries report the MEDIAN of 5 runs (their
BASELINE orderings separate by tens of ms; median survives bimodal host
noise that inverted them in single runs); streaming entries run once
(startup dominates); every other registry entry reports best-of-3.

Driver contract (VERDICT round 1, item 2): stdout carries EXACTLY ONE compact
JSON line as its final line -- the driver's tail buffer is finite, so the
"queries" dict in that line is limited to the headline entries + per-family
totals.  The full per-query timing map goes to BENCH_full.json next to this
file and to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog, session
from postgresql_datawarehouse_excercise_spark.functions import money
from postgresql_datawarehouse_excercise_spark.mv.definitions import default_registry
from postgresql_datawarehouse_excercise_spark.queries import load_all
from postgresql_datawarehouse_excercise_spark.queries.q4_views import _geo, _top_country


def run(df_fn) -> float:
    # the timer wraps CONSTRUCTION + execution: for lazy queries the build is
    # sub-ms noise, but side-effectful entries (mutation COW, source
    # round-trips) do their real work eagerly inside the query fn and would
    # otherwise be timed as just their final aggregate
    t0 = time.perf_counter()
    df_fn().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def timed(df_fn, iters: int = 3) -> float:
    # best-of-3: the host shows multi-second noise bursts under full load
    # (single-run and best-of-2 numbers swung 3x run-to-run); min is the
    # right estimator for "what the engine costs" under external noise
    return round(min(run(df_fn) for _ in range(iters)), 4)


def timed_median(df_fn, iters: int = 5) -> float:
    # The graded BASELINE orderings (q4a raw > mart ~ view1 > view2;
    # q4b raw >> views with view2 cheapest; q5b from-MV << nested) separate
    # by tens of ms at gate scale, where a single noisy run can invert them
    # (VERDICT r9 #3: the driver's run showed view2 > view3 on 40 ms
    # deltas).  Median-of-5 tolerates two outlier runs in either direction,
    # which min-of-3 does not when the noise is bimodal.
    ts = sorted(run(df_fn) for _ in range(iters))
    return round(ts[len(ts) // 2], 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    spark = bench_session()
    warm_up(spark, sf_dir)
    # Host fingerprint (stderr only; VERDICT r16 item 9): three fixed
    # microbenches -- codegen, shuffle, Python/Arrow boundary -- so
    # round-over-round driver numbers can be normalized for host drift
    # (r16 measured identical code 1.5-2x slower across rounds; r17 saw
    # 6-50 s swings on the same entry within one session).
    for label, fp_fn in (
        ("codegen_1e8", lambda: spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()),
        ("shuffle_1e7", lambda: spark.range(10_000_000)
            .groupBy((F.col("id") % 1000).alias("k")).count()
            .write.format("noop").mode("overwrite").save()),
        ("python_arrow_1e6", lambda: spark.range(1_000_000).toPandas()),
    ):
        t0 = time.perf_counter()
        fp_fn()
        print(f"host_fingerprint {label} = {time.perf_counter() - t0:.3f} s", file=sys.stderr)
    # Compile-warm the MV build plans at sf0.001 into a throwaway dir:
    # whole-stage-codegen + JIT of the build's ~180 generated classes
    # otherwise lands on the first timed entry (measured ~17 s of a 24 s
    # sf0.1 cold build; the warm build is ~7 s).  The classes do not depend
    # on the input size and the session's codegen cache
    # (session.CODEGEN_CACHE_ENTRIES) holds all of them, so the timed sf0.1
    # builds compile none (measured 0 of ~180; under Spark's default
    # 100-entry cache each build recompiled ~170).  BASELINE measures query
    # time, not JVM boot.
    warm_wh = tempfile.mkdtemp(prefix="pdwx-bench-warmwh-")
    default_registry(warm_wh).build_all(spark, "/root/testdata/sf0.001")
    # streaming engine warmup (state store + streaming codegen init is ~8 s
    # once per JVM; the timed entry measures the stream, not the init).
    # The one-time init survives to the timed stream entries; their
    # generated classes do too while fewer than CODEGEN_CACHE_ENTRIES other
    # classes are compiled in between (an LRU cache evicts the oldest).
    registry = load_all()
    registry["x_stream_tumbling_hourly"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    # incremental-MV maintenance plan shapes (extend_time_dim window, merge
    # re-aggregate, foreachBatch swap writes) are distinct from both the MV
    # build plans and the stateful-stream plans warmed above (~60 classes
    # of their own); their first compile measured ~5.4 s and landed on the
    # iters=1 timed entry (the r8 5.9 -> 7.8 s "regression" was exactly
    # this, not an engine change)
    registry["x_stream_incremental_mv"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    q = {name: qd.fn for name, qd in registry.items()}

    results: dict[str, float] = {}

    # --- ETL + MV build (timed as a whole: the reference's EP2) ----------
    wh = tempfile.mkdtemp(prefix="pdwx-bench-wh-")
    reg = default_registry(wh)
    # median-of-3 (was best-of-2): mv_build_all is the run's first sf0.1
    # block, so in loaded driver environments the first build absorbs the
    # remaining cold-start (r11 driver run 8.81 s vs 4.74 s committed
    # snapshot with identical code).  Three builds, median reported: the
    # cold first build becomes an outlier the median drops, symmetric with
    # timed_median()'s treatment of the graded Q4/Q5 entries.
    build_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        reg.build_all(spark, sf_dir)
        build_times.append(time.perf_counter() - t0)
    results["mv_build_all"] = round(sorted(build_times)[1], 4)

    sales = lambda: reg.read(spark, "sales")  # noqa: E731
    view1 = lambda: reg.read(spark, "view1")  # noqa: E731
    view2 = lambda: reg.read(spark, "view2")  # noqa: E731
    view3 = lambda: reg.read(spark, "view3")  # noqa: E731

    def topk_from(df: DataFrame, key: str = "customerid") -> DataFrame:
        return (
            df.groupBy(key)
            .agg(F.sum("amnt").alias("s"))
            .orderBy(F.col("s").desc(), F.col(key).asc())
            .limit(5)
        )

    t = catalog.load(spark, sf_dir)

    # --- Q4a best buyers: raw vs mart vs view2 (BASELINE relative order) --
    results["q4a_best_buyers_raw"] = timed_median(lambda: q["q4a_best_buyers_raw"](spark, sf_dir))
    results["q4a_best_buyers_mart"] = timed_median(lambda: topk_from(sales()))
    results["q4a_best_buyers_view1"] = timed_median(lambda: topk_from(view1()))
    results["q4a_best_buyers_view2"] = timed_median(lambda: topk_from(view2()))

    # --- Q4b top country: raw vs mart vs view3+bridge ---------------------
    # All three rewrite targets mirror the reference's SINGLE GROUP BY
    # country over (source NATURAL JOIN customer) -- one broadcast join +
    # one aggregate; the ordering then tracks input size (view2 smallest),
    # the reference's own reason for View2-cheapest (assignment-5.md:779).
    results["q4b_top_country_raw"] = timed_median(lambda: q["q4b_top_country_raw"](spark, sf_dir))

    cust_geo = lambda: F.broadcast(_geo(t).select("customerid", "country"))  # noqa: E731
    results["q4b_top_country_mart"] = timed_median(
        lambda: _top_country(sales(), cust_geo(), "customerid", "amnt")
    )
    results["q4b_top_country_view2"] = timed_median(
        lambda: _top_country(view2(), cust_geo(), "customerid", "amnt")
    )
    results["q4b_top_country_view3"] = timed_median(
        lambda: _top_country(
            view3(),
            F.broadcast(_geo(t).select("district", "country").distinct()),
            "district",
            "amnt",
        )
    )

    # --- Q5: windows; report-from-MV vs single nested query ---------------
    results["q5a_window_report"] = timed_median(lambda: q["q5a_window_report"](spark, sf_dir))

    def q5b_from_mv() -> DataFrame:
        from pyspark.sql import Window

        mv = reg.read(spark, "sum_per_day_per_city")
        w = Window.partitionBy("city").orderBy("timeid")
        return mv.select(
            "city", "timeid", "day",
            money(F.col("sumspending")).alias("sumspending"),
            money(F.sum("sumspending").over(w)).alias("cumulative"),
        )

    results["q5b_cumsum_from_mv"] = timed_median(q5b_from_mv)
    results["q5b_nested_windows"] = timed_median(lambda: q["q5b_nested_windows"](spark, sf_dir))

    # --- fam_mv: the SQL rewrite itself, on a SHARED built fixture --------
    # The gated x_mv_sql_rewrite entries rebuild their own MV stack per call
    # (correctness isolation); that in-entry build + ANALYZE is ~3.3 s of
    # fixture cost, not rewrite cost, and it drowned the number that matters
    # (verdict r6 #5).  Here the rewrite is timed against the registry the
    # mv_build_all block already built -- the steady-state shape a real
    # deployment runs (build once, rewrite thousands of times).
    from postgresql_datawarehouse_excercise_spark.mv import sql_rewrite
    from postgresql_datawarehouse_excercise_spark.mv.definitions import (
        default_navigator,
        with_count_stats,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_mv import _TEXT, _TEXT_MULTI

    with_count_stats(reg)
    # If the base tables changed on disk since mv_build_all, the freshness
    # gate makes the rewriter (correctly) decline.  Rebuild once so the
    # timing still measures the steady-state rewrite, and treat a residual
    # decline as a skipped datapoint instead of a run-killing assertion
    # (ADVICE r7).
    if not all(reg.is_fresh(sf_dir, n) for n in ("sales", "time", "view2")):
        print("fam_mv: registry stale; rebuilding", file=sys.stderr)
        reg.build_all(spark, sf_dir)
    reg.build(spark, sf_dir, "view2_stats")
    nav_mv = default_navigator(reg)
    sql_rewrite.register_star_view(spark, sf_dir)

    def rewritten(text: str) -> DataFrame:
        explain: list[str] = []
        df = sql_rewrite.spark_sql(spark, sf_dir, text, reg, nav_mv, explain=explain)
        if not any("rewriting onto MV" in e for e in explain):
            raise AssertionError(f"MV rewrite did not fire: {explain}")
        return df

    for key, text in (("x_mv_sql_rewrite", _TEXT), ("x_mv_sql_rewrite_multi", _TEXT_MULTI)):
        try:
            results[key] = timed(lambda text=text: rewritten(text))
        except AssertionError as exc:
            print(f"{key}: rewrite declined, datapoint skipped: {exc}", file=sys.stderr)

    # --- every other registry entry ---------------------------------------
    # BENCH_full.json covers the whole registry, so a new entry can never be
    # silently unbenched.  Streams run last and once: stream startup
    # dominates, and best-of-N would triple a fixed cost for no signal.
    # Everything else is best-of-3.
    for name in sorted(registry, key=lambda n: n.startswith("x_stream_")):
        if name not in results:
            fn = lambda name=name: q[name](spark, sf_dir)  # noqa: E731
            with session.job_label(name):
                results[name] = timed(fn, iters=1) if name.startswith("x_stream_") else timed(fn)

    total = round(sum(results.values()), 4)

    # Full detail: stderr + BENCH_full.json (the driver's stdout tail buffer
    # is finite; round 1's 4KB+ single line came back "parsed": null).
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": sf,
    }
    print(json.dumps(full, indent=1), file=sys.stderr)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
    except OSError as exc:
        print(f"could not write {full_path}: {exc}", file=sys.stderr)

    headline = (
        "mv_build_all",
        "q1_sales_fact",
        "q2_weighted_avg",
        "q3a_best_buyers",
        "q4a_best_buyers_raw",
        "q4a_best_buyers_mart",
        "q4a_best_buyers_view1",
        "q4a_best_buyers_view2",
        "q4b_top_country_raw",
        "q4b_top_country_mart",
        "q4b_top_country_view2",
        "q4b_top_country_view3",
        "q5a_window_report",
        "q5b_cumsum_from_mv",
        "q5b_nested_windows",
        "x_asof_latest_order",
        "x_range_join_click_followups",
        "x_pipeline_decontaminate",
    )
    compact: dict[str, float] = {k: round(results[k], 3) for k in headline if k in results}
    fams: dict[str, float] = {}
    for name, secs in results.items():
        if name in headline or not name.startswith("x_"):
            continue
        fam = "fam_" + name.split("_")[1]
        fams[fam] = round(fams.get(fam, 0.0) + secs, 3)
    compact.update(sorted(fams.items()))
    sys.stderr.flush()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": compact,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    sys.stdout.flush()


def bench_session() -> SparkSession:
    """The engine session (session.get_spark) on local[$SPARK_GRAFT_CPUS]
    (32 when unset) with one shuffle partition per core and a 16g driver
    unless SPARK_DRIVER_MEMORY says otherwise; its confs are echoed to
    stderr."""
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")
    spark = session.get_spark("pdwx-bench", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    for k in sorted(session.RUNTIME_CONFS):
        print(f"conf {k} = {spark.conf.get(k, '<unset>')}", file=sys.stderr)
    print(f"defaultParallelism = {spark.sparkContext.defaultParallelism}", file=sys.stderr)
    return spark


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Keep engine boot off the first timed entries (BASELINE measures
    queries, not boot): one codegen job, one scan of every input table
    (parquet footers + OS page cache), and one Arrow/pandas round trip
    (Python worker pool spin-up)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = catalog.load(spark, sf_dir)
    for tname in catalog.TABLE_NAMES:
        warm.table(tname).write.format("noop").mode("overwrite").save()
    spark.range(10_000).toPandas()


if __name__ == "__main__":
    main()
