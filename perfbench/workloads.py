"""The benchmark's workloads: how each one sets up, which operations one
pass runs, and how each operation's output is checked.

Every operation returns a DataFrame; the timed region is its construction
(the engine call, including any eager materialization inside it) plus a
full execution into Spark's ``noop`` sink.  Checks run outside the timed
region against the registry's DuckDB oracles through
``tests/oracle_harness.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog
from postgresql_datawarehouse_excercise_spark.etl import validate
from postgresql_datawarehouse_excercise_spark.functions import money
from postgresql_datawarehouse_excercise_spark.mv import sql_rewrite
from postgresql_datawarehouse_excercise_spark.mv.definitions import (
    default_navigator,
    default_registry,
    with_count_stats,
)
from postgresql_datawarehouse_excercise_spark.mv.navigator import AggQuery
from postgresql_datawarehouse_excercise_spark.queries import REGISTRY, load_all
from postgresql_datawarehouse_excercise_spark.queries import x_mv
from tests.oracle_harness import compare, duck_connect, rows_multiset

from . import datagen
from .spans import Tracer

SCALE = 0.01  # 60k lineitems, 500 documents

RAW_REPORTS = (
    "q2_weighted_avg",
    "q3a_best_buyers",
    "q4a_best_buyers_raw",
    "q4b_top_country_raw",
    "q5a_window_report",
    "q5b_nested_windows",
)
CURATION_ENTRIES = (
    "x_dedup_edit_join",
    "x_dedup_minhash_lsh_pairs",
    "x_text_bm25",
)


@dataclass
class Op:
    kind: str
    klass: str  # 'raw' | 'mv' | 'curation'
    run: object  # (Env) -> DataFrame
    oracle: str | None = None  # DuckDB SQL the output must equal
    twin: str | None = None  # raw report kind the output must equal
    must_rewrite: bool = False


@dataclass
class Env:
    """One set-up's state: generated inputs and, for the mart, its MVs."""

    spark: object
    tracer: Tracer
    work: str
    sf_dir: str
    input_bytes: int
    reg: object = None
    nav: object = None
    explain: list = field(default_factory=list)

    def close(self) -> None:
        if self.reg is not None:
            self.reg.drop_all(self.spark)
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        if self.reg is not None:
            shutil.rmtree(self.reg.warehouse, ignore_errors=True)


def _make_inputs(spark, tracer: Tracer, work: str, seed: int, load: tuple[str, ...] = ()) -> Env:
    """Generate the inputs and load the ``load`` tables through the catalog's
    schema guard (the MV build loads the mart's tables itself)."""
    sf_dir = tempfile.mkdtemp(prefix="inputs-", dir=work)
    nbytes = datagen.write(sf_dir, datagen.tables(seed, SCALE))
    env = Env(spark, tracer, work, sf_dir, nbytes)
    tables = catalog.load(spark, sf_dir)
    tracer.wrap(tables, "table", "catalog.table")
    for name in load:
        tables.table(name).count()
    return env


# --- olap_reports -----------------------------------------------------------

def _build_mart(env: Env) -> None:
    spark, tr = env.spark, env.tracer
    reg = with_count_stats(default_registry(tempfile.mkdtemp(prefix="wh-", dir=env.work)))
    tr.wrap(reg, "build", "mv.registry.build")
    tr.call("mv.registry.build_all", reg.build_all, spark, env.sf_dir)
    nav = default_navigator(reg)
    for attr in ("choose", "choose_multi", "answer"):
        tr.wrap(nav, attr, f"mv.navigator.{attr}")
    sql_rewrite.register_star_view(spark, env.sf_dir)
    sql_rewrite.register_lines_view(spark, env.sf_dir)
    catalog.register_views(spark, env.sf_dir)
    env.reg, env.nav = reg, nav


def olap_setup(spark, tracer: Tracer, work: str, seed: int) -> Env:
    env = _make_inputs(spark, tracer, work, seed)
    _build_mart(env)
    return env


def _raw(name: str):
    return lambda env: env.tracer.call("queries.construct", REGISTRY[name].fn, env.spark, env.sf_dir)


def _q4a_nav(env: Env) -> DataFrame:
    q = AggQuery(frozenset({"customerid", "name"}), "amnt")
    df = env.nav.answer(env.spark, env.sf_dir, q)
    return (
        df.orderBy(F.col("amnt").desc(), F.col("customerid").asc())
        .limit(5)
        .select(F.col("customerid").alias("customer_id"), "name", money(F.col("amnt")).alias("spending"))
    )


def _q4b_nav(env: Env) -> DataFrame:
    df = env.nav.answer(env.spark, env.sf_dir, AggQuery(frozenset({"country"}), "amnt"))
    return (
        df.orderBy(F.col("amnt").desc(), F.col("country").asc())
        .limit(1)
        .select("country", money(F.col("amnt")).alias("spending"))
    )


def _q5b_from_mv(env: Env) -> DataFrame:
    mv = env.reg.read(env.spark, "sum_per_day_per_city")
    w = Window.partitionBy("city").orderBy("timeid")
    return mv.select(
        "city", "timeid", "day",
        money(F.col("sumspending")).alias("sumspending"),
        money(F.sum("sumspending").over(w)).alias("cumulative"),
    )


def _text(sql: str, shape: list, view: str = sql_rewrite.STAR_VIEW):
    """An x_mv SQL text answered through the rewriter, shaped like the
    registry entry that states the same text."""

    def run(env: Env) -> DataFrame:
        explain: list[str] = []
        df = env.tracer.call(
            "mv.sql_rewrite.spark_sql", sql_rewrite.spark_sql,
            env.spark, env.sf_dir, sql, env.reg, env.nav, view_name=view, explain=explain,
        )
        env.explain.append(any("rewriting onto MV" in e for e in explain))
        return df.select(*[F.col(c) if isinstance(c, str) else c for c in shape])

    return run


def _m(c: str):
    return money(F.col(c)).alias(c)


def olap_ops() -> list[Op]:
    load_all()
    ops = [Op(n, "raw", _raw(n), oracle=REGISTRY[n].oracle) for n in RAW_REPORTS]
    ops += [
        Op("q4a_navigator", "mv", _q4a_nav, twin="q4a_best_buyers_raw"),
        Op("q4b_navigator", "mv", _q4b_nav, twin="q4b_top_country_raw"),
        Op("q5b_from_mv", "mv", _q5b_from_mv, twin="q5b_nested_windows"),
    ]
    texts = {
        "x_mv_sql_rewrite": (x_mv._TEXT, ["name", "year", _m("amnt")], sql_rewrite.STAR_VIEW),
        "x_mv_sql_rewrite_multi": (
            x_mv._TEXT_MULTI,
            ["name", "year", _m("total_amnt"), "n_rows",
             F.col("avg_amnt").cast("double").alias("avg_amnt"), _m("max_amnt")],
            sql_rewrite.STAR_VIEW,
        ),
        "x_mv_sql_rewrite_join": (x_mv._TEXT_JOIN, ["customerid", _m("spending")], sql_rewrite.STAR_VIEW),
        "x_mv_sql_rewrite_distinct": (
            x_mv._TEXT_DISTINCT, ["year", "n_customers", _m("total")], sql_rewrite.STAR_VIEW,
        ),
        "x_mv_sql_rewrite_expr": (
            x_mv._TEXT_EXPR, ["year", _m("revenue"), _m("sat_revenue")], sql_rewrite.LINES_VIEW,
        ),
    }
    for name, (sql, shape, view) in texts.items():
        ops.append(Op(name, "mv", _text(sql, shape, view), oracle=REGISTRY[name].oracle,
                      must_rewrite=True))
    return ops


# --- curation_ops -----------------------------------------------------------

def curation_setup(spark, tracer: Tracer, work: str, seed: int) -> Env:
    return _make_inputs(spark, tracer, work, seed, load=("documents", "embeddings"))


def curation_ops() -> list[Op]:
    load_all()
    return [Op(n, "curation", _raw(n), oracle=REGISTRY[n].oracle) for n in CURATION_ENTRIES]


# name -> (set-up, operations, set-ups per run); a curation set-up takes
# about a second, so more of them keep its median steady
WORKLOADS = {
    "olap_reports": (olap_setup, olap_ops, 3),
    "curation_ops": (curation_setup, curation_ops, 7),
}


def analyze_ms(env: Env) -> float:
    """The deferred ANALYZE the registry runs on each navigation target's
    first catalog read (``MVRegistry.table``).  The timed reports read MVs
    by path, so it is measured once, in traced runs only."""
    if env.reg is None:
        return 0.0
    t0 = time.perf_counter()
    for name, mv in env.reg.defs.items():
        if mv.measures and not mv.partition_by:
            env.reg.table(env.spark, name)
    return 1000.0 * (time.perf_counter() - t0)


def trace_module_calls(tracer: Tracer) -> None:
    """Module-level wraps (traced runs only)."""
    tracer.wrap(validate, "assert_table_one_pass", "etl.validate")


def check(env: Env, ops: list[Op]) -> list[str]:
    """Run every operation once, untimed, and compare its output; returns
    one message per failed check.  Also serves as the compile warm-up."""
    failures: list[str] = []
    con = duck_connect(env.sf_dir)
    rows: dict[str, object] = {}
    paired = {op.twin for op in ops} | {op.kind for op in ops if op.twin is not None}
    try:
        for op in ops:
            try:
                env.explain.clear()
                df = op.run(env)
                if op.must_rewrite and not all(env.explain):
                    failures.append(f"{op.kind}: the SQL text was not rewritten onto an MV")
                if op.oracle is not None:
                    compare(df, con, op.oracle)
                if op.kind in paired:
                    got = rows_multiset(list(df.columns), [tuple(r) for r in df.collect()])
                    rows[op.kind] = got
                    if op.twin is not None and rows.get(op.twin) != got:
                        failures.append(f"{op.kind}: differs from its raw twin {op.twin}")
            except Exception as e:  # noqa: BLE001 - every failure is reported, none aborts the run
                failures.append(f"{op.kind}: {type(e).__name__}: {str(e)[:300]}")
    finally:
        con.close()
    return failures


def run_op(env: Env, op: Op) -> None:
    """Construct and fully execute one operation (the timed region)."""
    tr = env.tracer
    df = op.run(env)
    if tr.enabled:
        tr.call("spark.plan", df._jdf.queryExecution().executedPlan)
    tr.call("spark.execute", df.write.format("noop").mode("overwrite").save)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def paper_orderings(medians: dict[str, float]) -> dict[str, tuple[bool, str]]:
    """BASELINE.md's raw > mart > view orderings, from per-report medians."""
    def ratio(slow: str, fast: str) -> float:
        return medians[slow] / medians[fast]

    q4a = ratio("q4a_best_buyers_raw", "q4a_navigator")
    q4b = ratio("q4b_top_country_raw", "q4b_navigator")
    q5b = ratio("q5b_nested_windows", "q5b_from_mv")
    return {
        "Q4a raw > navigator": (q4a > 1.0, f"raw/navigator = {q4a:.2f}x"),
        "Q4b raw >> navigator": (q4b >= 2.0, f"raw/navigator = {q4b:.2f}x, needs >= 2x"),
        "Q5b from MV << nested": (q5b >= 2.0, f"nested/from-MV = {q5b:.2f}x, needs >= 2x"),
    }


def _per_setup(spans: list[dict], name: str, builds: list[dict]) -> list[list[dict]]:
    """Group ``name`` spans by the build_all span whose window holds them."""
    return [[s for s in spans if s["name"] == name and b["start"] <= s["start"] <= b["end"]]
            for b in builds]


def _critical_path(reg, dur: dict[str, float]) -> float:
    memo: dict[str, float] = {}

    def cp(n: str) -> float:
        if n not in memo:
            memo[n] = dur.get(n, 0.0) + max((cp(d) for d in reg.defs[n].deps), default=0.0)
        return memo[n]

    return max((cp(n) for n in reg.defs), default=0.0)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def layer_metrics(tracer: Tracer, env: Env, ops: list[Op], samples: list, untraced: list,
                  setup_work: list[dict], cpus: int, *, boot_s: float,
                  py_mb: float, jvm_mb: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric, from the spans and counters of a traced run.
    Metrics of layers a workload does not call are 0."""
    spans = tracer.spans
    out: dict[str, tuple[float, str]] = {}

    # mv.registry / etl / catalog during the set-ups (medians over set-ups)
    builds = [s for s in spans if s["name"] == "mv.registry.build_all"]
    per_build = _per_setup(spans, "mv.registry.build", builds)
    mv_names = list(with_count_stats(default_registry("unused")).defs)
    for name in mv_names:
        out[f"mv.registry.build_ms.{name}"] = (
            median([1000 * (s["end"] - s["start"]) for grp in per_build for s in grp if s["arg"] == name]), "ms")
    busy = [sum(s["end"] - s["start"] for s in grp) for grp in per_build]
    walls = [b["end"] - b["start"] for b in builds]
    out["mv.registry.build_busy_s"] = (median(busy), "s")
    out["mv.registry.build_concurrency"] = (median([b / w for b, w in zip(busy, walls)]), "ratio")
    out["mv.registry.critical_path_s"] = (median([
        _critical_path(env.reg, {s["arg"]: s["end"] - s["start"] for s in grp}) for grp in per_build
    ]) if env.reg is not None else 0.0, "s")
    out["etl.validate_ms"] = (median([1000 * sum(s["end"] - s["start"] for s in grp)
                                    for grp in _per_setup(spans, "etl.validate", builds)]), "ms")
    out["mv.registry.analyze_ms"] = (analyze_ms(env), "ms")
    wh = dir_bytes(env.reg.warehouse) if env.reg is not None else 0
    out["mv.registry.warehouse_bytes"] = (float(wh), "bytes")
    out["mv.registry.space_amp"] = (wh / env.input_bytes, "ratio")
    build_work = setup_work if env.reg is not None else []
    out["mv.registry.build_jobs"] = (median([w["jobs"] for w in build_work]), "count")
    out["mv.registry.build_core_util"] = (median([
        w["run_ms"] / (1000 * (b["end"] - b["start"]) * cpus) for w, b in zip(build_work, builds)
    ]), "ratio")
    out["catalog.table_ms"] = (tracer.total_ms("catalog.table") / len(setup_work), "ms")

    # the timed, traced loop
    op_spans = [s for s in spans if s["name"] == "op"]
    loop = [s for s in spans if op_spans and s["start"] >= op_spans[0]["start"]]

    def per_call(name: str) -> float:
        return mean(1000 * (s["end"] - s["start"]) for s in loop if s["name"] == name)

    out["mv.sql_rewrite.rewrite_ms"] = (per_call("mv.sql_rewrite.spark_sql"), "ms")
    # env.explain holds one flag per SQL text issued in the timed passes
    out["mv.sql_rewrite.hit_share"] = (mean(env.explain), "ratio")
    chooses = [s for s in loop if s["name"] in ("mv.navigator.choose", "mv.navigator.choose_multi")]
    out["mv.navigator.choose_ms"] = (mean(1000 * (s["end"] - s["start"]) for s in chooses), "ms")
    out["mv.navigator.answer_ms"] = (per_call("mv.navigator.answer"), "ms")
    out["queries.construct_ms"] = (per_call("queries.construct"), "ms")
    out["spark.plan_ms"] = (per_call("spark.plan"), "ms")
    out["spark.execute_ms"] = (per_call("spark.execute"), "ms")
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = (mean(s[k] for s in op_spans), "count")
    run_ms = sum(s["run_ms"] for s in op_spans)
    op_wall_ms = 1000 * sum(s["end"] - s["start"] for s in op_spans)
    out["spark.core_util"] = (run_ms / (op_wall_ms * cpus), "ratio")
    out["spark.executor_cpu_s"] = (mean(s["cpu_ns"] / 1e9 for s in op_spans), "s")
    out["spark.gc_s"] = (mean(s["gc_ms"] / 1e3 for s in op_spans), "s")
    for k in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes"):
        out[f"spark.{k}"] = (mean(s[k] for s in op_spans), "bytes")
    out["spark.spill_bytes"] = (mean(s["mem_spill_bytes"] + s["disk_spill_bytes"] for s in op_spans), "bytes")

    # per-class and per-entry latency
    medians = {o.kind: median([1000 * x.secs for x in samples if x.op is o]) for o in ops}
    for klass, name in (("raw", "queries.raw_report_geomean_ms"), ("mv", "mv.report_geomean_ms")):
        vals = [medians[o.kind] for o in ops if o.klass == klass and medians[o.kind]]
        out[name] = (geomean(vals), "ms")
    for entry in CURATION_ENTRIES:
        mine = [s for s in op_spans if s["kind"] == entry]
        out[f"operators.{entry}_s"] = (medians.get(entry, 0.0) / 1000, "s")
        out[f"operators.{entry}.jobs"] = (mean(s["jobs"] for s in mine), "count")
        out[f"operators.{entry}.stages"] = (mean(s["stages"] for s in mine), "count")
        wall_ms = 1000 * sum(s["end"] - s["start"] for s in mine)
        out[f"operators.{entry}.core_util"] = (
            sum(s["run_ms"] for s in mine) / (wall_ms * cpus) if wall_ms else 0.0, "ratio")

    out["process.boot_s"] = (boot_s, "s")
    out["process.jvm_rss_mb"] = (jvm_mb, "MB")
    out["process.py_rss_mb"] = (py_mb, "MB")
    plain = {o.kind: median([1000 * x.secs for x in untraced if x.op is o]) for o in ops}
    kinds = [k for k in medians if medians[k] and plain.get(k)]
    out["trace.overhead_share"] = (
        geomean([medians[k] for k in kinds]) / geomean([plain[k] for k in kinds]) - 1.0, "ratio")
    return out

