"""Local mirror of the driver's DuckDB-oracle correctness gate.

For a query name: run the Spark DataFrame and the DuckDB oracle SQL on the
same parquet tables, then compare row count, column names (sorted), and an
order-insensitive multiset of rows with values normalized (floats rounded,
dates/timestamps stringified).  Any mismatch here predicts a mismatch in the
driver's CORRECTNESS_r{N}.json, so tests fail loudly with a diff sample.
check_plan_guards holds the registry-wide plan pins, run on the same frame.
"""

from __future__ import annotations

import datetime as _dt
import math
import re
from collections import Counter
from decimal import Decimal

import duckdb

from postgresql_datawarehouse_excercise_spark import plans

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    # Dtype-STRICT normalization mirroring the driver's pandas-based value
    # hash: the driver stringifies/hashes the materialized frames, so an
    # int64 123 on one side and a float64 123.0 on the other MISMATCH there
    # (DuckDB SUM(BIGINT) returns HUGEINT which pandas renders as float64).
    # We therefore tag the numeric kind instead of relying on Python's
    # cross-type == (int == float is True and would hide the difference).
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        # Spark DecimalType reaches pandas as objects, DuckDB DECIMAL as
        # float64 -- a driver-side mismatch.  Tag it so tests flag any
        # query that leaks a raw decimal column.  normalize() so the tag
        # flags decimal LEAKAGE, not scale noise (DECIMAL(22,2) 1.50 vs
        # DECIMAL(38,2) 1.5 from different SUM widening are equal values).
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", round(v, 6))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        # The driver's comparator sorts the pandas frame by every column;
        # list-valued cells are unhashable there and crash the compare
        # (CORRECTNESS r2: x_media_features, x_sql_collect_agg).  Fail
        # loudly so no driver-checked query ships an array column.
        raise AssertionError(
            "array-valued output column: unsupported by the driver compare; "
            "serialize to string (array_join / printf) in query AND oracle"
        )
    return v


def rows_multiset(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> int:
    """Assert the Spark frame equals the oracle's rows (column names, row
    count, order-insensitive typed values); returns the number of rows
    compared, so a caller can tell a comparison of two empty results."""
    s_cols = list(spark_df.columns)
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    # duckdb's fetchall() converts HUGEINT to Python int, which would pass
    # the strict ('i', v) tags below -- but the DRIVER materializes via
    # pandas, where HUGEINT becomes float64 and mismatches Spark's int64.
    # Assert no HUGEINT output columns so the harness mirrors the driver's
    # pandas path (fix: CAST(... AS BIGINT) around SUM(BIGINT) in the oracle).
    hugeint_cols = [
        c for c, t in zip(rel.columns, rel.types) if str(t) == "HUGEINT"
    ]
    assert not hugeint_cols, (
        f"oracle emits HUGEINT column(s) {hugeint_cols}: pandas renders these "
        "float64 on the driver and the value hash mismatches Spark's int64; "
        "CAST(... AS BIGINT) in the oracle SQL"
    )
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row-count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    sm, dm = rows_multiset(s_cols, s_rows), rows_multiset(d_cols, d_rows)
    if sm != dm:
        only_s = list((sm - dm).items())[:5]
        only_d = list((dm - sm).items())[:5]
        raise AssertionError(
            f"value mismatch (cols sorted={sorted(s_cols)}):\n"
            f"  spark-only sample: {only_s}\n  duckdb-only sample: {only_d}"
        )
    return len(d_rows)


# Side-effectful families skipped by BOTH registry-wide plan guards (stream
# drains, mutations, source round-trips do real work at construction and are
# audited separately; the bloom entry eagerly builds + persists; q18_bucketed
# writes bucketed tables and is merge-hinted by design, pinned in
# test_q18_bucketed_layout).  One shared constant so the two audits can
# never drift apart.
SIDE_EFFECTFUL_PREFIXES = (
    "x_stream_", "x_mutation_", "x_source_", "x_mv_",
    "x_pipeline_incremental",
    "x_pipeline_decontaminate_bloom",
    "x_tpch_q18_bucketed",
    # returns a localCheckpoint(), so the registry guard would audit only a
    # checkpoint scan (vacuous); the REAL un-checkpointed shape is pinned in
    # test_runtime_bloom_filter_injects_in_conf_window
    "x_sql_runtime_bloom_join",
    # trains + writes the index parquet at construction; the serving plan is
    # pinned bit-identical to the audited x_sim_ann_ivfpq lane in
    # tests/test_ann_persist.py
    "x_sim_ann_index_persist",
    # writes the inverted index at construction; row-identical to the
    # audited x_text_bm25 lane (tests/test_bm25_cep.py)
    "x_text_bm25_index_persist",
    # round-12 persisted-index serving lanes: each writes its index
    # parquet at construction; serving plans are pinned against audited
    # in-plan twins (tests/test_ann_persist.py, tests/test_bm25_cep.py)
    "x_text_bm25_batch",
    "x_sim_ann_batch_serve",
    "x_sim_hybrid_rrf_persist",
    "x_text_bm25_index_refresh",
)

# Documented Arrow lanes allowed to carry Python nodes: the blocked-GEMM
# numpy kernels (operators/similarity.py -- MapInPandas over vector blocks),
# the one imperative row generator (Arrow-optimized UDTF), and the
# multimodal pandas-UDF decoders.
ARROW_LANES = {
    "x_sim_ann_ivf", "x_sim_ann_ivfpq", "x_sim_ann_ivfpq_recall",
    "x_sim_ann_index_insert",
    "x_sim_ann_index_delete",
    "x_sim_ann_pq", "x_sim_ann_pq_recall", "x_sim_ann_recall",
    "x_sim_cosine_neardup", "x_sim_semantic_dedup",
    "x_pipeline_decontaminate_semantic",
    "x_text_udtf_runs",
    "x_media_features", "x_media_frames", "x_media_metadata",
    "x_media_binary_dedup",
    # AFTER MATCH SKIP PAST LAST ROW: the greedy leftmost non-overlapping
    # chain is a per-user sequential fold -- one applyInPandas over
    # user_id groups (operators/cep.cep_match_skip_past)
    "x_events_cep_skip_past",
    # AFTER MATCH SKIP TO FIRST/LAST: the same per-user sequential fold
    # with the prefix-sum resume locator (operators/cep.cep_match_skip_to)
    "x_events_cep_skip_to_first",
    "x_events_cep_skip_to_last",
}


_ROW_UDF = re.compile(r"^\(\d+\) BatchEvalPython", re.MULTILINE)
_PYTHON_NODE = re.compile(
    r"^\(\d+\) (\w*EvalPython\w*|MapInPandas|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas)",
    re.MULTILINE,
)


def check_plan_guards(name: str, df) -> None:
    """Two registry-wide pins, checked on the frame test_oracle_parity
    already built (each entry is constructed ONCE -- several do eager
    training/checkpoint work at construction):

    1. NO lazy entry may pin an EXPLICIT broadcast hint onto a relation
       that SCALES WITH SF (an explicit hint overrides the size threshold
       and AQE never demotes it -- at 100x a filtered slice of such a table
       is tens of GB and the hint OOMs every executor).  That is not just
       orders/lineitem: customer, part, supplier, events, documents and
       embeddings all grow linearly; only nation/region are constant.
       Hints over an Aggregate / Deduplicate / Limit of a scaling relation
       are allowed: the broadcast payload is the reduced output.

    2. UDF discipline: row-at-a-time Python (BatchEvalPython, including
       the non-Arrow UDTF fallback) is banned EVERYWHERE -- whitelist
       included; any other Python boundary (ArrowEvalPython, MapInPandas,
       grouped/window/cogrouped pandas, PythonMapInArrow) may appear only
       in the documented ARROW_LANES."""
    if name.startswith(SIDE_EFFECTFUL_PREFIXES):
        return
    offenders = plans.fact_broadcast_hints(df)
    assert not offenders, f"{name}: static broadcast hint on fact-side {offenders}"
    plan = plans.formatted_plan(df)
    assert not _ROW_UDF.search(plan), f"{name}: row-at-a-time Python UDF"
    if name not in ARROW_LANES:
        m = _PYTHON_NODE.search(plan)
        assert not m, f"{name}: unexpected Python node {m.group(0) if m else ''}"
