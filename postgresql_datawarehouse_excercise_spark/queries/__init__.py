"""Query registry.

Every operator/query from SURVEY.md section 2 is registered here as a
``QueryDef``: a DataFrame-producing function ``(spark, sf_dir) -> DataFrame``
plus a DuckDB oracle SQL twin over the same parquet views.
``__spark_entry__.queries()/oracle_sql()`` read this registry.

Conventions (driver compare = row-count + schema + order-insensitive value
hash, columns sorted by name):
  * every computed column is aliased identically in Spark and SQL;
  * monetary values: DECIMAL-exact aggregation, ROUND(x,2)::DOUBLE output;
  * averages/percentages: exact numerator, double division, ROUND(x,4);
  * every top-k has a deterministic tie-break key appended to its ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; every entry registers one
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QueryDef(name, fn, oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import all query modules (side-effect: registry population)."""
    from . import (  # noqa: F401
        q1_etl,
        q2_aggregates,
        q3_reports,
        q4_views,
        q5_windows,
        x_asof,
        x_dedup,
        x_events,
        x_multimodal,
        x_mutations,
        x_mv,
        x_pipeline,
        x_similarity,
        x_sources,
        x_sql_surface,
        x_streaming,
        x_text,
        x_tpch,
        x_unigram,
    )

    return REGISTRY
