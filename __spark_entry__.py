"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``postgresql_datawarehouse_excercise_spark``; this module
just adapts the query registry to the driver's shape.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from postgresql_datawarehouse_excercise_spark.queries import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# A couple of cheap, known-green entries stay at the very front of queries()
# as stability sentinels (a regression there flags an engine-wide problem
# immediately, before any budget is spent on the long tail).
_SENTINELS = ("q1_time_dim", "q2_avg_transaction")

# Family priority for never-verified entries (the driver's correctness budget
# runs the dict in order; the LLM-pipeline families are graded first-class, so
# they go before the SQL-surface and TPC-H-shape extensions).
_FAMILY_ORDER = (
    "x_media_", "x_text_", "x_sim_", "x_pipeline_", "x_events_",
    "x_asof", "x_range", "x_dedup_", "x_sql_", "x_tpch_",
    "q1_", "q2_", "q3", "q4", "q5",
)


def _family_rank(name: str) -> int:
    for i, prefix in enumerate(_FAMILY_ORDER):
        if name.startswith(prefix):
            return i
    return len(_FAMILY_ORDER)


def _green(row) -> bool:
    """A correctness row that ran and matched its oracle on rows, schema
    and value hash."""
    return bool(
        isinstance(row, dict)
        and not row.get("err")
        and row.get("rows_match")
        and row.get("schema_match", True)
        and row.get("hash_match", True)
    )


def _correctness_rounds() -> list[dict]:
    """The committed CORRECTNESS_r*.json files in round order; an unreadable
    file counts as a round with no rows."""
    rounds: list[dict] = []
    for path in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rounds.append(json.load(fh))
        except (OSError, ValueError):
            rounds.append({})
    return rounds


def _verified_history() -> dict[str, tuple[int, int]]:
    """Per entry: (last green round index, count of green rounds) from the
    committed CORRECTNESS_r*.json files.

    The driver checks a bounded prefix of ``queries()`` per round; sorting by
    ascending LAST-GREEN round (staleness) rotates that window so the entries
    whose most recent hard correctness row is oldest get re-gated first --
    sorting by count alone starves entries that went green early and then
    never rotated back while the code under them kept evolving (round-8
    VERDICT item #1: 22 reference-family entries had no green row since r1).
    """
    history: dict[str, tuple[int, int]] = {}
    for round_idx, data in enumerate(_correctness_rounds(), start=1):
        for name, row in data.items():
            if _green(row):
                _, count = history.get(name, (0, 0))
                history[name] = (round_idx, count + 1)
    return history


def _erred_last_round() -> set[str]:
    """Entries whose row in the LATEST committed correctness round erred or
    mismatched.  These carry a known-red signal, so after a fix they need a
    green row more urgently than anything merely unrotated -- front them."""
    rounds = _correctness_rounds()
    if not rounds:
        return set()
    return {
        name
        for name, row in rounds[-1].items()
        if isinstance(row, dict) and not _green(row)
    }


def _ordered_names() -> list[str]:
    registry = load_all()
    history = _verified_history()
    erred = _erred_last_round()

    def key(name: str):
        sentinel = 0 if name in _SENTINELS else 1
        last_green, count = history.get(name, (0, 0))
        return (
            sentinel,
            0 if name in erred else 1,
            last_green,   # stalest hard signal first (never-green = 0)
            count,
            _family_rank(name),
            name,
        )

    return sorted(registry, key=key)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (best buyers -- scan, joins, agg, top-k) on sf0.001."""
    registry = load_all()
    return registry["q3a_best_buyers"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2.

    Ordered sentinels, then last round's red entries, then stalest green
    first (see _ordered_names), so each round's bounded correctness check
    lands on the entries whose hard signal is oldest.
    """
    registry = load_all()
    return {name: registry[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query (same order)."""
    registry = load_all()
    return {
        name: registry[name].oracle
        for name in _ordered_names()
        if registry[name].oracle
    }
