"""Aggregate navigator: answer an aggregate query from the cheapest
sufficient materialized view.

This is the one capability of the reference that OSS Catalyst lacks
(SURVEY.md section 4): the reference demonstrates it manually -- a human
picks View1/View2/View3 and justifies the rewrite with four named checks
(findings at /root/reference/assignment-5.md:626-632, 820-825).  The
navigator mechanizes exactly those checks:

  1. Grouping Compatibility  -- query GROUP BY attrs derivable from the
     view's grain (md:630);
  2. Data Sufficiency        -- filter/select attrs present or reachable,
     possibly only via a functional dependency (md:824);
  3. Aggregate Computability -- the measure is additively re-aggregable
     from the view's measure (SUM of SUM; COUNT via SUM of COUNT) (md:631);
  4. Join Compatibility      -- an FD hop that crosses tables (e.g.
     district -> country) is implemented by joining a dimension-hierarchy
     bridge, mirroring sql:465-469 (md:825).

Functional dependencies declared below mirror the reference's
City -> District -> Country hierarchy (Assignment5_17.pdf p.1) mapped onto
the driver geography customerid -> district(nation) -> country(region), plus
the time hierarchy timeid -> {dayofweek, month, year, orderdate}.

Cost model: pick the eligible view with the smallest built row count (the
reference's loops metric is monotone in exactly this).  A query that no MV
can answer falls back to the base-table builder the caller supplies.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import MVRegistry

# attr -> attrs it functionally determines (one hop).
FDS: dict[str, frozenset[str]] = {
    "customerid": frozenset({"name", "district", "country"}),
    "district": frozenset({"country"}),
    "timeid": frozenset({"orderdate", "dayofweek", "month", "year"}),
    "orderdate": frozenset({"timeid", "dayofweek", "month", "year"}),
    "partkey": frozenset(),
}


def fd_closure(attrs: frozenset[str]) -> frozenset[str]:
    out = set(attrs)
    changed = True
    while changed:
        changed = False
        for a in list(out):
            for b in FDS.get(a, ()):
                if b not in out:
                    out.add(b)
                    changed = True
    return frozenset(out)


@dataclass(frozen=True)
class AggQuery:
    """Logical descriptor of 'SELECT group_cols, SUM(measure) ... WHERE
    filter_attrs ... GROUP BY group_cols'."""

    group_cols: frozenset[str]
    measure: str  # measure column name of a 'sum'-kind MV measure, e.g. 'amnt'
    filter_attrs: frozenset[str] = frozenset()


@dataclass
class Candidate:
    mv_name: str
    rowcount: int
    # attrs the MV grain provides directly vs via an FD bridge join
    direct: frozenset[str]
    via_fd: frozenset[str]


class AggregateNavigator:
    def __init__(self, registry: MVRegistry):
        self.registry = registry
        # bridge_provider(attr) -> (spark, sf_dir) -> DataFrame mapping some
        # grain attr to the FD-derived attr (dimension-hierarchy bridge).
        self.bridges: dict[tuple[str, str], Callable[[SparkSession, str], DataFrame]] = {}

    def register_bridge(
        self, from_attr: str, to_attr: str, fn: Callable[[SparkSession, str], DataFrame]
    ) -> None:
        self.bridges[(from_attr, to_attr)] = fn

    def eligible(self, q: AggQuery) -> list[Candidate]:
        """All MVs passing the four checks for SUM(q.measure), cheapest
        first."""
        return self.eligible_multi(
            q.group_cols, q.filter_attrs, frozenset({("sum", q.measure)})
        )

    def choose(self, q: AggQuery) -> Candidate | None:
        cands = self.eligible(q)
        return cands[0] if cands else None

    def eligible_multi(
        self,
        group_cols: frozenset[str],
        filter_attrs: frozenset[str],
        needs: frozenset[tuple[str, str | None]],
        expr_measures: dict[str, dict[str, str]] | None = None,
    ) -> list[Candidate]:
        """Multi-measure eligibility: every need must be computable from the
        SAME view.  ``needs`` holds ('sum', m) / ('count', None) / ('avg', m)
        / ('max', m) / ('min', m) pairs -- SUM re-aggregates an additive sum
        column, COUNT(*) re-sums a count column, AVG needs both
        (SUM(sum)/SUM(cnt)), MAX/MIN re-aggregate an extrema column
        (max-of-max / min-of-min are lossless).  Grouping compatibility
        and data sufficiency (with FD rescue) follow below.

        SEMANTIC CONTRACT on MVDef.measures (holds for every registered MV;
        a violating registration would silently produce wrong rewrites):
          * a measure of kind 'count' is COUNT(*) at the view's grain --
            never COUNT(col) of a nullable column;
          * a measure of kind 'sum' aggregates a NON-NULL base column, so
            AVG(m) = SUM(m)/COUNT(*) = SUM(sum)/SUM(cnt) is exact (with
            nulls in m, AVG divides by COUNT(m) != COUNT(*) and the
            re-derivation would be wrong)."""
        out: list[Candidate] = []
        for name, mv in self.registry.defs.items():
            has_cnt = "count" in mv.measures.values()

            def _ok(kind: str, m: str | None) -> bool:
                if kind == "sum":
                    return mv.measures.get(m) == "sum"
                if kind == "count":
                    return has_cnt
                if kind == "avg":
                    return mv.measures.get(m) == "sum" and has_cnt
                if kind in ("max", "min"):
                    # max/min measures are stored under <measure>__<kind>
                    # (one measure can carry several kinds; the column name
                    # disambiguates) and re-aggregate losslessly
                    return mv.measures.get(f"{m}__{kind}") == kind
                if kind == "sum_expr":
                    # m is the CANONICAL analyzed render of the measure
                    # expression; expr_measures maps mv -> {canon: column}
                    # (built by the SQL rewriter from MVDef.measure_exprs
                    # through the same analyzer the query went through)
                    return m in (expr_measures or {}).get(name, {})
                if kind == "count_distinct":
                    # exact only when the attr is part of the view's GRAIN:
                    # the MV then holds every distinct (grain) combination
                    # once, so per-group distinct sets are preserved
                    return m in mv.grain
                return False

            if not all(_ok(kind, m) for kind, m in needs):
                continue
            grain = mv.grain
            reach = fd_closure(grain)
            need = group_cols | filter_attrs
            if not need <= reach:
                continue
            out.append(
                Candidate(name, self.registry.rowcount(name), need & grain, need - grain)
            )
        out.sort(key=lambda c: (c.rowcount, c.mv_name))
        return out

    def choose_multi(
        self,
        group_cols: frozenset[str],
        filter_attrs: frozenset[str],
        needs: frozenset[tuple[str, str | None]],
        expr_measures: dict[str, dict[str, str]] | None = None,
    ) -> Candidate | None:
        cands = self.eligible_multi(group_cols, filter_attrs, needs, expr_measures)
        return cands[0] if cands else None

    def answer(
        self,
        spark: SparkSession,
        sf_dir: str,
        q: AggQuery,
        fallback: Callable[[SparkSession, str], DataFrame] | None = None,
        explain: list[str] | None = None,
    ) -> DataFrame:
        """Rewrite q onto the cheapest sufficient MV, else run fallback."""
        cand = self.choose(q)
        if cand is None:
            if fallback is None:
                raise ValueError(f"no MV answers {q} and no fallback given")
            if explain is not None:
                explain.append("no sufficient MV; using base tables")
            return fallback(spark, sf_dir)
        mv = self.registry.defs[cand.mv_name]
        df = self.registry.read(spark, cand.mv_name)
        if explain is not None:
            explain.append(
                f"answering from MV '{cand.mv_name}' (rows={cand.rowcount}); "
                f"direct={sorted(cand.direct)} via_fd={sorted(cand.via_fd)}"
            )
        # Join-compatibility: attach FD-derived attrs via registered bridges.
        for attr in sorted(cand.via_fd):
            src = self._bridge_source(mv.grain, attr)
            if src is None:
                raise ValueError(f"no bridge from grain {sorted(mv.grain)} to {attr}")
            # customerid-sourced bridges scale with SF: no static hint --
            # AQE broadcasts whichever side is small at runtime
            bridge = self.bridges[(src, attr)](spark, sf_dir)
            df = df.join(bridge, src)
            if explain is not None:
                explain.append(f"FD bridge join {src} -> {attr}")
        agg_col = F.sum(q.measure).alias(q.measure)
        return df.groupBy(*sorted(q.group_cols)).agg(agg_col)

    def _bridge_source(self, grain: frozenset[str], attr: str) -> str | None:
        for g in sorted(grain):
            if attr in fd_closure(frozenset({g})) and (g, attr) in self.bridges:
                return g
        return None
