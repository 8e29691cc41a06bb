"""SQL-text MV rewrite: spark.sql() queries answered from materialized views.

The navigator (mv/navigator.py) mechanizes the reference's four rewrite
checks for queries stated as AggQuery intents; this module extends the same
rewrite to SQL TEXT.  ``spark_sql`` parses and analyzes the text through
Catalyst, pattern-matches the ANALYZED logical plan --

    GlobalLimit?/LocalLimit?
      +- Sort?                       -- ORDER BY over output attrs
          +- Project?                -- analyzer-inserted (hidden having/sort aggs)
              +- Filter?             -- HAVING over aggregate outputs
                  +- Aggregate [group attrs] [measures]
                      +- (Filter condition)?                  -- WHERE
                          +- SubqueryAlias <star view>
                             | Project? over Join Inner(timeid=timeid)
                                 over SubqueryAlias{sales, time}
                                              -- the reference's own
                                              -- NATURAL JOIN formulation

-- extracts the grouping / filter attribute sets and every measure, and asks
the navigator for the cheapest MV sufficient for ALL of them (SUM needs an
additive sum column -- by NAME for plain attributes, by CANONICAL ANALYZED
RENDER for expression measures like SUM(quantity*price) declared in
MVDef.measure_exprs; COUNT(*) needs a count column; AVG needs both, derived
as SUM(sum)/SUM(cnt) with Spark's own Average decimal typing replicated so
the result is bit-identical to direct execution; COUNT(DISTINCT attr) needs
attr in the view's GRAIN -- distinct grain sets survive the aggregation;
MAX/MIN re-aggregate extrema columns).  On a match the returned
DataFrame reads the MV parquet (plus FD bridge joins), re-applies the WHERE
predicate at MV grain, re-aggregates, then re-applies HAVING / ORDER BY /
LIMIT from the rendered Catalyst expressions; otherwise the original
``spark.sql`` DataFrame is returned untouched.  Either way the result is
column-for-column identical to executing the text directly.

Divergence note (SURVEY.md section 4 option b): the by-the-book Spark
mechanism is a compiled optimizer rule, so the OPTIMIZER performs the
substitution.  This repo ships one too -- ``catalyst/`` compiles
``MvSubstituteRule.java`` at first use and installs it on the live
session through ``spark.experimental.extraOptimizations``.  This module
is the query-text layer beside it: the match runs on the same Catalyst
analyzed plan, applied by a wrapper before execution -- the plan test
pins the observable property (the rewritten query scans the MV parquet,
not the fact).  :class:`RewritingSession`
closes the remaining transparency gap from pure Python: a SparkSession
proxy whose every ``.sql()`` call routes through the rewriter, so user
code that only knows the SparkSession interface gets MV navigation
without calling this module.

The star view is the unified attribute namespace the reference queries
against (customer x nation x region x time denormalized onto the sales
fact); ``register_star_view`` publishes it as a temp view so users write
plain SQL over one wide relation and the navigator picks the narrowest
materialization that can answer it.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from .navigator import AggregateNavigator
from .registry import MVRegistry

STAR_VIEW = "sales_star"
LINES_VIEW = "sales_lines"


def _star_dims(t) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The dimension frames both star views join onto their fact rows:
    (time: timeid + its date attributes, customer: customerid -> name,
    geography: customerid -> district, country)."""
    from ..queries.q4_views import _geo

    tdim = t.time_dim().select("timeid", "orderdate", "dayofweek", "month", "year")
    cust = t.customer.select(
        F.col("c_custkey").alias("customerid"), F.col("c_name").alias("name")
    )
    return tdim, cust, _geo(t)


def register_star_view(
    spark: SparkSession, sf_dir: str, name: str = STAR_VIEW
) -> DataFrame:
    """Publish the fully-denormalized sales star as a temp view: the base
    relation SQL-text queries aggregate against.  Executing it directly
    joins the fact to every dimension -- exactly what an MV rewrite should
    avoid."""
    t = catalog.load(spark, sf_dir)
    tdim, cust, geo = _star_dims(t)
    star = (
        t.sales()
        .join(cust, "customerid")
        .join(geo, "customerid")
        .join(F.broadcast(tdim), "timeid")
        .select(
            "customerid", "name", "district", "country",
            "timeid", "orderdate", "dayofweek", "month", "year",
            "partkey", "amnt",
        )
    )
    star.createOrReplaceTempView(name)
    return star


def register_lines_view(
    spark: SparkSession, sf_dir: str, name: str = LINES_VIEW
) -> DataFrame:
    """Publish the LINE-grain star (one row per order line, measures as raw
    quantity/price columns) -- the relation behind EXPRESSION-valued
    aggregates like SUM(quantity * price), the reference's own fact measure
    (assignment-5.sql:75).  A text aggregating this view re-aggregates from
    the sales MV stack when the measure expression canonically matches a
    declared MV measure expr (MVDef.measure_exprs); executing it directly
    joins every line to the dimensions -- exactly what the rewrite avoids."""
    from ..functions import dec

    t = catalog.load(spark, sf_dir)
    tdim, cust, geo = _star_dims(t)
    lines = (
        t.lineitem.select("l_orderkey", "l_partkey", dec("l_quantity").alias("quantity"))
        .join(
            t.orders.select(
                "o_orderkey",
                F.col("o_custkey").alias("customerid"),
                F.col("o_orderdate").cast("date").alias("orderdate"),
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t.part.select("p_partkey", dec("p_retailprice").alias("price")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(tdim), "orderdate")
        .join(cust, "customerid")
        .join(geo, "customerid")
        .select(
            "customerid", "name", "district", "country",
            "timeid", "orderdate", "dayofweek", "month", "year",
            F.col("l_partkey").alias("partkey"), "quantity", "price",
        )
    )
    lines.createOrReplaceTempView(name)
    return lines


# ---------------------------------------------------------------------------
# analyzed-plan pattern match (py4j traversal of Catalyst LogicalPlan)

def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _children(node) -> list:
    s = node.children()
    return [s.apply(i) for i in range(s.size())]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _attr_names(expr) -> list[str]:
    return [a.name() for a in _seq(expr.references().toSeq())]


import re as _re

_DEC_RE = _re.compile(r"DECIMAL\((\d+),(\d+)\)", _re.I)


def _dtype_sql(expr) -> str:
    return expr.dataType().sql().lower()


_INTEGRALS = ("tinyint", "smallint", "int", "bigint")


def _exact_widening(from_sql: str, to_sql: str) -> bool:
    """True iff casting from_sql -> to_sql is lossless numeric widening
    (every representable value maps to the same number): integral to a
    not-narrower integral, or decimal(p,s) to decimal(P>=p, s)."""
    f, t = from_sql.strip().lower(), to_sql.strip().lower()
    if f in _INTEGRALS and t in _INTEGRALS:
        return _INTEGRALS.index(f) <= _INTEGRALS.index(t)
    mf, mt = _DEC_RE.match(from_sql.strip()), _DEC_RE.match(to_sql.strip())
    if mf and mt:
        return int(mt.group(2)) == int(mf.group(2)) and int(mt.group(1)) >= int(
            mf.group(1)
        )
    return False


def _equi_pairs(expr) -> list | None:
    """For a conjunction of EqualTo(attr, attr) with IDENTICAL names on both
    sides, the list of (lhs, rhs) AttributeReference pairs; None for
    anything else.  Callers must still verify the pair SPANS the join
    (one side per child): a tautological `sales.timeid = sales.timeid`
    passes the name test but is a filtered cross join, not the star
    attachment."""
    c = _cls(expr)
    if c == "And":
        left = _equi_pairs(expr.left())
        right = _equi_pairs(expr.right())
        return None if left is None or right is None else left + right
    if c == "EqualTo":
        lhs, rhs = expr.left(), expr.right()
        if (
            _cls(lhs) == "AttributeReference"
            and _cls(rhs) == "AttributeReference"
            and lhs.name() == rhs.name()
        ):
            return [(lhs, rhs)]
    return None


# the reference's own FROM shape: the sales fact joined to the time
# dimension on its unique surrogate key (assignment-5.sql's NATURAL JOIN
# formulations).  The attachment is 1:1 per fact row (timeid unique in
# time, FK-complete from sales), so the join output IS the star subset
# these views span -- the navigator's premises hold unchanged.
_JOIN_LEAVES = frozenset({"sales", "time"})
_JOIN_KEYS = frozenset({"timeid"})


def _match_reference_join(node) -> bool:
    if _cls(node) != "Join" or node.joinType().sql() != "INNER":
        return False
    cond = node.condition()
    if not cond.isDefined():
        return False
    pairs = _equi_pairs(cond.get())
    if pairs is None or {lhs.name() for lhs, _ in pairs} != set(_JOIN_KEYS):
        return False
    leaves, child_ids = [], []
    for ch in _children(node):
        if _cls(ch) != "SubqueryAlias":
            return False
        leaves.append(str(ch.alias()))
        child_ids.append({a.exprId().id() for a in _seq(ch.output())})
    if set(leaves) != set(_JOIN_LEAVES) or len(leaves) != 2:
        return False
    # every equality must SPAN the join -- one attribute from each child.
    # A same-side equality (sales.timeid = sales.timeid) is a filtered
    # cross join: rewriting it as the star attachment would silently
    # change semantics, so it must fall through to direct execution.
    for lhs, rhs in pairs:
        li, ri = lhs.exprId().id(), rhs.exprId().id()
        if not (
            (li in child_ids[0] and ri in child_ids[1])
            or (li in child_ids[1] and ri in child_ids[0])
        ):
            return False
    return True


def _strip_quals(sql_text: str, quals: frozenset[str]) -> str:
    """Drop `<leaf>.` qualifiers from rendered SQL so the predicate
    re-resolves against the single rewritten relation -- but never inside
    single-quoted literals (a WHERE comparing against the string
    'time.xyz' must survive intact).  The views' unified column names are
    unique across the join, so unqualified references are unambiguous."""
    parts = _re.split(r"('(?:[^']|'')*')", sql_text)
    pat = _re.compile(r"\b(" + "|".join(sorted(quals)) + r")\.")
    for i in range(0, len(parts), 2):
        parts[i] = pat.sub("", parts[i])
    return "".join(parts)


# out_specs entries: (out_name, kind, src_attr, out_dtype_sql, arg_dtype_sql)
# kind in {'group', 'sum', 'count', 'avg'}; src/arg dtype None where n/a.
def _match_aggregate(jplan, view_name: str):
    """Match Aggregate[attrs][SUM/COUNT(*)/AVG measures] <- Filter? <-
    SubqueryAlias view_name.  Returns (groups, out_specs, filter_attrs,
    filter_sql) or None.  out_specs carries one entry per output position so
    the rewrite reproduces the exact result schema, including aliased group
    columns (`name AS customer`) and analyzer-inserted hidden aggregates
    (`count(1)` backing a HAVING)."""
    if _cls(jplan) != "Aggregate":
        return None
    groups = []
    for g in _seq(jplan.groupingExpressions()):
        if _cls(g) != "AttributeReference":
            return None
        groups.append(g.name())
    out_specs: list[tuple[str, str, str | None, str | None, str | None]] = []
    n_measures = 0
    for e in _seq(jplan.aggregateExpressions()):
        kind = _cls(e)
        if kind == "AttributeReference":
            if e.name() not in groups:
                return None
            out_specs.append((e.name(), "group", e.name(), None, None))
            continue
        if kind != "Alias":
            return None
        child = e.child()
        if _cls(child) == "AttributeReference":
            if child.name() not in groups:
                return None
            out_specs.append((e.name(), "group", child.name(), None, None))
            continue
        if _cls(child) != "AggregateExpression":
            return None
        fn = child.aggregateFunction()
        fcls = _cls(fn)
        arg = fn.children().apply(0)
        if child.isDistinct():
            # COUNT(DISTINCT attr) is NOT additively re-aggregable in
            # general, but when attr is part of an MV's GRAIN the MV holds
            # every distinct (grain) combination exactly once, so the
            # per-group distinct set -- and its count -- is preserved
            # (navigator checks grain membership).  Everything else
            # distinct falls through to direct execution.
            if (
                fcls == "Count"
                and fn.children().size() == 1
                and _cls(arg) == "AttributeReference"
            ):
                out_specs.append(
                    (e.name(), "count_distinct", arg.name(), _dtype_sql(e), None)
                )
                n_measures += 1
                continue
            return None
        if _cls(arg) == "Cast" and fcls in ("Sum", "Average"):
            # Strip ONLY exactness-preserving numeric widening (the shape
            # the analyzer inserts): integral->wider-integral or
            # decimal(p,s)->decimal(P>=p,s).  A user-written cast that
            # changes the VALUE SEMANTICS (to double: per-add FP rounding;
            # to string under Max/Min: different ordering) must NOT match,
            # or the rewrite would diverge from direct execution.
            if _exact_widening(arg.child().dataType().sql(), arg.dataType().sql()):
                arg = arg.child()
        if fcls == "Sum" and _cls(arg) == "AttributeReference":
            out_specs.append((e.name(), "sum", arg.name(), _dtype_sql(e), None))
        elif fcls == "Sum":
            # EXPRESSION-valued sum (SUM(a*b), SUM(CASE WHEN...)): carry the
            # CANONICAL analyzed render of the argument; eligibility then
            # requires an MV whose declared measure expr canonicalizes to
            # the same string over the same view (MVDef.measure_exprs).
            # Sum of an exact expression re-aggregates additively from the
            # MV's per-grain partial sums; only deterministic scalar
            # expressions can appear under Sum in an analyzed plan, and a
            # non-matching render simply falls through to direct execution.
            out_specs.append((e.name(), "sum_expr", arg.sql(), _dtype_sql(e), None))
        elif fcls in ("Max", "Min") and _cls(arg) == "AttributeReference":
            # max-of-max / min-of-min re-aggregate losslessly
            out_specs.append(
                (e.name(), fcls.lower(), arg.name(), _dtype_sql(e), None)
            )
        elif fcls == "Count" and _cls(arg) == "Literal" and not arg.nullable():
            # COUNT(*) ~ count(1); a NULL literal (COUNT(NULL) = 0 per
            # group) must NOT match -- it is not the row count
            out_specs.append((e.name(), "count", None, _dtype_sql(e), None))
        elif fcls == "Average" and _cls(arg) == "AttributeReference":
            out_specs.append(
                (e.name(), "avg", arg.name(), _dtype_sql(e), _dtype_sql(arg))
            )
        else:
            return None
        n_measures += 1
    if n_measures == 0:
        return None
    if len({name for name, *_ in out_specs}) != len(out_specs):
        # duplicate output names (e.g. SELECT year, SUM(amnt) AS year ...):
        # the shaped re-select would be ambiguous and raise where direct
        # execution succeeds -- not navigable, execute as written
        return None
    node = _children(jplan)[0]
    filter_sql = None
    filter_attrs: list[str] = []
    if _cls(node) == "Filter":
        filter_sql = node.condition().sql()
        filter_attrs = _attr_names(node.condition())
        node = _children(node)[0]
    if _cls(node) == "SubqueryAlias" and node.alias() == view_name:
        return groups, out_specs, filter_attrs, filter_sql, "view"
    # the reference's join formulation (sales NATURAL JOIN time / explicit
    # equi-join on timeid): an all-attribute Project (the natural join's
    # column merge) may sit above the Join node
    if _cls(node) == "Project":
        if not all(
            _cls(e) == "AttributeReference" for e in _seq(node.projectList())
        ):
            return None
        node = _children(node)[0]
    if not _match_reference_join(node):
        return None
    if filter_sql is not None:
        # WHERE predicates render leaf-qualified (time.year >= ...); the
        # unified names are join-unambiguous, so strip the qualifiers for
        # re-resolution against the rewritten relation
        filter_sql = _strip_quals(filter_sql, _JOIN_LEAVES)
    return groups, out_specs, filter_attrs, filter_sql, "join"


def _match_star_query(jplan, view_name: str):
    """Unwrap [GlobalLimit/LocalLimit?] [Sort?] [Project?] [Sort?] [Filter?]
    above the Aggregate (the shapes the analyzer emits for LIMIT / ORDER BY /
    hidden-output projection / HAVING), then match the Aggregate itself.
    HAVING and ORDER BY expressions reference Aggregate OUTPUT attrs by name
    (possibly view-qualified or backticked like `count(1)`), so the rendered
    SQL re-resolves against the re-aggregated relation aliased as the view."""
    node = jplan
    limit = None
    if _cls(node) == "GlobalLimit":
        if _cls(node.limitExpr()) != "Literal":
            return None
        limit = int(node.limitExpr().sql())
        node = _children(node)[0]
        if _cls(node) != "LocalLimit":
            return None
        node = _children(node)[0]
    sort_orders = None

    def _orders(n):
        return [
            (o.child().sql(), o.direction().sql(), o.nullOrdering().sql())
            for o in _seq(n.order())
        ]

    sort_above_project = False
    if _cls(node) == "Sort":
        sort_orders = _orders(node)
        sort_above_project = True
        node = _children(node)[0]
    project = None
    if _cls(node) == "Project":
        project = []
        renames = False
        for e in _seq(node.projectList()):
            if _cls(e) == "AttributeReference":
                project.append((e.name(), e.sql()))
            elif _cls(e) == "Alias" and _cls(e.child()) == "AttributeReference":
                project.append((e.name(), e.child().sql()))
                renames = renames or e.name() != e.child().name()
            else:
                return None
        if sort_above_project and renames:
            # ORDER BY sat above a RENAMING projection: the rewrite applies
            # the sort before re-projecting, so a sort name that also exists
            # pre-projection bound to a DIFFERENT attribute (swap-renames
            # like SELECT name AS year, year AS name ... ORDER BY year)
            # would re-resolve silently to the wrong column -- the fallback
            # only catches resolution FAILURES, not wrong resolutions.
            # Only identity projections above Sort are navigable.
            return None
        node = _children(node)[0]
    if sort_orders is None and _cls(node) == "Sort":
        sort_orders = _orders(node)
        node = _children(node)[0]
    having_sql = None
    if _cls(node) == "Filter" and _cls(_children(node)[0]) == "Aggregate":
        having_sql = node.condition().sql()
        node = _children(node)[0]
    m = _match_aggregate(node, view_name)
    if m is None:
        return None
    groups, out_specs, filter_attrs, filter_sql, source = m
    return (groups, out_specs, filter_attrs, filter_sql, having_sql,
            sort_orders, project, limit, source)


_CANON_CACHE: dict[tuple[str, str, str], str | None] = {}


def _view_schema_key(spark: SparkSession, view_name: str) -> str | None:
    """The view's live-schema cache component; None when the view is
    absent (callers then skip canonicalization entirely)."""
    try:
        return spark.table(view_name).schema.simpleString()
    except Exception:
        return None


def _canonical_measure_sql(
    spark: SparkSession,
    expr_text: str,
    view_name: str,
    schema_key: str | None = None,
) -> str | None:
    """Canonical analyzed render of a declared measure expression over
    view_name -- the SAME pipeline that renders the query side, so two
    texts match iff Catalyst analyzes them to the same expression (name
    resolution, type coercion, literal casts all normalized).  None when
    the declared text does not analyze against the view (view absent or
    schema drift): the expr measure is then simply not offered.

    The cache key includes the view's LIVE schema: a view re-registered
    under the same name with different columns (or registered after a
    first failed probe) must not read a stale render -- without the
    schema in the key, the cache would cache the failure for the process
    lifetime.  An absent view returns None UNCACHED for the same reason.
    Callers looping over many declared exprs pass the schema_key they
    resolved ONCE (one catalog lookup per spark_sql call, not one per
    measure)."""
    if schema_key is None:
        schema_key = _view_schema_key(spark, view_name)
    if schema_key is None:
        return None
    key = (view_name, expr_text, schema_key)
    if key not in _CANON_CACHE:
        try:
            probe = spark.sql(f"SELECT SUM({expr_text}) AS __m FROM {view_name}")
            jplan = probe._jdf.queryExecution().analyzed()
            while _cls(jplan) != "Aggregate":
                jplan = _children(jplan)[0]
            alias = _seq(jplan.aggregateExpressions())[-1]
            arg = alias.child().aggregateFunction().children().apply(0)
            if _cls(arg) == "Cast" and _exact_widening(
                arg.child().dataType().sql(), arg.dataType().sql()
            ):
                arg = arg.child()
            _CANON_CACHE[key] = arg.sql()
        except Exception:
            _CANON_CACHE[key] = None
    return _CANON_CACHE[key]


def _dec_scale(dtype_sql: str) -> int | None:
    m = _DEC_RE.match(dtype_sql.strip())
    return int(m.group(2)) if m else None


# Spark 4's decimal Average is CORRECTLY ROUNDED: half-up of the exact
# quotient at the output scale (verified empirically, incl. negatives).  A
# plain Divide replication rounds at the divide's own adjusted scale first
# (double rounding) and diverges in the last digit.  Re-deriving
# AVG = SUM(sum)/SUM(cnt) therefore divides at scale s_out + 12 and casts:
# the cast's half-up equals the exact rounding UNLESS the exact quotient
# lies within 0.5*10^-(s_out+12) below a scale-(s_out+1) tie point -- and a
# rational S/C either hits the tie exactly (both paths round up; identical)
# or misses it by >= 1/(C * 10^(s_out+1)) > 0.5*10^-(s_out+12) whenever
# C < 2*10^11.  Bounds: group count < 2e11 rows and |sum| < 10^(38-s_cast)
# integer digits (cast overflow -> NULL otherwise); both hold for any
# realistic grouped aggregate, and far beyond the tested scales.
_AVG_EXTRA_SCALE = 12


def _avg_quotient_scale(out_scale: int) -> int:
    return min(out_scale + _AVG_EXTRA_SCALE, 32)


def spark_sql(
    spark: SparkSession,
    sf_dir: str,
    sql_text: str,
    registry: MVRegistry,
    navigator: AggregateNavigator,
    view_name: str = STAR_VIEW,
    explain: list[str] | None = None,
) -> DataFrame:
    """spark.sql() with MV navigation (see module docstring)."""
    df = spark.sql(sql_text)
    m = _match_star_query(df._jdf.queryExecution().analyzed(), view_name)
    if m is None:
        if explain is not None:
            explain.append("plan shape not navigable; executing as written")
        return df
    (groups, out_specs, filter_attrs, filter_sql, having_sql,
     sort_orders, project, limit, source) = m
    needs = frozenset(
        (kind, src) for _, kind, src, _, _ in out_specs if kind != "group"
    )
    # Row-domain guard: the LINE-grain star has FINER rows than the grain
    # any MV's count column counts (multiple order lines collapse into one
    # sales-grain row), so COUNT(*) / AVG over it must NEVER re-derive from
    # a sales-grain cnt -- the denominator would be the wrong row count.
    # SUM / MAX / MIN / COUNT(DISTINCT grain-attr) are grain-indifferent.
    if (
        source == "view"
        and view_name == LINES_VIEW
        and any(kind in ("count", "avg") for kind, _ in needs)
    ):
        if explain is not None:
            explain.append(
                "COUNT/AVG over the line-grain view cannot re-derive from "
                "sales-grain counts; executing as written"
            )
        return df
    # expression-measure availability: canonicalize every declared
    # MVDef.measure_exprs text through the SAME analyzer/view the query
    # went through, yielding {mv: {canonical_sql: mv_column}}
    expr_measures: dict[str, dict[str, str]] = {}
    if any(kind == "sum_expr" for kind, _ in needs):
        schema_key = _view_schema_key(spark, view_name)
        for mv_name, mvdef in registry.defs.items():
            canon_cols = {}
            for decl, col in getattr(mvdef, "measure_exprs", {}).items():
                canon = _canonical_measure_sql(
                    spark, decl, view_name, schema_key=schema_key
                )
                if canon is not None:
                    canon_cols[canon] = col
            if canon_cols:
                expr_measures[mv_name] = canon_cols
    cand = navigator.choose_multi(
        frozenset(groups), frozenset(filter_attrs), needs, expr_measures
    )
    if cand is None:
        if explain is not None:
            explain.append(
                f"no MV sufficient for groups={sorted(groups)} "
                f"measures={sorted(needs)}; executing as written"
            )
        return df
    # Freshness gate: answering from an MV whose base tables changed since
    # its build would be SILENTLY WRONG (the reference never hits this --
    # it rebuilds MVs in-script, assignment-5.sql:17-27 -- but a
    # RewritingSession user mutating a base table must not get stale
    # aggregates).  The check is an os.stat fingerprint comparison
    # (mv/registry.base_fingerprint): zero Spark jobs on the hot path,
    # pinned by test_sql_rewrite.test_freshness_check_runs_no_spark_job.
    if not registry.is_fresh(sf_dir, cand.mv_name):
        if explain is not None:
            explain.append(
                f"MV '{cand.mv_name}' is stale (base tables changed since "
                "its build); executing as written -- refresh() to re-enable"
            )
        return df
    mv = registry.defs[cand.mv_name]
    out = registry.read(spark, cand.mv_name)
    cnt_col = next((c for c, k in mv.measures.items() if k == "count"), None)
    if explain is not None:
        explain.append(
            f"rewriting onto MV '{cand.mv_name}' (rows={cand.rowcount}); "
            f"direct={sorted(cand.direct)} via_fd={sorted(cand.via_fd)}"
        )
    for attr in sorted(cand.via_fd):
        src = navigator._bridge_source(mv.grain, attr)
        if src is None:
            if explain is not None:
                explain.append(f"no FD bridge to {attr}; executing as written")
            return df
        # bridges from customerid are customer-derived (SF-scaling): no
        # static hint -- AQE broadcasts whichever side is small at runtime
        out = out.join(navigator.bridges[(src, attr)](spark, sf_dir), src)
        if explain is not None:
            explain.append(f"FD bridge join {src} -> {attr}")
    if filter_sql is not None:
        # the WHERE references only grain/bridged attrs (data sufficiency),
        # so it applies at MV grain BEFORE the re-aggregation; the rendered
        # predicate qualifies attrs with the view name, so alias the
        # rewritten relation to make those references resolve.  A predicate
        # that does not round-trip through render-SQL (e.g. an IN/EXISTS
        # subquery) falls back to direct execution instead of crashing.
        try:
            out = out.alias(view_name).filter(F.expr(filter_sql))
        except (AnalysisException, ParseException):
            if explain is not None:
                explain.append(
                    "WHERE predicate failed to re-resolve; executing as written"
                )
            return df

    # AVG headroom guard: the re-derivation divides at quotient scale
    # s_out+12 inside decimal(38, sq), leaving 38-sq integer digits, and its
    # no-double-rounding proof needs group count < 2e11.  Both bounds hold
    # for any realistic aggregate, but "realistic" is an assumption -- so
    # ENFORCE it: the MV's SUM(abs(m)) bounds every output group's |sum|
    # and its SUM(cnt) bounds the count (over the whole MV, so also over
    # any filtered subset; FD bridges are 1:1); if either could breach,
    # execute as written instead of risking a NULL/last-digit-divergent
    # average.  The registry observed both bounds when it committed the MV,
    # so the guard starts no job; an MV without them has no headroom
    # proven and executes as written too.
    avg_specs = [s for s in out_specs if s[1] == "avg"]
    if avg_specs and cnt_col is not None:
        dec_specs = [s for s in avg_specs if _dec_scale(s[3]) is not None]
        if dec_specs:
            bound = registry.bounds.get(cand.mv_name) or {}

            def fits(col: str, limit: int) -> bool:
                # a NULL bound over rows is an overflowed sum: too large
                if col not in bound:
                    return False
                if bound[col] is None:
                    return registry.rowcount(cand.mv_name) == 0
                return int(bound[col]) < limit

            ok = fits(cnt_col, 2 * 10**11) and all(
                fits(src, 10 ** (38 - _avg_quotient_scale(_dec_scale(out_dt))))
                for _, _, src, out_dt, _ in dec_specs
            )
            if not ok:
                if explain is not None:
                    explain.append(
                        "AVG re-derivation headroom not proven "
                        "(|sum| or count bound); executing as written"
                    )
                return df

    # re-aggregate: SUM(m) = SUM(mv.m); COUNT(*) = SUM(mv.cnt); AVG(m) =
    # SUM(mv.m)/SUM(mv.cnt) with Spark's own Average typing (sum widened to
    # precision+10, count as decimal(20,0), quotient cast to the output
    # dtype) so values AND schema are bit-identical to direct execution.
    agg_exprs = []
    for out_name, kind, src, out_dt, arg_dt in out_specs:
        if kind == "group":
            continue
        if kind == "sum":
            agg_exprs.append(F.sum(src).cast(out_dt).alias(out_name))
        elif kind == "sum_expr":
            # the MV column holding per-grain partial sums of this exact
            # (canonicalized) expression; additive, so SUM re-aggregates
            agg_exprs.append(
                F.sum(expr_measures[cand.mv_name][src]).cast(out_dt).alias(out_name)
            )
        elif kind in ("max", "min"):
            # the MV column for a max/min measure is named <measure>__<kind>
            fn = F.max if kind == "max" else F.min
            agg_exprs.append(
                fn(f"{src}__{kind}").cast(out_dt).alias(out_name)
            )
        elif kind == "count":
            # coalesce pins nullable=False, matching Count's schema
            agg_exprs.append(
                F.coalesce(F.sum(cnt_col), F.lit(0)).cast(out_dt).alias(out_name)
            )
        elif kind == "count_distinct":
            # src is a grain attr of the chosen MV: distinct sets preserved
            agg_exprs.append(
                F.count_distinct(F.col(src)).cast(out_dt).alias(out_name)
            )
        else:  # avg
            total = F.sum(src)
            s_out = _dec_scale(out_dt)
            if s_out is not None:
                sq = _avg_quotient_scale(s_out)
                quot = total.cast(f"decimal(38,{sq})") / F.sum(cnt_col).cast(
                    "decimal(20,0)"
                )
            else:
                quot = total.cast("double") / F.sum(cnt_col).cast("double")
            agg_exprs.append(quot.cast(out_dt).alias(out_name))
    agg = out.groupBy(*groups).agg(*agg_exprs)
    # shape to the Aggregate's exact output list (names + positions), then
    # re-alias as the view so HAVING / ORDER BY render-SQL (which may
    # qualify group attrs as `view.attr` or backtick hidden names like
    # `count(1)`) re-resolves against it.  The re-aggregation itself stays
    # OUTSIDE the try: a defect there should surface, not silently fall
    # back; only the rendered-SQL wrapper re-resolution below is allowed
    # to bail out.
    shaped = agg.select(
        *[
            F.col(out_name) if kind != "group" else F.col(src).alias(out_name)
            for out_name, kind, src, _, _ in out_specs
        ]
    ).alias(view_name)
    try:
        if having_sql is not None:
            shaped = shaped.filter(F.expr(having_sql))
        if sort_orders is not None:
            cols = []
            for expr_sql, direction, null_ord in sort_orders:
                c = F.expr(expr_sql)
                meth = ("asc" if direction == "ASC" else "desc") + (
                    "_nulls_first" if null_ord == "NULLS FIRST" else "_nulls_last"
                )
                cols.append(getattr(c, meth)())
            shaped = shaped.orderBy(*cols)
        if project is not None:
            shaped = shaped.select(
                *[F.expr(src_sql).alias(out_name) for out_name, src_sql in project]
            )
        if limit is not None:
            shaped = shaped.limit(limit)
        return shaped
    except (AnalysisException, ParseException):
        # a rendered HAVING/ORDER BY fragment that does not re-resolve against
        # the re-aggregated relation (e.g. a Sort above a renaming Project)
        # falls back to direct execution -- always correct, just unrewritten.
        if explain is not None:
            explain.append(
                "rewritten wrappers failed to re-resolve; executing as written"
            )
        return df


class RewritingSession:
    """Transparent MV rewriting for arbitrary ``.sql()`` calls -- the
    query-text counterpart of the compiled optimizer rule in ``catalyst/``
    (``MvSubstituteRule.java``, installed through
    ``spark.experimental.extraOptimizations``; see the module docstring's
    divergence note).

    Hand this object to code that expects a SparkSession: every
    ``.sql(text)`` call routes through :func:`spark_sql` (navigable star
    aggregates answered from the cheapest sufficient MV, everything else
    executed as written -- either way column-for-column identical to the
    direct result), and every other attribute delegates to the wrapped
    session untouched.  ``last_explain`` records the most recent call's
    rewrite decisions for EXPLAIN-style introspection.

    Parameterized ``.sql(text, args=...)`` calls bypass the rewriter (the
    matcher works on literal text) and execute directly.

    Known limits of the duck-typed proxy (vs a real subclass, which
    SparkSession's constructor contract makes fragile): ``isinstance(sess,
    SparkSession)`` is False, and type-level dunder protocols (context
    manager, pickling) resolve on the class, not through ``__getattr__``
    -- code relying on those should use the wrapped ``.spark`` session
    directly."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        registry: MVRegistry,
        navigator: AggregateNavigator,
        view_name: str = STAR_VIEW,
    ) -> None:
        self._spark = spark
        self._sf_dir = sf_dir
        self._registry = registry
        self._navigator = navigator
        self._view_name = view_name
        self.last_explain: list[str] = []

    @property
    def spark(self) -> SparkSession:
        """The wrapped real session (for isinstance checks / protocols)."""
        return self._spark

    def sql(self, sqlQuery: str, *args, **kwargs) -> DataFrame:
        # ANY parameterization -- positional or keyword, even explicit
        # None -- executes directly: the matcher works on literal text
        if args or kwargs:
            return self._spark.sql(sqlQuery, *args, **kwargs)
        self.last_explain = []
        return spark_sql(
            self._spark,
            self._sf_dir,
            sqlQuery,
            self._registry,
            self._navigator,
            view_name=self._view_name,
            explain=self.last_explain,
        )

    def __getattr__(self, name: str):
        return getattr(self._spark, name)
