"""Complex-event-processing pattern compiler (the MATCH_RECOGNIZE /
FlinkCEP shape, batch edition).

``x_events_cep_pattern`` (round 11) hand-compiled ONE pattern --
``view (click)+ purchase`` -- into the gaps-and-islands + bracketing-join
construction.  This module factors that construction into a compiler over a
small pattern language, so new patterns are data, not new query code:

    Pattern = sequence of stages, each (event_type, quantifier) or
    (event_type, quantifier, predicate)
    quantifier in {"1", "?", "+", "*"}    (exactly-one / optional /
                                           one-or-more / zero-or-more)
    or "{n,m}" / "{n,}" (round 15): SQL:2016 BOUNDED repetition, n >= 1.
    Semantics follow the engine's greedy-maximal discipline: the stage's
    maximal run must have length in [n, m] and is consumed WHOLE -- for
    non-final stages this is forced, not chosen (adjacent stages are
    provably disjoint, so partial consumption strands an in-set event
    where a disjoint stage must match); only a FINAL stage with finite m
    consumes greedily-capped min(run, m) rows (match iff run >= n), at
    the cost of one extra (user_id, seq)-keyed position join.  Measures
    on that one capped shape are rejected (the per-run aggregates cannot
    see a prefix); everywhere else they stay exact.
    NOTE this is a SEMANTIC RESTRICTION, not an equivalence claim
    (ADVICE r15): SQL:2016 backtracking would also attempt matches
    starting MID-RUN -- ``A{1,2} B`` on stream ``A A A B`` matches at
    the second A under the standard, while this engine rejects the
    maximal 3-run outright and reports no match (matches anchor only at
    maximal-run starts).  The DuckDB oracle and the 3-way model tests
    pin the engine's greedy-maximal reading, identically.
    event_type may be an ALTERNATION "a|b|c" (SQL:2016 row-pattern
    alternation, round 13): the stage matches events whose type is ANY
    of the alternatives -- a quantified alternation consumes a maximal
    run of events drawn from the whole set (types may interleave inside
    the run, exactly (a|b)+ regex semantics under contiguity).
    predicate (round 14) is SQL:2016's DEFINE clause restricted to a
    small decidable language: a conjunction OR a disjunction of
    comparisons ``col OP (PREV(col2) | NEXT(col2) | <symbol>.<col2> |
    numeric-literal)`` with an optional whole negation ``NOT (...)``;
    OP in {>, >=, <, <=, =, !=}.  OR (round 15) is a pure top-level
    disjunction (mixing AND with OR is rejected); it is admitted by the
    adjacency validation exactly when its row set is provable as a
    UNION of literal intervals over one column -- disjointness of two
    interval sets is decidable, which is what the round-14 scope-out
    was missing.  OR over PREV/NEXT/symbol bounds stays out of scope
    (no interval representation), rejected with the same honesty.
    PREV(col) is the previous row of the USER'S FULL STREAM in
    (ts, event_id) order -- exactly the standard's PREV under strict
    contiguity, where the previous stream row IS the previous row of
    the match (or, for the match's first row, the row just before the
    match).  NEXT(col) (round 15) is its mirror -- the standard's
    one-row LOOKAHEAD, a lead on the same window: row-local over the
    fixed stream, so islands and the greedy-maximal argument are
    untouched; at the stream end NEXT is NULL and the IS-TRUE collapse
    makes the comparison false.  ``<symbol>.<col>`` (round 15) is a CROSS-SYMBOL reference
    -- the standard's ``B.value > A.value`` idiom: it reads the
    referenced stage's LAST consumed row (SQL:2016's running last-row
    semantics; for a quantifier-'1' stage that is simply its one row).
    Compilation is row-local: an ANCHOR column (last value of the
    referenced TYPE at or before the row, one more expression on the
    same user window -- no new shuffle), valid because _validate
    requires the referenced type to belong to exactly ONE stage,
    single-type, NON-EMPTY-ABLE ('1', '+' or '{n,m}'), before the
    referencing stage: under strict contiguity + single ownership no
    in-occurrence row between the run's end and the referencing row
    can carry the type, so the anchor every candidate row sees IS the
    run's last consumed row; empty-able targets ('?'/'*') are rejected
    -- an empty match would leave the anchor on a stale pre-occurrence
    row where the standard says NULL.  Three-valued logic collapses at
    the stage boundary: a predicate holds iff its raw value IS TRUE (so
    PREV at the stream head -> NULL -> false, and a symbol reference
    with no preceding anchor row -> false), and ``NOT (p)`` holds iff p
    does NOT hold -- the two forms PARTITION the stage's type set, which
    is what makes negated pairs provably disjoint for the adjacency
    validation below.

Semantics (the ones the round-11 entry pinned, now stated once):

* STRICTLY CONSECUTIVE in the user's seq-numbered stream (row_number over
  (ts, event_id) per user) -- no intervening events, the property that
  separates CEP from x_events_funnel's min-timestamp stages.
* Quantified stages ("+", "*") consume a MAXIMAL run of their type set
  (greedy-possessive).  Because adjacent stages are required to have
  DISJOINT type sets (enforced below), maximal-run consumption is
  exactly regex-greedy: the event after a run cannot extend it, so any
  shorter consumption would put an in-set event where a disjoint-set
  stage must match.
* "?"/"*" stages may match empty; the empty and non-empty arms are
  mutually exclusive at any given start position (the event right after
  the prefix either has the stage's type or not), so occurrences are
  emitted exactly once.
* The FIRST and LAST stages must be non-empty-able ("1" or "+") so every
  occurrence has well-defined first/last events for the time bound:
  t_last - t_first <= max_span_us (exact epoch MICROS in both engines).

Compilation (Spark): one user-partitioned sequence window, one islands
window per quantified type (seq - row_number over the type's subset), a
map-side-combined run aggregate, then a left-fold over stages where each
stage is one (user_id, seq)-keyed equi-join -- optional stages fork a
skip/consume union.  No global sorts, no cross joins; every join key
includes user_id, so at 100 TB the whole match runs inside the
sessionization partitioning.

``compile_sql`` emits the DuckDB twin by expanding the optional stages
into 2^k fixed arms (k = number of "?"/"*" stages; bounded small) and
chaining the same bracketing joins per arm -- the oracle replays the
construction, it does not share code with it.

Reference: the pattern language mirrors SQL:2016 MATCH_RECOGNIZE row
patterns (A (B|C)+ D?) restricted to strict contiguity (AFTER MATCH SKIP
TO NEXT ROW, ALL ROWS PER MATCH collapsed to one summary row per match).

MEASURES (rounds 14-16): per-symbol FINAL aggregates, SUBSET union
symbols, RUNNING aggregates in ALL ROWS mode, and EXPRESSION measures
(round 16) -- arithmetic over the declared measure aliases (the
standard's LAST(UP.price) - FIRST(DOWN.price)), validated to a
bit-stable integer fragment and computed as one output-time projection
in both lanes (_validate_measure_exprs).  Still out of scope, each with
an argued reason: OR over non-literal bounds (no interval representation
for the disjointness proof); empty-able cross-symbol targets (the
standard's NULL reference is invisible to the anchor column); measures
on a final capped {n,m} stage (per-run aggregates cannot see a greedy
prefix).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import materialize

# (event_type or "a|b" alternation, quantifier[, DEFINE predicate])
Stage = tuple

_QUANTS = ("1", "?", "+", "*")

# Bounded quantifiers (round 15): "{n,m}" / "{n,}" -- SQL:2016 row-pattern
# bounded repetition.  Semantics follow the engine's established
# greedy-maximal discipline: the stage's MAXIMAL run must have length in
# [n, m] and is consumed whole.  That full-run rule is not a choice for
# non-final stages, it is FORCED: adjacent stages are provably disjoint,
# so a partially-consumed run would leave an in-set event exactly where a
# disjoint-set stage must match -- no shorter consumption can ever
# complete.  Only a FINAL stage with a finite upper bound differs: there
# greedy consumption caps at m rows of a longer run (min(run, m), match
# iff run >= n), which costs one extra (user_id, seq)-keyed position join
# to read the capped end's timestamp.  Lower bound must be >= 1 ('?'/'*'
# cover the may-match-empty shapes, and the optional-arm machinery is
# theirs).
_RANGE_RE = re.compile(r"^\{(\d+),(\d*)\}$")


def _quant_range(q: str):
    """(lo, hi-or-None) for a bounded quantifier '{n,m}' / '{n,}', else
    None."""
    m = _RANGE_RE.match(q)
    if not m:
        return None
    return (int(m.group(1)), int(m.group(2)) if m.group(2) else None)


def _is_run_quant(q: str) -> bool:
    """Quantifiers compiled through the gaps-and-islands run machinery."""
    return q in ("+", "*") or _quant_range(q) is not None

# Event types are interpolated into the generated oracle SQL as both CTE
# identifiers and quoted literals; restrict them to identifier characters
# so a quote/space/metacharacter cannot produce invalid (or injectable)
# SQL with a confusing downstream failure (ADVICE r12).
_TYPE_RE = re.compile(r"^[A-Za-z0-9_]+$")


def _alts(etype: str) -> tuple[str, ...]:
    """A stage's alternative type set: 'a' -> ('a',), 'a|b' -> ('a','b'),
    sorted for canonical SQL relation naming."""
    return tuple(sorted(etype.split("|")))


# --- DEFINE predicates (round 14) ----------------------------------------
# One comparison: col OP (PREV(col) | numeric literal).  Column names are
# identifier-restricted for the same reason event types are: they are
# interpolated into the generated oracle SQL.

_CMP_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|!=|>|<|=)\s*"
    r"(?:(PREV|NEXT)\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)"
    r"|([A-Za-z0-9_]+)\.([A-Za-z_][A-Za-z0-9_]*)"
    r"|(-?\d+(?:\.\d+)?))\s*$"
)

# canonical AST: (negated: bool, cmps: sorted tuple of
#                 (col, op, ("prev", col2) | ("sym", type, col2) | ("lit", float)),
#                 conn: "and" | "or")
# conn (round 15) is the top-level connective: a pure conjunction or a
# pure DISJUNCTION of comparisons -- mixing AND with OR is rejected (no
# precedence ambiguity to litigate, and the disjointness prover reasons
# about one connective at a time).  A single comparison normalizes to
# "and" so exact-negation pairing stays syntactic for singletons.
Pred = tuple


def _parse_pred(text: str) -> Pred:
    """Parse a DEFINE predicate into its canonical AST.  Canonical form
    (sorted comparisons, explicit negation flag, normalized connective)
    makes exact-negation pairs -- the rising/non-rising idiom --
    syntactically comparable for the adjacency disjointness proof."""
    s = text.strip()
    negated = False
    m = re.match(r"^NOT\s*\((.*)\)\s*$", s, flags=re.IGNORECASE | re.DOTALL)
    if m:
        negated = True
        s = m.group(1)
    or_parts = re.split(r"\s+OR\s+", s, flags=re.IGNORECASE)
    if len(or_parts) > 1:
        if any(
            re.search(r"\s+AND\s+", p, flags=re.IGNORECASE)
            for p in or_parts
        ):
            raise ValueError(
                f"mixed AND/OR in DEFINE predicate {text!r}: a predicate "
                "is a pure conjunction or a pure disjunction"
            )
        conn, parts = "or", or_parts
    else:
        conn, parts = "and", re.split(r"\s+AND\s+", s, flags=re.IGNORECASE)
    cmps = []
    for part in parts:
        cm = _CMP_RE.match(part)
        if not cm:
            raise ValueError(
                f"bad DEFINE comparison {part!r} in {text!r}: expected "
                "`col OP PREV(col)`, `col OP NEXT(col)`, "
                "`col OP <symbol>.<col>` or "
                "`col OP <number>` with OP in >, >=, <, <=, =, !="
            )
        col, op, nav, nav_col, sym, sym_col, lit = cm.groups()
        if nav is not None:
            rhs = (nav.lower(), nav_col)
        elif sym is not None:
            rhs = ("sym", sym, sym_col)
        else:
            rhs = ("lit", float(lit))
        cmps.append((col, op, rhs))
    if len(cmps) == 1:
        conn = "and"  # singleton: connective is vacuous, normalize
    return (negated, tuple(sorted(cmps)), conn)


def _sym_alias(sym_type: str, col: str) -> str:
    """Anchor-column name for a cross-symbol reference.  Length-prefixed
    so distinct (type, col) pairs can never alias: with a bare
    ``_sym_<type>_<col>`` both parts may contain underscores, so
    ('a_b', 'c') and ('a', 'b_c') would collide (ADVICE r15) -- the
    digit prefix pins where the type ends (identifiers cannot start
    with a digit, so the parse is unambiguous)."""
    return f"_sym_{len(sym_type)}_{sym_type}_{col}"


def _pred_cols(pred: Pred | None) -> tuple[set, set, set, set]:
    """(direct attribute columns, PREV()-lagged attribute columns,
    NEXT()-led attribute columns, cross-symbol (type, col) references)
    a predicate reads -- what cep_match/compile_sql must surface on
    ev."""
    direct: set = set()
    prev: set = set()
    nxt: set = set()
    sym: set = set()
    if pred is not None:
        for col, _, rhs in pred[1]:
            direct.add(col)
            if rhs[0] == "prev":
                prev.add(rhs[1])
            elif rhs[0] == "next":
                nxt.add(rhs[1])
            elif rhs[0] == "sym":
                sym.add((rhs[1], rhs[2]))
    return direct, prev, nxt, sym


def _pred_spark(pred: Pred):
    """Compile a predicate to a Spark Column over ev's surface (attribute
    columns plus `_prev_<col>` lag columns).  IS-TRUE collapse: NULL
    comparisons (PREV at the stream head) evaluate to false, and negation
    applies AFTER the collapse so a pred and its NOT() partition rows."""
    negated, cmps, conn = pred
    raw = None
    for col, op, rhs in cmps:
        if rhs[0] == "prev":
            r = F.col(f"_prev_{rhs[1]}")
        elif rhs[0] == "next":
            r = F.col(f"_next_{rhs[1]}")
        elif rhs[0] == "sym":
            r = F.col(_sym_alias(rhs[1], rhs[2]))
        else:
            r = F.lit(rhs[1])
        lhs = F.col(col)
        c = {
            ">": lhs > r, ">=": lhs >= r, "<": lhs < r,
            "<=": lhs <= r, "=": lhs == r, "!=": lhs != r,
        }[op]
        if raw is None:
            raw = c
        else:
            raw = (raw | c) if conn == "or" else (raw & c)
    res = F.coalesce(raw, F.lit(False))
    return ~res if negated else res


def _pred_sql(pred: Pred, prefix: str = "") -> str:
    """The DuckDB twin of _pred_spark over the same ev surface; `prefix`
    qualifies columns when the predicate is applied through a joined
    alias (`s2.value`) rather than inside the runs subselect."""
    negated, cmps, conn = pred
    parts = []
    for col, op, rhs in cmps:
        if rhs[0] == "prev":
            r = f"{prefix}_prev_{rhs[1]}"
        elif rhs[0] == "next":
            r = f"{prefix}_next_{rhs[1]}"
        elif rhs[0] == "sym":
            r = f"{prefix}{_sym_alias(rhs[1], rhs[2])}"
        else:
            r = repr(rhs[1])
        parts.append(f"{prefix}{col} {'<>' if op == '!=' else op} {r}")
    glue = " OR " if conn == "or" else " AND "
    base = f"COALESCE(({glue.join(parts)}), FALSE)"
    return f"(NOT {base})" if negated else base


_INF = float("inf")


def _iv(op: str, x: float):
    """{v: v op x} as a (lo, lo_incl, hi, hi_incl) real interval; None
    for '!=' (not an interval)."""
    return {
        ">": (x, False, _INF, False),
        ">=": (x, True, _INF, False),
        "<": (-_INF, False, x, False),
        "<=": (-_INF, False, x, True),
        "=": (x, True, x, True),
    }.get(op)


def _iv_disjoint(i1, i2) -> bool:
    lo1, lo1i, hi1, hi1i = i1
    lo2, lo2i, hi2, hi2i = i2
    if hi1 < lo2 or hi2 < lo1:
        return True
    if hi1 == lo2 and not (hi1i and lo2i):
        return True
    if hi2 == lo1 and not (hi2i and lo1i):
        return True
    return False


def _iv_intersect(i1, i2):
    """Intersection of two intervals, None when empty."""
    lo1, lo1i, hi1, hi1i = i1
    lo2, lo2i, hi2, hi2i = i2
    if lo1 > lo2:
        lo, loi = lo1, lo1i
    elif lo2 > lo1:
        lo, loi = lo2, lo2i
    else:
        lo, loi = lo1, lo1i and lo2i
    if hi1 < hi2:
        hi, hii = hi1, hi1i
    elif hi2 < hi1:
        hi, hii = hi2, hi2i
    else:
        hi, hii = hi1, hi1i and hi2i
    if lo > hi or (lo == hi and not (loi and hii)):
        return None
    return (lo, loi, hi, hii)


def _intervals_disjoint(op1: str, a: float, op2: str, b: float) -> bool:
    """Whether {v: v op1 a} and {v: v op2 b} are disjoint over the reals
    (NULL rows are excluded from BOTH by the IS-TRUE collapse)."""
    i1, i2 = _iv(op1, a), _iv(op2, b)
    if i1 is None or i2 is None:  # "!=" is not an interval
        # the only provable pair involving "!=": its complement point
        return {op1, op2} == {"!=", "="} and a == b
    return _iv_disjoint(i1, i2)


def _pred_interval_set(pred: Pred):
    """(col, [intervals]) -- the predicate's row set as a finite set of
    real intervals over ONE column, when the predicate lies in the
    decidable fragment: un-negated, every comparison on the same column
    against a literal, ops in > >= < <= = (no '!=').  conn 'and' folds
    to the single intersection (empty list when unsatisfiable); conn
    'or' (round 15) is one interval per disjunct -- a UNION of
    intervals, which is what makes OR provable at all.  None when
    outside the fragment."""
    negated, cmps, conn = pred
    if negated:
        return None
    cols = {c for c, _, _ in cmps}
    if len(cols) != 1:
        return None
    ivs = []
    for _, op, rhs in cmps:
        if rhs[0] != "lit":
            return None
        iv = _iv(op, rhs[1])
        if iv is None:
            return None
        ivs.append(iv)
    if conn == "or":
        return (cols.pop(), ivs)
    cur = ivs[0]
    for iv in ivs[1:]:
        cur = _iv_intersect(cur, iv)
        if cur is None:
            return (cols.pop(), [])
    return (cols.pop(), [cur])


def _preds_provably_disjoint(p1: Pred | None, p2: Pred | None) -> bool:
    """Can we PROVE two stage predicates never hold on the same row?
    Decidable fragment: (a) one is the exact negation of the other
    (IS-TRUE collapse makes them partition every row set); (b) both
    denote INTERVAL SETS over one shared column -- un-negated all-literal
    comparisons, where AND intersects to one interval and OR (round 15)
    unions one interval per disjunct -- and every cross pair of
    intervals is disjoint (an unsatisfiable AND is the empty set,
    vacuously disjoint); (c) both are single un-negated comparisons of
    the same column against the SAME row-local bound (identical
    PREV()/NEXT()/symbol rhs) with disjoint operator regions -- for any
    one row both predicates compare one lhs value to one shared rhs
    value, so e.g. `v < PREV(v)` and `v > PREV(v)` can never hold
    together (this is what admits the standard's own V-shape ticker,
    STRT DOWN+ UP+); plus the '='/'!=' same-point complement.  NULL
    rows are excluded from every un-negated side by the IS-TRUE
    collapse.  Anything else -> not provable -> the adjacency
    validation rejects, keeping greedy-maximal == regex-greedy honest."""
    if p1 is None or p2 is None:
        return False
    n1, c1, k1 = p1
    n2, c2, k2 = p2
    if c1 == c2 and k1 == k2 and n1 != n2:
        return True
    s1, s2 = _pred_interval_set(p1), _pred_interval_set(p2)
    if s1 is not None and s2 is not None and s1[0] == s2[0]:
        if all(_iv_disjoint(a, b) for a in s1[1] for b in s2[1]):
            return True
    if not n1 and not n2 and len(c1) == 1 and len(c2) == 1:
        (a_col, a_op, a_rhs) = c1[0]
        (b_col, b_op, b_rhs) = c2[0]
        if a_col == b_col and a_rhs[0] == "lit" and b_rhs[0] == "lit":
            return _intervals_disjoint(a_op, a_rhs[1], b_op, b_rhs[1])
        if a_col == b_col and a_rhs == b_rhs and a_rhs[0] in (
            "prev",
            "next",
            "sym",
        ):
            return _intervals_disjoint(a_op, 0.0, b_op, 0.0)
    return False


# --- MEASURES (round 14) --------------------------------------------------
# SQL:2016 MEASURES restricted to per-symbol aggregates over the rows a
# stage consumed: (stage_idx, agg, col, alias) with agg in _MEAS_AGGS.
# Numeric columns quantize to integer CENTS (floor(x*100 + 0.5), the money
# discipline) BEFORE aggregation, so SUM never accumulates float error and
# every measure is bit-stable cross-engine; an empty optional stage yields
# NULL (the standard's aggregate-over-no-rows), never 0.

_MEAS_AGGS = ("sum", "min", "max", "first", "last")
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

Measure = tuple  # (stage_idx, agg, col, alias)


def _validate_measures(measures, n_stages: int) -> list[tuple]:
    out = []
    for m in measures or []:
        if len(m) != 4:
            raise ValueError(f"measure must be (stage, agg, col, alias): {m!r}")
        idx, agg, col, alias = m
        if not 0 <= idx < n_stages:
            raise ValueError(f"measure stage {idx} out of range")
        if agg not in _MEAS_AGGS:
            raise ValueError(f"measure agg {agg!r} not in {_MEAS_AGGS}")
        for ident in (col, alias):
            if not _IDENT_RE.match(ident):
                raise ValueError(
                    f"measure identifier {ident!r} must match "
                    "^[A-Za-z_][A-Za-z0-9_]*$ (it names SQL columns)"
                )
        out.append((idx, agg, col, alias))
    if len({a for _, _, _, a in out}) != len(out):
        raise ValueError("duplicate measure alias")
    return out


def _check_rng_measures(norm, meas) -> None:
    """A FINAL '{n,m}' stage with a finite upper bound consumes only a
    PREFIX of its maximal run (greedy cap: min(run, m) rows), so the
    per-run aggregates the islands machinery computes are not the
    consumed-rows aggregates there -- measures on such a stage are
    rejected rather than silently wrong.  Every other bounded position
    consumes its run whole (see _validate's adjacency discipline), so
    measures remain exact."""
    last = len(norm) - 1
    rng = _quant_range(norm[last][1])
    if rng is not None and rng[1] is not None:
        for mm in meas:
            if mm[0] == last:
                raise ValueError(
                    "measures on a final '{n,m}' stage with a finite "
                    "upper bound are out of scope: the stage consumes "
                    "min(run, m) rows, a prefix the per-run aggregates "
                    "cannot see"
                )


def _desugar_subsets(measures, subsets, n_stages):
    """SQL:2016 SUBSET union symbols for MEASURES (round 15): a measure
    whose stage reference is a subset NAME aggregates over the UNION of
    the rows its member stages consumed.  Desugared into hidden
    per-stage measures plus a zero-join combination at output time --
    sound because per-stage aggregates COMPOSE exactly over a disjoint
    union: sum = sum of the non-NULL stage sums (NULL iff every member
    matched empty, the standard's aggregate-over-no-rows), min/max =
    least/greatest skipping NULLs, and first/last = stage-order
    coalesce, which is stream order because stages consume contiguous
    stream spans in pattern order.  Returns (stage_measures, plan):
    stage_measures has int stage indices only (hidden aliases
    `_sub_<alias>_<i>`), plan is the output-ordered column recipe of
    ('stage', alias) / ('combo', alias, agg, hidden_aliases)."""
    subsets = subsets or {}
    for name, idxs in subsets.items():
        if not _IDENT_RE.match(name):
            raise ValueError(f"subset name {name!r} must be an identifier")
        if not idxs:
            raise ValueError(f"subset {name!r} is empty")
        if len(set(idxs)) != len(idxs):
            raise ValueError(f"subset {name!r} has duplicate stages")
        for i in idxs:
            if not isinstance(i, int) or not (0 <= i < n_stages):
                raise ValueError(
                    f"subset {name!r}: stage index {i!r} out of range"
                )
    stage_meas: list[tuple] = []
    plan: list[tuple] = []
    for mm in measures or []:
        if len(mm) != 4:
            raise ValueError(
                f"measure must be (stage, agg, col, alias): {mm!r}"
            )
        idx, agg, col, alias = mm
        if isinstance(idx, str):
            if idx not in subsets:
                raise ValueError(
                    f"measure {alias!r} references unknown subset {idx!r}"
                )
            idxs = sorted(subsets[idx])
            hidden = [f"_sub_{alias}_{i}" for i in idxs]
            stage_meas.extend(
                (i, agg, col, h) for i, h in zip(idxs, hidden)
            )
            plan.append(("combo", alias, agg, hidden))
        else:
            stage_meas.append(mm)
            plan.append(("stage", alias))
    out_aliases = [item[1] for item in plan]
    if len(set(out_aliases)) != len(out_aliases):
        raise ValueError("duplicate measure alias")
    return stage_meas, plan


# RUNNING measures (round 15): SQL:2016's RUNNING semantics only differ
# from FINAL in ALL ROWS PER MATCH output mode -- the aggregate over the
# match's rows UP TO AND INCLUDING the one being emitted.  Computed as a
# plain window over the all-rows output partitioned by (user, match) in
# stream order; same integer-cents quantization as MEASURES.

_RUN_AGGS = ("sum", "min", "max")

Running = tuple  # (agg, col, alias)


def _validate_running(running) -> list[tuple]:
    out = []
    for r in running or []:
        if len(r) != 3:
            raise ValueError(f"running measure must be (agg, col, alias): {r!r}")
        agg, col, alias = r
        if agg not in _RUN_AGGS:
            raise ValueError(f"running agg {agg!r} not in {_RUN_AGGS}")
        for ident in (col, alias):
            if not _IDENT_RE.match(ident):
                raise ValueError(
                    f"running identifier {ident!r} must match "
                    "^[A-Za-z_][A-Za-z0-9_]*$ (it names SQL columns)"
                )
        out.append((agg, col, alias))
    if len({a for _, _, a in out}) != len(out):
        raise ValueError("duplicate running alias")
    return out


# Cross-symbol arithmetic in MEASURES (round 16): SQL:2016 allows
# expressions over symbol aggregates in the MEASURES clause -- the
# standard's flagship ticker measure LAST(UP.price) - FIRST(DOWN.price).
# Every per-symbol (and SUBSET) aggregate is already an output column,
# so the composition is pure OUTPUT-TIME column arithmetic: zero new
# joins, zero new shuffles, and the NULL-on-empty-stage semantics of the
# operands propagate through the arithmetic identically in Spark and
# DuckDB (x OP NULL = NULL, the standard's reading for an expression
# over an aggregate of no rows).  The expression language is restricted
# to what is BIT-STABLE cross-engine over the integer-cents operands:
# measure aliases, integer literals, + - *, unary minus, parentheses.
# Division is rejected (Spark's / on BIGINT yields DOUBLE while integer
# semantics differ across engines -- no exactness story); so are
# functions, floats, and references to anything but a declared measure
# alias.  The validated token stream re-joins into one text that is
# simultaneously a Spark SQL expression and a DuckDB expression.

MeasureExpr = tuple  # (alias, arithmetic-text over measure aliases)

_EXPR_TOKEN_RE = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*|[0-9]+|[+\-*()])")


def _tokenize_measure_expr(text: str) -> list[str]:
    toks, pos = [], 0
    text = text.rstrip()
    while pos < len(text):
        m = _EXPR_TOKEN_RE.match(text, pos)
        if m is None:
            raise ValueError(
                f"measure expr: illegal token at {text[pos:]!r} "
                "(allowed: measure aliases, integer literals, + - *, "
                "parentheses)"
            )
        toks.append(m.group(1))
        pos = m.end()
    if not toks:
        raise ValueError("measure expr: empty expression")
    return toks


def _validate_measure_exprs(
    measure_exprs, meas_aliases: list[str]
) -> list[tuple[str, str]]:
    """Validate (alias, text) expression measures against the declared
    measure output aliases; returns normalized (alias, text) pairs.
    Grammar:  expr := term (('+'|'-') term)* ;  term := factor ('*'
    factor)* ;  factor := IDENT | INT | '-' factor | '(' expr ')'.
    IDENTs must be declared measure aliases (stage or SUBSET measures);
    referencing another expression measure is rejected -- compositions
    stay flat so ONE output-time select computes them all."""
    known = set(meas_aliases)
    # fixed output columns of BOTH lanes (one-row-per-match and
    # all-rows-per-match) -- an expression alias may shadow none of them
    reserved = {"user_id", "t_first_us", "t_last_us", "duration_us",
                "n_events", "start_seq", "end_seq", "match_no", "seq",
                "event_id", "event_type", "t_us", "classifier"}
    out: list[tuple[str, str]] = []
    taken = set(known)
    for item in measure_exprs or []:
        if len(item) != 2:
            raise ValueError(
                f"measure expr must be (alias, text): {item!r}"
            )
        alias, text = item
        if not _IDENT_RE.match(alias):
            raise ValueError(
                f"measure expr alias {alias!r} must match "
                "^[A-Za-z_][A-Za-z0-9_]*$ (it names a SQL column)"
            )
        if (
            alias in taken
            or alias in reserved
            or re.fullmatch(r"n_stage[0-9]+", alias)
        ):
            raise ValueError(f"measure expr alias {alias!r} collides")
        toks = _tokenize_measure_expr(text)
        pos = 0

        def peek():
            return toks[pos] if pos < len(toks) else None

        def take():
            nonlocal pos
            t = peek()
            pos += 1
            return t

        def factor():
            t = take()
            if t == "-":
                factor()
                return
            if t == "(":
                expr()
                if take() != ")":
                    raise ValueError(
                        f"measure expr {text!r}: unbalanced parentheses"
                    )
                return
            if t is None:
                raise ValueError(f"measure expr {text!r}: truncated")
            if t.isdigit():
                return
            if _IDENT_RE.match(t):
                if t not in known:
                    raise ValueError(
                        f"measure expr {text!r}: {t!r} is not a declared "
                        "measure alias (expression measures may only "
                        "reference stage/SUBSET measure aliases)"
                    )
                return
            raise ValueError(f"measure expr {text!r}: unexpected {t!r}")

        def term():
            factor()
            while peek() == "*":
                take()
                factor()

        def expr():
            term()
            while peek() in ("+", "-"):
                take()
                term()

        expr()
        if pos != len(toks):
            raise ValueError(
                f"measure expr {text!r}: trailing tokens "
                f"{' '.join(toks[pos:])!r}"
            )
        out.append((alias, " ".join(toks)))
        taken.add(alias)
    return out


def _norm(pattern: list[Stage]) -> list[tuple]:
    """Normalize stages to (etype, quant, parsed-pred-or-None)."""
    out = []
    for st in pattern:
        if len(st) == 2:
            etype, q = st
            pred = None
        elif len(st) == 3:
            etype, q, ptext = st
            pred = _parse_pred(ptext) if ptext else None
        else:
            raise ValueError(f"stage must be 2- or 3-tuple, got {st!r}")
        out.append((etype, q, pred))
    return out


def _validate(pattern: list[Stage]) -> list[tuple]:
    """Validate and return the normalized (etype, quant, pred) stages."""
    norm = _norm(pattern)
    if len(norm) < 2:
        raise ValueError("pattern needs at least two stages")
    for etype, q, _ in norm:
        if q not in _QUANTS:
            rng = _quant_range(q)
            if rng is None:
                raise ValueError(f"bad quantifier {q!r} for {etype!r}")
            lo, hi = rng
            if lo < 1:
                raise ValueError(
                    f"bounded quantifier {q!r} for {etype!r}: lower bound "
                    "must be >= 1 ('?'/'*' cover the may-match-empty shapes)"
                )
            if hi is not None and hi < lo:
                raise ValueError(
                    f"bounded quantifier {q!r} for {etype!r}: upper bound "
                    "below lower bound"
                )
        alts = _alts(etype)
        for a in alts:
            if not _TYPE_RE.match(a):
                raise ValueError(
                    f"bad event type {a!r} in stage {etype!r}: types must "
                    "match ^[A-Za-z0-9_]+$ (they name SQL relations and "
                    "literals in the compiled oracle)"
                )
        if len(set(alts)) != len(alts):
            raise ValueError(f"duplicate alternative in stage {etype!r}")
    def _nonempty(q: str) -> bool:
        return q in ("1", "+") or _quant_range(q) is not None

    if not _nonempty(norm[0][1]) or not _nonempty(norm[-1][1]):
        raise ValueError(
            "first and last stages must be '1', '+' or '{n,m}' (anchors "
            "for the time bound)"
        )
    # Adjacent stages must have DISJOINT row sets -- including stages
    # that BECOME adjacent when an optional stage between them matches
    # empty -- otherwise maximal-run consumption is not regex-greedy (a
    # run would need to stop where an overlapping-set stage continues),
    # and a run island could START at the previous stage's row, making
    # the s0 = next_seq bracketing join silently miss the occurrence.
    # Disjointness holds when the TYPE sets are disjoint, or (DEFINE,
    # round 14) when both stages carry predicates PROVABLY disjoint on
    # the shared types (exact negation, or disjoint literal intervals on
    # one column).
    for i in range(len(norm) - 1):
        j = i + 1
        while j < len(norm):
            shared = set(_alts(norm[i][0])) & set(_alts(norm[j][0]))
            if shared and not _preds_provably_disjoint(norm[i][2], norm[j][2]):
                raise ValueError(
                    f"stages {i} and {j} share type(s) {sorted(shared)!r}, "
                    "can be adjacent, and their DEFINE predicates are not "
                    "provably disjoint: maximal-run semantics would be "
                    "ambiguous"
                )
            if norm[j][1] not in ("?", "*"):
                break  # stage j always consumes >=1 event: blocks i from j+1
            j += 1
    # Cross-symbol DEFINE references (round 15): `col OP <sym>.<col>`
    # compiles to a row-local ANCHOR column (last value of the referenced
    # TYPE at or before the row, on the same user window).  Soundness
    # needs the anchor seen by every row the referencing stage could
    # consume to BE the referenced stage's LAST consumed row -- the
    # standard's running last-row semantics -- which holds exactly when
    # (a) the referenced type belongs to ONE stage only -- no other
    # stage (referencing one included) can consume a row of that type,
    # so no in-occurrence row resets the anchor -- and (b) that stage is
    # single-type with a NON-EMPTY-ABLE quantifier ('1', '+', '{n,m}':
    # within any valid occurrence, contiguity + single ownership force
    # the last in-stream row of the type before the referencing row to
    # be the run's last consumed row; a '?'/'*' target that matched
    # EMPTY would leave the anchor pointing at a stale pre-occurrence
    # row, so empty-able targets are rejected -- the standard makes the
    # reference NULL there, which this compilation cannot see), and (c)
    # it precedes the referencing stage.
    for i, (_, _, pred) in enumerate(norm):
        _, _, _, syms = _pred_cols(pred)
        for s, _c in syms:
            owners = [
                j for j, (et, _, _) in enumerate(norm) if s in _alts(et)
            ]
            if len(owners) != 1:
                raise ValueError(
                    f"cross-symbol reference {s!r} in stage {i}: type must "
                    f"belong to exactly one stage (found {owners!r}) so the "
                    "anchor row is unambiguous"
                )
            j = owners[0]
            if j >= i:
                raise ValueError(
                    f"cross-symbol reference {s!r} in stage {i} must point "
                    f"to an EARLIER stage (stage {j} is not before {i})"
                )
            j_quant = norm[j][1]
            j_nonempty = j_quant in ("1", "+") or _quant_range(j_quant)
            if _alts(norm[j][0]) != (s,) or not j_nonempty:
                raise ValueError(
                    f"cross-symbol reference {s!r} in stage {i}: the "
                    f"referenced stage {j} must be single-type {s!r} with "
                    "a non-empty-able quantifier ('1', '+' or '{n,m}') -- "
                    "the reference reads the stage's LAST consumed row, "
                    "undefined when the stage can match empty"
                )
    return norm


def cep_match(
    events: DataFrame,
    pattern: list[Stage],
    max_span_us: int,
    with_seq: bool = False,
    measures: list[Measure] | None = None,
    subsets: dict[str, list[int]] | None = None,
    measure_exprs: list[MeasureExpr] | None = None,
) -> DataFrame:
    """All strictly-consecutive occurrences of `pattern` per user.

    Input: events(user_id, event_id, event_type, ts[, attribute cols the
    DEFINE predicates / measures read]).
    Output: one row per occurrence --
      (user_id, t_first_us, t_last_us, duration_us, n_events,
       n_stage0..n_stage{k-1}[, measure aliases])
    where n_stage{i} is how many events stage i consumed (0 for an empty
    optional stage).  `with_seq=True` appends (start_seq, end_seq), the
    occurrence's consumed position interval in the per-user sequence --
    what the AFTER MATCH SKIP PAST LAST ROW selection
    (cep_match_skip_past) chains on.  `measures` (SQL:2016 MEASURES,
    round 14) appends per-symbol aggregates over the rows a stage
    consumed -- (stage_idx, agg in sum|min|max|first|last, col, alias) --
    as integer-cents BIGINTs (NULL when an optional stage matched
    empty); first/last follow stream order, i.e. min_by/max_by on seq.
    `subsets` (SQL:2016 SUBSET, round 15) declares union symbols --
    {"name": [stage indices]} -- that measures may reference by NAME in
    place of a stage index, aggregating over the union of the member
    stages' consumed rows (see _desugar_subsets for the exact
    composition semantics; NULL iff every member matched empty).
    """
    norm = _validate(pattern)
    stage_meas, meas_plan = _desugar_subsets(measures, subsets, len(norm))
    meas = _validate_measures(stage_meas, len(norm))
    _check_rng_measures(norm, meas)
    mex = _validate_measure_exprs(
        measure_exprs, [item[1] for item in meas_plan]
    )
    meas_by_stage: dict[int, list[tuple]] = {}
    for mm in meas:
        meas_by_stage.setdefault(mm[0], []).append(mm)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # DEFINE predicates read attribute columns (direct) and their
    # one-row-back lags (PREV) -- both computed ONCE on ev under the same
    # user-partitioned sequence window, so every stage filter stays a
    # row-local boolean over the checkpointed stream (zero extra columns
    # when the pattern has no predicates); measure columns quantize to
    # cents on the same pass
    direct: set = set()
    prev: set = set()
    nxt: set = set()
    sym: set = set()
    for _, _, pred in norm:
        d, pv, nx, sy = _pred_cols(pred)
        direct |= d
        prev |= pv
        nxt |= nx
        sym |= sy
    mcols = sorted({c for _, _, c, _ in meas})
    w_anchor = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    extra = (
        [F.col(c) for c in sorted(direct)]
        + [F.lag(c).over(w).alias(f"_prev_{c}") for c in sorted(prev)]
        + [F.lead(c).over(w).alias(f"_next_{c}") for c in sorted(nxt)]
        # cross-symbol anchor: last value of the referenced TYPE at or
        # before this row -- row-local after ONE pass over the same user
        # window (validated so the anchor IS the referenced stage's row
        # for every row the referencing stage can consume)
        + [
            F.last(
                F.when(F.col("event_type") == s, F.col(c)), ignorenulls=True
            )
            .over(w_anchor)
            .alias(_sym_alias(s, c))
            for s, c in sorted(sym)
        ]
        + [
            F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").alias(f"_m_{c}")
            for c in mcols
        ]
    )
    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.row_number().over(w).alias("seq"),
        *extra,
    ).transform(materialize, "cep_sequenced", eager=False)

    def stage_filter(etype: str, pred):
        cond = F.col("event_type").isin(*_alts(etype))
        return cond & _pred_spark(pred) if pred is not None else cond

    def singles(etype: str, pred, smeas) -> DataFrame:
        # every aggregate of a single consumed row IS that row's value
        mv = [F.col(f"_m_{c}").alias(f"mv_{a}") for _, _, c, a in smeas]
        return ev.filter(stage_filter(etype, pred)).select(
            "user_id", "seq", "t_us", *mv
        )

    w_sub = Window.partitionBy("user_id").orderBy("t_us", "event_id")

    def runs(etype: str, pred, smeas) -> DataFrame:
        # gaps-and-islands: within the per-user stream, consecutive events
        # whose type is in the stage's alternative set (and satisfy its
        # DEFINE predicate) share (seq - rank-within-subset); ordering by
        # t_us is ordering by ts (unix_micros is monotone, ties broken by
        # event_id)
        sub = ev.filter(stage_filter(etype, pred)).withColumn(
            "island", F.col("seq") - F.row_number().over(w_sub)
        )
        magg = []
        for _, agg, c, a in smeas:
            src = F.col(f"_m_{c}")
            expr = {
                "sum": F.sum(src),
                "min": F.min(src),
                "max": F.max(src),
                "first": F.min_by(src, F.col("seq")),
                "last": F.max_by(src, F.col("seq")),
            }[agg]
            magg.append(expr.cast("long").alias(f"mv_{a}"))
        return sub.groupBy("user_id", "island").agg(
            F.min("seq").alias("s0"),
            F.max("seq").alias("s1"),
            F.min("t_us").alias("rt0"),
            F.max("t_us").alias("rt1"),
            F.count(F.lit(1)).cast("long").alias("n"),
            *magg,
        )

    # Fold state: (user_id, start_seq, t_first_us, t_last_us, next_seq,
    # n_stage0..n_stage{i-1}, meas_<alias>...).  next_seq = first
    # UNCONSUMED position.
    p: DataFrame | None = None
    for i, (etype, quant, pred) in enumerate(norm):
        ncol = f"n_stage{i}"
        smeas = meas_by_stage.get(i, [])
        mv_new = [F.col(f"mv_{a}").alias(f"meas_{a}") for _, _, _, a in smeas]
        if i == 0:
            if quant == "1":
                p = singles(etype, pred, smeas).select(
                    "user_id",
                    F.col("seq").alias("start_seq"),
                    F.col("t_us").alias("t_first_us"),
                    F.col("t_us").alias("t_last_us"),
                    (F.col("seq") + 1).alias("next_seq"),
                    F.lit(1).cast("long").alias(ncol),
                    *mv_new,
                )
            else:  # "+" / "{n,m}" (a first stage is never final: >= 2
                # stages, so a bounded first stage always consumes its
                # maximal run whole -- bounds filter the run length)
                r0 = runs(etype, pred, smeas)
                rng = _quant_range(quant)
                if rng is not None:
                    cond = F.col("n") >= rng[0]
                    if rng[1] is not None:
                        cond = cond & (F.col("n") <= rng[1])
                    r0 = r0.filter(cond)
                p = r0.select(
                    "user_id",
                    F.col("s0").alias("start_seq"),
                    F.col("rt0").alias("t_first_us"),
                    F.col("rt1").alias("t_last_us"),
                    (F.col("s1") + 1).alias("next_seq"),
                    F.col("n").alias(ncol),
                    *mv_new,
                )
            continue
        assert p is not None
        carried = [
            c
            for c in p.columns
            if c.startswith("n_stage") or c.startswith("meas_")
        ]
        if quant in ("1", "?"):
            s = singles(etype, pred, smeas).select(
                F.col("user_id").alias("m_user"),
                F.col("seq").alias("m_seq"),
                F.col("t_us").alias("m_t"),
                *[F.col(f"mv_{a}") for _, _, _, a in smeas],
            )
            consumed = (
                p.join(
                    s,
                    (F.col("user_id") == F.col("m_user"))
                    & (F.col("next_seq") == F.col("m_seq")),
                )
                .select(
                    "user_id",
                    "start_seq",
                    "t_first_us",
                    F.col("m_t").alias("t_last_us"),
                    (F.col("next_seq") + 1).alias("next_seq"),
                    *carried,
                    F.lit(1).cast("long").alias(ncol),
                    *mv_new,
                )
            )
        else:  # "+" / "*" / "{n,m}"
            rng = _quant_range(quant)
            final_cap = (
                rng is not None
                and rng[1] is not None
                and i == len(norm) - 1
            )
            r0 = runs(etype, pred, smeas)
            if rng is not None:
                # every non-final bounded stage consumes its maximal run
                # whole (forced by adjacent disjointness), so bounds are
                # a run-length filter; a final capped stage only needs
                # the lower bound here -- the cap is applied below
                cond = F.col("n") >= rng[0]
                if rng[1] is not None and not final_cap:
                    cond = cond & (F.col("n") <= rng[1])
                r0 = r0.filter(cond)
            r = r0.select(
                F.col("user_id").alias("m_user"),
                F.col("s0").alias("m_s0"),
                F.col("s1").alias("m_s1"),
                F.col("rt1").alias("m_t1"),
                F.col("n").alias("m_n"),
                *[F.col(f"mv_{a}") for _, _, _, a in smeas],
            )
            if final_cap:
                # greedy cap: consume min(run, m) rows; the capped end's
                # timestamp comes from one more (user_id, seq)-keyed
                # equi-join against the sequenced stream -- same
                # sessionization partitioning, no new shuffle key
                take = F.least(F.col("m_n"), F.lit(rng[1]))
                pos = ev.select(
                    F.col("user_id").alias("e_user"),
                    F.col("seq").alias("e_seq"),
                    F.col("t_us").alias("e_t"),
                )
                consumed = (
                    p.join(
                        r,
                        (F.col("user_id") == F.col("m_user"))
                        & (F.col("next_seq") == F.col("m_s0")),
                    )
                    .join(
                        pos,
                        (F.col("user_id") == F.col("e_user"))
                        & (F.col("m_s0") + take - 1 == F.col("e_seq")),
                    )
                    .select(
                        "user_id",
                        "start_seq",
                        "t_first_us",
                        F.col("e_t").alias("t_last_us"),
                        (F.col("m_s0") + take).alias("next_seq"),
                        *carried,
                        take.cast("long").alias(ncol),
                    )
                )
            else:
                consumed = (
                    p.join(
                        r,
                        (F.col("user_id") == F.col("m_user"))
                        & (F.col("next_seq") == F.col("m_s0")),
                    )
                    .select(
                        "user_id",
                        "start_seq",
                        "t_first_us",
                        F.col("m_t1").alias("t_last_us"),
                        (F.col("m_s1") + 1).alias("next_seq"),
                        *carried,
                        F.col("m_n").alias(ncol),
                        *mv_new,
                    )
                )
        if quant in ("?", "*"):
            skipped = p.select(
                "user_id",
                "start_seq",
                "t_first_us",
                "t_last_us",
                "next_seq",
                *carried,
                F.lit(0).cast("long").alias(ncol),
                # aggregate over the zero rows an empty stage consumed:
                # NULL, the standard's semantics -- never 0
                *[
                    F.lit(None).cast("long").alias(f"meas_{a}")
                    for _, _, _, a in smeas
                ],
            )
            p = skipped.unionByName(consumed)
        else:
            p = consumed

    assert p is not None
    ncols = [f"n_stage{i}" for i in range(len(pattern))]
    total = None
    for c in ncols:
        total = F.col(c) if total is None else total + F.col(c)
    seq_cols = (
        [
            F.col("start_seq").cast("long").alias("start_seq"),
            (F.col("next_seq") - 1).cast("long").alias("end_seq"),
        ]
        if with_seq
        else []
    )
    meas_cols = []
    for item in meas_plan:
        if item[0] == "stage":
            a = item[1]
            meas_cols.append(F.col(f"meas_{a}").alias(a))
            continue
        # SUBSET combo: compose the member stages' hidden aggregates --
        # zero extra joins, pure column arithmetic over the fold output
        _, a, agg, hidden = item
        hs = [F.col(f"meas_{h}") for h in hidden]
        if agg == "sum":
            all_null = hs[0].isNull()
            for h in hs[1:]:
                all_null = all_null & h.isNull()
            tot = None
            for h in hs:
                ch = F.coalesce(h, F.lit(0))
                tot = ch if tot is None else tot + ch
            expr = F.when(all_null, F.lit(None)).otherwise(tot)
        elif agg == "min":
            expr = F.least(*hs) if len(hs) > 1 else hs[0]
        elif agg == "max":
            expr = F.greatest(*hs) if len(hs) > 1 else hs[0]
        elif agg == "first":
            expr = F.coalesce(*hs) if len(hs) > 1 else hs[0]
        else:  # "last": reversed stage order
            expr = F.coalesce(*reversed(hs)) if len(hs) > 1 else hs[0]
        meas_cols.append(expr.cast("long").alias(a))
    res = (
        p.filter(F.col("t_last_us") - F.col("t_first_us") <= F.lit(max_span_us))
        .select(
            "user_id",
            "t_first_us",
            "t_last_us",
            (F.col("t_last_us") - F.col("t_first_us")).alias("duration_us"),
            total.cast("long").alias("n_events"),
            *ncols,
            *seq_cols,
            *meas_cols,
        )
    )
    if mex:
        # expression measures: one extra narrow projection over the
        # occurrence rows (never the stream) -- the validated text is a
        # Spark SQL expression over the measure columns just emitted
        res = res.select(
            "*",
            *[F.expr(txt).cast("long").alias(a) for a, txt in mex],
        )
    return res


def cep_match_skip_past(
    events: DataFrame,
    pattern: list[Stage],
    max_span_us: int,
) -> DataFrame:
    """AFTER MATCH SKIP PAST LAST ROW -- the other canonical
    MATCH_RECOGNIZE after-match mode (cep_match is SKIP TO NEXT ROW, all
    occurrences): scan each user's stream in order and, whenever an
    occurrence completes, resume the scan AFTER its last row, so the
    selected occurrences tile the stream without sharing events.
    Equivalent formulation over cep_match's full occurrence set (at most
    ONE occurrence starts at any position -- the compiler's arms are
    mutually exclusive per start): walk occurrences by ascending
    start_seq, keep one iff it starts after the last kept occurrence's
    end_seq -- the greedy leftmost non-overlapping chain.

    The chain is a per-user SEQUENTIAL fold, so it runs as one
    applyInPandas over user_id groups (a documented Arrow lane; state =
    that user's occurrence list, already bounded by the per-user stream)
    -- the same partitioning every other CEP join uses, so at 100 TB the
    selection adds one Arrow pass inside the existing sessionization
    shuffle, never a global order.  Output schema = cep_match's (seq
    bounds dropped)."""
    _validate(pattern)
    m = cep_match(events, pattern, max_span_us, with_seq=True)

    def chain(pdf):
        # today at most one occurrence starts at any position (arm mutual
        # exclusion under the disjoint-adjacent-sets validation), but that
        # is a property of the CURRENT pattern constructs, not the fold --
        # sort on (start_seq, end_seq) so a future construct that breaks
        # uniqueness gets a deterministic shortest-first tie-break here
        # that compile_sql_skip_past's MIN(end_seq) clause mirrors, instead
        # of pandas group order silently diverging from the oracle
        # (ADVICE r13)
        pdf = pdf.sort_values(["start_seq", "end_seq"])
        keep, last_end = [], -1
        for s, e in zip(pdf["start_seq"], pdf["end_seq"]):
            if s > last_end:
                keep.append(True)
                last_end = e
            else:
                keep.append(False)
        return pdf[keep]

    return (
        m.groupBy("user_id")
        .applyInPandas(chain, m.schema)
        .drop("start_seq", "end_seq")
    )


def compile_sql(
    pattern: list[Stage],
    max_span_us: int,
    with_seq: bool = False,
    measures: list[Measure] | None = None,
    subsets: dict[str, list[int]] | None = None,
    measure_exprs: list[MeasureExpr] | None = None,
) -> str:
    """DuckDB replay of `cep_match`: expand every "?"/"*" stage into its
    empty/non-empty arms (2^k fixed arms), chain each arm's bracketing
    joins, UNION ALL.  `with_seq=True` appends (start_seq, end_seq) --
    the replay of cep_match(with_seq=True), which
    compile_sql_skip_past's recursive chain selects over.  `measures`
    replays cep_match's MEASURES columns (integer-cents aggregates,
    NULL on empty optional arms); `subsets` replays the SUBSET
    union-symbol combination (CASE/LEAST/GREATEST/COALESCE over the
    member stages' per-arm expressions)."""
    norm = _validate(pattern)
    stage_meas, meas_plan = _desugar_subsets(measures, subsets, len(norm))
    meas = _validate_measures(stage_meas, len(norm))
    _check_rng_measures(norm, meas)
    mex = _validate_measure_exprs(
        measure_exprs, [item[1] for item in meas_plan]
    )
    meas_by_stage: dict[int, list[tuple]] = {}
    for mm in meas:
        meas_by_stage.setdefault(mm[0], []).append(mm)
    opt_idx = [i for i, (_, q, _) in enumerate(norm) if q in ("?", "*")]
    if len(opt_idx) > 4:
        raise ValueError("more than 4 optional stages: arm expansion too wide")

    def in_list(alts: tuple[str, ...]) -> str:
        return "(" + ", ".join(f"'{a}'" for a in alts) + ")"

    # distinct DEFINE predicates get stable p{i} ids (sorted canonical
    # order) for run-relation naming; the ev CTE surfaces the attribute
    # and lag columns every predicate reads, plus the integer-cents
    # measure columns
    all_preds = sorted(
        {p for _, _, p in norm if p is not None}, key=repr
    )
    pred_id = {p: f"p{i}" for i, p in enumerate(all_preds)}
    direct: set = set()
    prev: set = set()
    nxt: set = set()
    sym: set = set()
    for _, _, pred in norm:
        d, pv, nx, sy = _pred_cols(pred)
        direct |= d
        prev |= pv
        nxt |= nx
        sym |= sy
    mcols = sorted({c for _, _, c, _ in meas})
    attr_sql = (
        "".join(f", {c}" for c in sorted(direct))
        + "".join(
            f",\n         lag({c}) OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id) AS _prev_{c}"
            for c in sorted(prev)
        )
        + "".join(
            f",\n         lead({c}) OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id) AS _next_{c}"
            for c in sorted(nxt)
        )
        + "".join(
            f",\n         last_value(CASE WHEN event_type = '{s}' THEN {c} "
            f"END IGNORE NULLS) OVER (PARTITION BY user_id "
            f"ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND "
            f"CURRENT ROW) AS {_sym_alias(s, c)}"
            for s, c in sorted(sym)
        )
        + "".join(
            f",\n         CAST(FLOOR({c} * 100 + 0.5) AS BIGINT) AS _m_{c}"
            for c in mcols
        )
    )
    # measure aggregates each run relation must carry: union over the
    # stages that share its (type set, predicate) key
    run_meas: dict[tuple, list[tuple]] = {}
    for i, (etype, quant, pred) in enumerate(norm):
        if _is_run_quant(quant):
            run_meas.setdefault((_alts(etype), pred), [])
            for mm in meas_by_stage.get(i, []):
                if mm not in run_meas[(_alts(etype), pred)]:
                    run_meas[(_alts(etype), pred)].append(mm)

    def meas_agg_sql(agg: str, c: str) -> str:
        return {
            "sum": f"CAST(SUM(_m_{c}) AS BIGINT)",
            "min": f"CAST(MIN(_m_{c}) AS BIGINT)",
            "max": f"CAST(MAX(_m_{c}) AS BIGINT)",
            "first": f"CAST(min_by(_m_{c}, seq) AS BIGINT)",
            "last": f"CAST(max_by(_m_{c}, seq) AS BIGINT)",
        }[agg]

    def run_rel(alts: tuple[str, ...], pred) -> str:
        # canonical per-(type-set, predicate) relation name; the arity
        # prefix keeps {'a','b'} and the single type 'a_b' from colliding
        # (alternatives are _TYPE_RE-validated, so the name is always a
        # legal identifier)
        base = f"runs_{len(alts)}_" + "_".join(alts)
        return base + (f"_{pred_id[pred]}" if pred is not None else "")

    run_keys = sorted(
        {(_alts(t), p) for t, q, p in norm if _is_run_quant(q)},
        key=lambda k: (k[0], repr(k[1])),
    )
    ctes = [
        f"""ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us{attr_sql},
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
)"""
    ]
    for alts, pred in run_keys:
        pred_cond = (
            f" AND {_pred_sql(pred)}" if pred is not None else ""
        )
        rmeas = run_meas.get((alts, pred), [])
        m_inner = "".join(f", _m_{c}" for c in sorted({c for _, _, c, _ in rmeas}))
        m_aggs = "".join(
            f",\n         {meas_agg_sql(agg, c)} AS mv_{a}"
            for _, agg, c, a in rmeas
        )
        ctes.append(
            f"""{run_rel(alts, pred)} AS (
  SELECT user_id, island, MIN(seq) AS s0, MAX(seq) AS s1,
         MIN(t_us) AS rt0, MAX(t_us) AS rt1,
         CAST(COUNT(*) AS BIGINT) AS n{m_aggs}
  FROM (
    SELECT user_id, seq, t_us{m_inner},
           seq - row_number() OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id) AS island
    FROM ev WHERE event_type IN {in_list(alts)}{pred_cond}
  ) GROUP BY 1, 2
)"""
        )

    arms: list[str] = []
    for mask in range(1 << len(opt_idx)):
        present = {
            idx: bool(mask & (1 << b)) for b, idx in enumerate(opt_idx)
        }
        # stage i contributes an alias s{i} over ev (single) or runs_<type>
        # (run); empty optional stages contribute nothing and a 0 count
        joins: list[str] = []
        where: list[str] = []
        n_exprs: list[str] = []  # per-stage consumed-count expressions
        meas_exprs: dict[str, str] = {}  # alias -> SQL expr for this arm
        first_t = last_t = None
        first_s: str | None = None  # SQL expr: the occurrence's start seq
        anchor: str | None = None
        prev_end: str | None = None  # SQL expr: seq AFTER the consumed prefix
        for i, (etype, quant, pred) in enumerate(norm):
            is_run = _is_run_quant(quant)
            if quant in ("?", "*") and not present[i]:
                n_exprs.append("CAST(0 AS BIGINT)")
                for _, _, _, a in meas_by_stage.get(i, []):
                    meas_exprs[a] = "CAST(NULL AS BIGINT)"
                continue
            alias = f"s{i}"
            extra_join: str | None = None
            if is_run:
                rel = run_rel(_alts(etype), pred)
                rng = _quant_range(quant)
                final_cap = (
                    rng is not None
                    and rng[1] is not None
                    and i == len(norm) - 1
                )
                cond: list[str] = []
                if rng is not None:
                    # non-final bounded stages consume the maximal run
                    # whole (forced by adjacent disjointness): bounds are
                    # run-length conditions; a final capped stage keeps
                    # only the lower bound and caps consumption below
                    cond.append(f"{alias}.n >= {rng[0]}")
                    if rng[1] is not None and not final_cap:
                        cond.append(f"{alias}.n <= {rng[1]}")
                if final_cap:
                    take = f"LEAST({alias}.n, {rng[1]})"
                    start, end = f"{alias}.s0", f"{alias}.s0 + {take}"
                    n_exprs.append(f"CAST({take} AS BIGINT)")
                    # the capped end's timestamp: one more seq-keyed join
                    # against the sequenced stream, the SQL twin of
                    # cep_match's position join
                    extra_join = (
                        f"JOIN ev e{i} ON e{i}.user_id = {alias}.user_id "
                        f"AND e{i}.seq = {alias}.s0 + {take} - 1"
                    )
                    t_first, t_last = f"{alias}.rt0", f"e{i}.t_us"
                else:
                    start, end = f"{alias}.s0", f"{alias}.s1 + 1"
                    n_exprs.append(f"{alias}.n")
                    t_first, t_last = f"{alias}.rt0", f"{alias}.rt1"
                for _, _, _, a in meas_by_stage.get(i, []):
                    meas_exprs[a] = f"{alias}.mv_{a}"
            else:
                rel = "ev"
                start, end = f"{alias}.seq", f"{alias}.seq + 1"
                n_exprs.append("CAST(1 AS BIGINT)")
                t_first = t_last = f"{alias}.t_us"
                cond = [f"{alias}.event_type IN {in_list(_alts(etype))}"]
                if pred is not None:
                    cond.append(_pred_sql(pred, f"{alias}."))
                # every aggregate of a single consumed row IS that row
                for _, _, c, a in meas_by_stage.get(i, []):
                    meas_exprs[a] = f"{alias}._m_{c}"
            if prev_end is None:
                joins.append(f"FROM {rel} {alias}")
                where.extend(cond)
                anchor = alias
            else:
                on = [
                    f"{alias}.user_id = {anchor}.user_id",
                    f"{start} = {prev_end}",
                ] + cond
                joins.append(f"JOIN {rel} {alias} ON " + " AND ".join(on))
            if extra_join is not None:
                joins.append(extra_join)
            if first_t is None:
                first_t = t_first
                first_s = start
            last_t = t_last
            prev_end = end
        named_n = [
            f"{expr} AS n_stage{i}" for i, expr in enumerate(n_exprs)
        ]
        seq_sel = (
            f",\n       CAST({first_s} AS BIGINT) AS start_seq,"
            f"\n       CAST({prev_end} - 1 AS BIGINT) AS end_seq"
            if with_seq
            else ""
        )
        meas_parts: list[str] = []
        for item in meas_plan:
            if item[0] == "stage":
                a = item[1]
                meas_parts.append(f",\n       {meas_exprs[a]} AS {a}")
                continue
            _, a, agg, hidden = item
            hs = [meas_exprs[h] for h in hidden]
            if agg == "sum":
                nulls = " AND ".join(f"{h} IS NULL" for h in hs)
                tot = " + ".join(f"COALESCE({h}, 0)" for h in hs)
                expr = (
                    f"CAST(CASE WHEN {nulls} THEN NULL ELSE {tot} END "
                    "AS BIGINT)"
                )
            elif agg == "min":
                expr = (
                    f"LEAST({', '.join(hs)})" if len(hs) > 1 else hs[0]
                )
            elif agg == "max":
                expr = (
                    f"GREATEST({', '.join(hs)})" if len(hs) > 1 else hs[0]
                )
            elif agg == "first":
                expr = (
                    f"COALESCE({', '.join(hs)})" if len(hs) > 1 else hs[0]
                )
            else:  # "last": reversed stage order
                expr = (
                    f"COALESCE({', '.join(reversed(hs))})"
                    if len(hs) > 1
                    else hs[0]
                )
            meas_parts.append(f",\n       {expr} AS {a}")
        meas_sel = "".join(meas_parts)
        tail = "\n".join(joins)
        if where:
            tail += "\nWHERE " + " AND ".join(where)
        arms.append(
            f"""SELECT {anchor}.user_id,
       {first_t} AS t_first_us, {last_t} AS t_last_us,
       {last_t} - {first_t} AS duration_us,
       CAST({" + ".join(n_exprs)} AS BIGINT) AS n_events,
       {", ".join(named_n)}{seq_sel}{meas_sel}
"""
            + tail
        )
    body = "\nUNION ALL\n".join(arms)
    # expression measures replay as the same arithmetic over the arm
    # columns in the outer select (the validated text is engine-neutral)
    mex_sel = "".join(
        f", CAST({txt} AS BIGINT) AS {a}" for a, txt in mex
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT *{mex_sel} FROM (\n{body}\n)"
        + f"\nWHERE t_last_us - t_first_us <= {max_span_us}"
    )


def cep_match_permute(
    events: DataFrame,
    prefix: list[Stage],
    types: list[str],
    suffix: list[Stage],
    max_span_us: int,
) -> DataFrame:
    """PERMUTE(t1, .., tk) -- SQL:2016's any-order group (FlinkCEP's
    followedBy-in-any-order): the k types must each occur exactly once,
    strictly consecutively, in ANY order, between `prefix` and `suffix`.
    Expands to the union of k! fixed arms (k <= 4, same bound as the
    optional-arm expansion), each arm one cep_match plan tagged with the
    order it matched; arms are mutually exclusive at any start position
    (the event window after a start has ONE type sequence, and distinct
    orderings disagree at their first differing position), so no dedup is
    needed and each occurrence is emitted exactly once with its witness
    order.  Output = cep_match's columns + `perm` (the comma-joined
    matched order)."""
    import itertools
    from functools import reduce

    if not 2 <= len(types) <= 4:
        raise ValueError("PERMUTE takes 2..4 types (k! arm expansion)")
    if len(set(types)) != len(types):
        raise ValueError("PERMUTE types must be distinct")
    arms = []
    for perm in itertools.permutations(types):
        pat = list(prefix) + [(t, "1") for t in perm] + list(suffix)
        arms.append(
            cep_match(events, pat, max_span_us).withColumn(
                "perm", F.lit(",".join(perm))
            )
        )
    return reduce(lambda a, b: a.unionByName(b), arms)


def compile_sql_permute(
    prefix: list[Stage],
    types: list[str],
    suffix: list[Stage],
    max_span_us: int,
) -> str:
    """DuckDB replay of cep_match_permute: UNION ALL of compile_sql over
    every ordering, each tagged with its order literal."""
    import itertools

    arms = []
    for perm in itertools.permutations(types):
        pat = list(prefix) + [(t, "1") for t in perm] + list(suffix)
        tag = ",".join(perm)
        arms.append(
            f"SELECT *, '{tag}' AS perm FROM (\n{compile_sql(pat, max_span_us)}\n)"
        )
    return "\nUNION ALL\n".join(arms)


def compile_sql_skip_past(pattern: list[Stage], max_span_us: int) -> str:
    """DuckDB replay of `cep_match_skip_past`: the full occurrence set
    (compile_sql with seq bounds) chained by a recursive CTE -- per user,
    seed with the earliest-starting occurrence, then repeatedly take the
    earliest occurrence starting after the last kept one's end.  The
    greedy chain is well-defined because at most one occurrence starts at
    any position (arm mutual exclusion), so every MIN(start_seq) below is
    unique -- but the MIN(end_seq) clause makes the selection
    deterministic (shortest occurrence first, the same tie-break
    cep_match_skip_past's sorted fold applies) even if a future pattern
    construct breaks start uniqueness (ADVICE r13)."""
    inner = compile_sql(pattern, max_span_us, with_seq=True)
    ncols = ", ".join(f"n_stage{i}" for i in range(len(pattern)))
    return f"""
WITH RECURSIVE m AS (
{inner}
),
chain AS (
  SELECT m1.* FROM m m1
  WHERE m1.start_seq = (SELECT MIN(m2.start_seq) FROM m m2
                        WHERE m2.user_id = m1.user_id)
    AND m1.end_seq = (SELECT MIN(m2.end_seq) FROM m m2
                      WHERE m2.user_id = m1.user_id
                        AND m2.start_seq = m1.start_seq)
  UNION ALL
  SELECT m.* FROM chain c JOIN m
    ON m.user_id = c.user_id AND m.start_seq > c.end_seq
  WHERE m.start_seq = (SELECT MIN(m3.start_seq) FROM m m3
                       WHERE m3.user_id = c.user_id
                         AND m3.start_seq > c.end_seq)
    AND m.end_seq = (SELECT MIN(m4.end_seq) FROM m m4
                     WHERE m4.user_id = c.user_id
                       AND m4.start_seq = m.start_seq)
)
SELECT user_id, t_first_us, t_last_us, duration_us, n_events, {ncols}
FROM chain
"""


def _validate_skip_to(
    pattern: list[Stage], target: int, which: str
) -> list[tuple]:
    """Static checks for AFTER MATCH SKIP TO FIRST/LAST <symbol> (the
    checks SQL:2016 makes runtime errors, rejected up front):

    * the target stage must always map >= 1 row ('1' or '+'), so the
      resume row exists for EVERY occurrence (the standard's 'skip to a
      symbol that matched no rows' error);
    * some stage BEFORE the target must always consume a row ('1'/'+'),
      so the resume row is strictly after the match start -- otherwise
      the scan could resume where it began and loop forever (the
      standard's 'skip to first row of match' error, e.g. SKIP TO FIRST
      A in PATTERN (A B)).  This also rejects target 0 outright, exactly
      as the standard does for the first symbol.
    """
    norm = _validate(pattern)
    if not 0 <= target < len(norm):
        raise ValueError(f"target stage {target} out of range")
    if which not in ("first", "last"):
        raise ValueError(f"which must be 'first' or 'last', got {which!r}")
    if norm[target][1] not in ("1", "+"):
        raise ValueError(
            "SKIP TO target must be a '1' or '+' stage (it must map at "
            "least one row in every occurrence)"
        )
    if not any(q in ("1", "+") for _, q, _ in norm[:target]):
        raise ValueError(
            "SKIP TO target needs a non-empty-able stage before it: "
            "resuming at (or before) the match's own first row would "
            "re-attempt the same match forever"
        )
    return norm


def cep_match_skip_to(
    events: DataFrame,
    pattern: list[Stage],
    max_span_us: int,
    target: int,
    which: str = "first",
) -> DataFrame:
    """AFTER MATCH SKIP TO FIRST/LAST <symbol> -- the remaining canonical
    pair of after-match modes (cep_match = SKIP TO NEXT ROW,
    cep_match_skip_past = SKIP PAST LAST ROW): when an occurrence is
    kept, the scan resumes AT the first (resp. last) row the target
    stage consumed, so kept occurrences may legally OVERLAP -- the mode
    production deployments use for chained patterns (the W-shape /
    double-bottom idiom, where each match restarts at the previous
    match's pivot row).

    Selection over cep_match's full occurrence set: per user, walk
    occurrences by ascending (start_seq, end_seq) keeping the first one
    starting at or after the resume position, which then advances to the
    kept occurrence's FIRST/LAST target-stage row:
      resume = start_seq + n_stage0 + .. + n_stage{target-1}          (first)
      resume = start_seq + n_stage0 + .. + n_stage{target}  - 1       (last)
    (stage rows are contiguous under strict contiguity, so prefix sums
    of the consumed counts locate every stage's rows exactly).
    _validate_skip_to guarantees resume > start_seq, so the kept start
    positions strictly increase and the fold terminates.  Same Arrow
    lane and partitioning as cep_match_skip_past: one applyInPandas over
    user_id groups inside the sessionization shuffle.  Output schema =
    cep_match's (seq bounds dropped)."""
    norm = _validate_skip_to(pattern, target, which)
    m = cep_match(events, pattern, max_span_us, with_seq=True)
    upto = target if which == "first" else target + 1
    resume = F.col("start_seq")
    for i in range(upto):
        resume = resume + F.col(f"n_stage{i}")
    if which == "last":
        resume = resume - 1
    m = m.withColumn("_resume", resume.cast("long"))

    def chain(pdf):
        pdf = pdf.sort_values(["start_seq", "end_seq"])
        keep, pos = [], 0
        for s, r in zip(pdf["start_seq"], pdf["_resume"]):
            if s >= pos:
                keep.append(True)
                assert r > s, "resume must advance past the match start"
                pos = r
            else:
                keep.append(False)
        return pdf[keep]

    return (
        m.groupBy("user_id")
        .applyInPandas(chain, m.schema)
        .drop("start_seq", "end_seq", "_resume")
    )


def compile_sql_skip_to(
    pattern: list[Stage], max_span_us: int, target: int, which: str = "first"
) -> str:
    """DuckDB replay of `cep_match_skip_to`: the full occurrence set with
    a _resume column (the same prefix-sum-of-counts row locator), chained
    by a recursive CTE -- per user, seed with the earliest occurrence,
    then repeatedly take the earliest occurrence starting AT OR AFTER the
    last kept one's resume row (>=, where SKIP PAST LAST ROW uses >).
    Both MINs carry the (start_seq, end_seq) tie-break the pandas fold
    applies."""
    _validate_skip_to(pattern, target, which)
    inner = compile_sql(pattern, max_span_us, with_seq=True)
    upto = target if which == "first" else target + 1
    nsum = " + ".join(f"n_stage{i}" for i in range(upto)) or "0"
    minus = " - 1" if which == "last" else ""
    ncols = ", ".join(f"n_stage{i}" for i in range(len(pattern)))
    return f"""
WITH RECURSIVE m AS (
  SELECT *, CAST(start_seq + {nsum}{minus} AS BIGINT) AS _resume
  FROM (
{inner}
  )
),
chain AS (
  SELECT m1.* FROM m m1
  WHERE m1.start_seq = (SELECT MIN(m2.start_seq) FROM m m2
                        WHERE m2.user_id = m1.user_id)
    AND m1.end_seq = (SELECT MIN(m2.end_seq) FROM m m2
                      WHERE m2.user_id = m1.user_id
                        AND m2.start_seq = m1.start_seq)
  UNION ALL
  SELECT m.* FROM chain c JOIN m
    ON m.user_id = c.user_id AND m.start_seq >= c._resume
  WHERE m.start_seq = (SELECT MIN(m3.start_seq) FROM m m3
                       WHERE m3.user_id = c.user_id
                         AND m3.start_seq >= c._resume)
    AND m.end_seq = (SELECT MIN(m4.end_seq) FROM m m4
                     WHERE m4.user_id = c.user_id
                       AND m4.start_seq = m.start_seq)
)
SELECT user_id, t_first_us, t_last_us, duration_us, n_events, {ncols}
FROM chain
"""


def cep_match_rows(
    events: DataFrame,
    pattern: list[Stage],
    max_span_us: int,
    running: list[Running] | None = None,
    measure_exprs: list[MeasureExpr] | None = None,
) -> DataFrame:
    """ALL ROWS PER MATCH -- SQL:2016's row-level output mode (cep_match
    is ONE ROW PER MATCH): one output row per INPUT row per occurrence
    that consumed it, carrying MATCH_NUMBER() (per-user 1-based ordinal
    of the occurrence by start position) and CLASSIFIER() (which stage
    consumed the row -- recovered from the prefix sums of the per-stage
    consumed counts, exact under strict contiguity).  Overlapping
    occurrences legally repeat a row, once per match, exactly as the
    standard specifies.

    `running` (round 15) appends SQL:2016 RUNNING measures -- the only
    output mode where RUNNING differs from FINAL: each (agg in
    sum|min|max, col, alias) emits the aggregate over the match's rows
    up to AND including the emitted row, as integer cents (the MEASURES
    quantization), via one window over (user, match) in stream order --
    no new shuffle beyond the existing user-keyed join, and the window
    partitioning still leads with user_id.

    Output: (user_id, match_no, seq, event_id, event_type, t_us,
    classifier[, running aliases]).  Scale shape: the occurrence set
    joins back to the sequenced stream on user_id equality with the
    seq-interval predicate as a residual filter (both sides ride the
    sessionization partitioning -- no theta join, no global sort), and
    the match_no window is user-partitioned.

    `measure_exprs` (round 16) appends RUNNING expression measures --
    arithmetic over the running aliases, evaluated per emitted row (the
    standard's RUNNING SUM(x) - RUNNING MIN(x) drawdown idiom): same
    restricted bit-stable grammar and output-time projection as
    cep_match's FINAL expression measures."""
    norm = _validate(pattern)
    run = _validate_running(running)
    mex = _validate_measure_exprs(
        measure_exprs, [alias for _, _, alias in run]
    )
    m = cep_match(events, pattern, max_span_us, with_seq=True)
    wm = Window.partitionBy("user_id").orderBy("start_seq", "end_seq")
    mm = m.withColumn(
        "match_no", F.row_number().over(wm).cast("long")
    ).select(
        F.col("user_id").alias("m_user"),
        "match_no",
        "start_seq",
        "end_seq",
        *[f"n_stage{i}" for i in range(len(norm))],
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rcols = sorted({c for _, c, _ in run})
    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.row_number().over(w).alias("seq"),
        *[
            F.floor(F.col(c) * 100 + F.lit(0.5)).cast("long").alias(f"_m_{c}")
            for c in rcols
        ],
    )
    joined = ev.join(
        mm,
        (F.col("user_id") == F.col("m_user"))
        & (F.col("seq") >= F.col("start_seq"))
        & (F.col("seq") <= F.col("end_seq")),
    )
    off = F.col("seq") - F.col("start_seq")
    clf = None
    acc = None
    for i in range(len(norm)):
        acc = (
            F.col(f"n_stage{i}")
            if acc is None
            else acc + F.col(f"n_stage{i}")
        )
        cond = off < acc
        clf = F.when(cond, F.lit(i)) if clf is None else clf.when(cond, F.lit(i))
    w_run = (
        Window.partitionBy("user_id", "match_no")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run_cols = [
        {"sum": F.sum, "min": F.min, "max": F.max}[agg](F.col(f"_m_{c}"))
        .over(w_run)
        .cast("long")
        .alias(alias)
        for agg, c, alias in run
    ]
    res = joined.select(
        "user_id",
        "match_no",
        F.col("seq").cast("long").alias("seq"),
        "event_id",
        "event_type",
        "t_us",
        clf.cast("int").alias("classifier"),
        *run_cols,
    )
    if mex:
        res = res.select(
            "*",
            *[F.expr(txt).cast("long").alias(a) for a, txt in mex],
        )
    return res


def compile_sql_rows(
    pattern: list[Stage],
    max_span_us: int,
    running: list[Running] | None = None,
    measure_exprs: list[MeasureExpr] | None = None,
) -> str:
    """DuckDB replay of `cep_match_rows`: the seq-bounded occurrence set
    numbered per user, joined back to an independently sequenced stream,
    with the classifier recovered by the same prefix-sum CASE; `running`
    replays the RUNNING measures as the same per-(user, match) stream-
    order window over integer-cents values; `measure_exprs` replays the
    RUNNING expression measures as the same arithmetic in an outer
    select (window aliases are not referencable in their own select
    list, so the expression layer wraps)."""
    norm = _validate(pattern)
    run = _validate_running(running)
    mex = _validate_measure_exprs(
        measure_exprs, [alias for _, _, alias in run]
    )
    inner = compile_sql(pattern, max_span_us, with_seq=True)
    cases = []
    acc_terms: list[str] = []
    for i in range(len(norm)):
        acc_terms.append(f"n_stage{i}")
        cases.append(
            f"WHEN e.seq - mm.start_seq < {' + '.join(acc_terms)} THEN {i}"
        )
    case_sql = "CASE " + " ".join(cases) + " END"
    rcols = sorted({c for _, c, _ in run})
    m_sql = "".join(
        f",\n         CAST(FLOOR({c} * 100 + 0.5) AS BIGINT) AS _m_{c}"
        for c in rcols
    )
    run_sql = "".join(
        f",\n       CAST({agg.upper()}(e._m_{c}) OVER ("
        f"PARTITION BY mm.user_id, mm.match_no ORDER BY e.seq "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        f" AS {alias}"
        for agg, c, alias in run
    )
    mex_sel = "".join(
        f", CAST({txt} AS BIGINT) AS {a}" for a, txt in mex
    )
    base = f"""
WITH m AS (
  SELECT * FROM (
{inner}
  )
),
mm AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY user_id ORDER BY start_seq, end_seq) AS BIGINT) AS match_no
  FROM m
),
ev2 AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq{m_sql}
  FROM events
)
SELECT mm.user_id, mm.match_no, CAST(e.seq AS BIGINT) AS seq,
       e.event_id, e.event_type, e.t_us,
       CAST({case_sql} AS INT) AS classifier{run_sql}
FROM mm JOIN ev2 e
  ON e.user_id = mm.user_id AND e.seq BETWEEN mm.start_seq AND mm.end_seq
"""
    if not mex:
        return base
    return f"SELECT *{mex_sel} FROM (\n{base}\n)"
