"""Physical-plan inspection and assertion harness.

The reference's methodology is EXPLAIN ANALYZE driven (SURVEY.md §2-A8, §6);
Spark SQL has no per-node actual-time EXPLAIN, so this module provides the
analog used by the bench harness and by plan-shape tests: formatted-plan
capture plus structural assertions (broadcast vs shuffle join, exchange
count, parquet filter pushdown, column pruning, codegen coverage).

These assertions are how "would this plan survive a 100x scale-up?" is kept
true by construction: tests pin that dimension joins stay broadcast, scans
prune to the referenced columns, and per-row operators stay shuffle-free.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `explain("formatted")` text as a string (AQE initial plan)."""
    qe = df._jdf.queryExecution()
    return qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _count_nodes(df: DataFrame, operator: str) -> int:
    """Count physical nodes by their detail-section header `(N) Operator`
    (each node appears twice in a formatted plan: tree + details)."""
    return len(re.findall(rf"^\(\d+\) {operator}", formatted_plan(df), re.MULTILINE))


def num_shuffles(df: DataFrame) -> int:
    return _count_nodes(df, "Exchange")


def num_data_shuffles(df: DataFrame) -> int:
    """Exchanges minus explicit spread()/repartition fan-outs: the shuffles
    the query's own keys force (join/agg/window), which is what the 100 TB
    scale pins care about.  A REPARTITION_BY_NUM exchange only exists when a
    local scan is unsplittably small (operators/dedup.spread)."""
    plan = formatted_plan(df)
    return _count_nodes(df, "Exchange") - len(
        re.findall(r"REPARTITION_BY_NUM", plan)
    )


def num_broadcast_joins(df: DataFrame) -> int:
    return _count_nodes(df, "BroadcastHashJoin")


def num_sortmerge_joins(df: DataFrame) -> int:
    return _count_nodes(df, "SortMergeJoin")


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists from parquet scans in the plan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct strings from parquet scans (column-pruning view)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))


def codegen_spans(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans (formatted plans mark
    nodes with `[codegen id : N]`; wider spans = fewer interpreter gaps)."""
    return len(set(re.findall(r"codegen id : (\d+)", formatted_plan(df))))


_INTERESTING_METRICS = ("numoutputrows", "time", "datasize", "spill", "numfiles", "peakmemory")


def _walk_executed(node, depth: int, out: list[tuple[int, str, dict[str, int]]]) -> None:
    name = str(node.nodeName())
    metrics: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        key = str(kv._1())
        if any(tok in key.lower() for tok in _INTERESTING_METRICS):
            metrics[key] = int(kv._2().value())
    out.append((depth, name, metrics))
    # adaptive / staged nodes hide their subtree outside children()
    for accessor in ("executedPlan", "plan", "child"):
        if name in ("AdaptiveSparkPlan", "ShuffleQueryStage", "BroadcastQueryStage", "ResultQueryStage"):
            try:
                _walk_executed(getattr(node, accessor)(), depth + 1, out)
                return
            except Exception:
                continue
    s = node.children()
    for i in range(s.size()):
        _walk_executed(s.apply(i), depth + 1, out)


def _executed_rows(df: DataFrame) -> list[tuple[int, str, dict[str, int]]]:
    """Execute the DataFrame's OWN plan (toRdd count: full distributed
    execution, no rows to the driver -- a write would run a separate
    QueryExecution whose metrics stay zero) and walk the FINAL (post-AQE)
    executed tree.  The one shared execute-then-walk prelude for every
    actuals API below."""
    df._jdf.queryExecution().toRdd().count()
    rows: list[tuple[int, str, dict[str, int]]] = []
    _walk_executed(df._jdf.queryExecution().executedPlan(), 0, rows)
    return rows


def explain_analyze(df: DataFrame) -> str:
    """Per-node ACTUALS -- the reference's EXPLAIN ANALYZE methodology
    (assignment-5.md:481-522 reads loops/rows per node; SURVEY D9).  Spark
    has no EXPLAIN ANALYZE statement, but every executed physical node
    carries SQLMetrics; this renders the FINAL (post-AQE) tree with each
    node's actual output rows / timings / data sizes."""
    rows = _executed_rows(df)
    lines = []
    for depth, name, metrics in rows:
        rendered = ", ".join(f"{k}={v:,}" for k, v in sorted(metrics.items()))
        lines.append(f"{'  ' * depth}{name}" + (f"  [{rendered}]" if rendered else ""))
    return "\n".join(lines)


def final_node_names(df: DataFrame) -> list[str]:
    """Node names of the FINAL (post-AQE) executed plan; runs the query.
    The initial plan can legitimately show a SortMergeJoin where static
    statistics are unknown (post-aggregate relations have no size estimate);
    what matters at runtime is the plan AQE actually executes."""
    return [name for _depth, name, _metrics in _executed_rows(df)]


def final_sortmerge_joins(df: DataFrame) -> int:
    return sum(1 for n in final_node_names(df) if "SortMergeJoin" in n)


def final_broadcast_joins(df: DataFrame) -> int:
    return sum(1 for n in final_node_names(df) if "BroadcastHashJoin" in n)


def actual_output_rows(df: DataFrame, node_name: str) -> list[int]:
    """numOutputRows actuals for every executed node named node_name
    (assert-able analog of the reference's rows=N per plan node)."""
    rows = _executed_rows(df)
    out = []
    for _depth, name, metrics in rows:
        if name == node_name:
            for k, v in metrics.items():
                if k.lower() == "number of output rows" or k.lower() == "numoutputrows":
                    out.append(v)
    return out


def _tree_depth(line: str) -> int:
    """Indentation depth of a node line in a logical-plan tree printout
    (children render under `+-` / `:- ` markers preceded by `: ` / `  `
    fill).  Root lines (no marker) are depth -1."""
    m = re.match(r"^([: ]*)[+:]-", line)
    return len(m.group(1)) if m else -1


def broadcast_hint_subtrees(df: DataFrame) -> list[str]:
    """The analyzed-logical-plan subtree under every EXPLICIT broadcast hint
    (`ResolvedHint ... BROADCAST`).  Explicit hints matter because AQE never
    demotes them: a hint pinned onto a fact-cardinality relation is a
    guaranteed executor OOM at 100x, regardless of runtime statistics."""
    text = str(df._jdf.queryExecution().analyzed().toString())
    lines = text.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "ResolvedHint" in line and "broadcast" in line.lower():
            d = _tree_depth(line)
            block = [line]
            for nxt in lines[i + 1:]:
                nd = _tree_depth(nxt)
                if 0 <= nd <= d:
                    break
                block.append(nxt)
            out.append("\n".join(block))
    return out


# Base relations whose row count scales linearly with SF.  In TPC-H terms
# that is NOT just orders/lineitem: customer (150k x SF), part (200k x SF),
# supplier (10k x SF) and the pipeline tables (events/documents/embeddings)
# all grow with the dataset -- only nation/region are constant.  At the
# 100 TB north star a "dimension" slice of customer is tens of GB, over
# Spark's broadcast hard limit, and an EXPLICIT hint is exactly the thing
# AQE never demotes.  Each relation is recognized by a key column unique to
# it (word-boundary anchored so ps_* never matches s_* etc.).
_FACT_RELATION = re.compile(
    r"Relation \[[^\]]*\b("
    r"[ol]_orderkey|c_custkey|p_partkey|ps_partkey|s_suppkey|"
    r"event_id|doc_id|vec_id"
    r")#"
)


_REDUCING_NODES = ("Aggregate", "GlobalLimit", "Deduplicate")


def fact_broadcast_hints(df: DataFrame) -> list[str]:
    """Explicit broadcast hints whose subtree reaches an orders/lineitem base
    relation with NO cardinality-reducing node (Aggregate / GlobalLimit /
    Deduplicate) between hint and scan -- i.e. a fact-sized relation
    statically pinned to broadcast.  A hint over an Aggregate of a fact
    (e.g. a 1-row max) or a Deduplicate projecting a low-cardinality key
    set (e.g. the time dimension's DISTINCT order dates) is fine: the
    broadcast side is the reduced output, not the fact."""
    offenders = []
    for sub in broadcast_hint_subtrees(df):
        entries = [( _tree_depth(l), l) for l in sub.splitlines()]
        for idx, (d, line) in enumerate(entries):
            if not _FACT_RELATION.search(line):
                continue
            cur, reduced = d, False
            for pd, pline in reversed(entries[:idx]):
                if pd < cur:  # ancestor chain within the hint subtree
                    cur = pd
                    if any(tok in pline for tok in _REDUCING_NODES):
                        reduced = True
                        break
            if not reduced:
                offenders.append(line.strip())
    return offenders


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    pushed = pushed_filters(df)
    assert any(fragment in p for p in pushed), (
        f"no parquet scan pushes filter containing {fragment!r}; pushed={pushed}"
    )


def assert_reads_only(df: DataFrame, table_marker: str, allowed_cols: set[str]) -> None:
    """Column pruning: every scanned schema that contains table_marker must
    read a subset of allowed_cols."""
    schemas = [s for s in read_schemas(df) if table_marker in s]
    assert schemas, f"no scan schema mentions {table_marker!r}"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= allowed_cols, f"scan reads {cols - allowed_cols} beyond {allowed_cols}"
