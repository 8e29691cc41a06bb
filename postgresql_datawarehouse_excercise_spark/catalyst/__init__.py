"""Compiled JVM Catalyst extension (SURVEY section 4 option b).

`MvSubstituteRule.java` is a real `org.apache.spark.sql.catalyst.rules.Rule`
over LogicalPlan -- the PRODUCTION shape of materialized-view rewriting
that the pure-Python RewritingSession (mv/sql_rewrite.py) mirrors at the
query-text layer.  The sandbox has no Scala toolchain, but Catalyst's rule
API is JVM API: the rule is written in Java, compiled at first use with the
JDK's javac against the installed PySpark jars, loaded into the live
driver JVM through a child URLClassLoader (parent-delegating, so it links
against the session's own Spark classes), and installed through
`spark.experimental.extraOptimizations` -- Spark's documented hook for
user-provided optimizer rules on a LIVE session (extensions configured via
`spark.sql.extensions` bind at session construction, which the driver owns).

Matching is Catalyst's own `sameResult` (the CacheManager mechanism), so:

* DIRECT substitution: a user subtree semantically equal to an MV's
  defining query is replaced by the MV scan plus an ExprId-preserving
  Project;
* aggregate NAVIGATION falls out for free: a coarser roll-up optimizes to
  Aggregate(keys) over exactly the defining subtree, the subtree swaps,
  and Catalyst's own outer Aggregate re-aggregates the MV -- the View2
  decision the reference's methodology makes by hand (SURVEY section 2-J).

Column pruning caveat: optimizer rules see OPTIMIZED plans, where an
embedded defining subtree carries only the columns the outer query needs
-- `register_mv` therefore registers the optimized plans of every ordered
column-subset projection of the defining query (2^n - 1 for an n-column
MV; MVs here are <= 4 columns wide).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import subprocess

from pyspark.sql import DataFrame, SparkSession

from .. import session

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "MvSubstituteRule.java")

# one compile per (source mtime) and process -- the javac output directory
_CLASSES: dict[tuple, str] = {}


def _spark_jars_classpath() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def build_classes() -> str:
    """Compile MvSubstituteRule.java with the JDK's javac against the
    installed PySpark jars; returns the classes directory.  Memoized per
    source fingerprint and process."""
    st = os.stat(_SRC)
    key = (st.st_mtime_ns, st.st_size)
    cached = _CLASSES.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    javac = shutil.which("javac") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "javac"
    )
    if not javac or not os.path.exists(javac):
        raise RuntimeError(
            "no javac on PATH or under JAVA_HOME: the compiled Catalyst "
            "rule needs a JDK (the pure-Python RewritingSession in "
            "mv/sql_rewrite.py covers the same semantics without one)"
        )
    out = session.scratch("pdwx-catalyst-")
    proc = subprocess.run(
        [javac, "-cp", _spark_jars_classpath(), "-d", out, _SRC],
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"javac failed compiling MvSubstituteRule.java:\n{proc.stderr}"
        )
    if not glob.glob(os.path.join(out, "pdwx", "*.class")):
        raise RuntimeError("javac produced no classes")
    _CLASSES[key] = out
    return out


# ONE Class object per process: py4j's reflection engine caches resolved
# Methods per class, so every rule instance must come from the SAME
# classloader -- a second loader's pdwx.MvSubstituteRule is a different
# Class and reflective calls throw "object is not an instance of
# declaring class"
_RULE_CLASS: dict[str, object] = {}


def load_rule(spark: SparkSession):
    """Instantiate pdwx.MvSubstituteRule inside the live driver JVM (child
    URLClassLoader over the compiled classes, parent = the context loader
    so Spark's own classes resolve to the session's).  The loaded Class is
    memoized per classes dir and process."""
    classes = build_classes()
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = _RULE_CLASS.get(classes)
    if cls is None:
        urls = gw.new_array(jvm.java.net.URL, 1)
        urls[0] = jvm.java.io.File(classes).toURI().toURL()
        loader = jvm.java.net.URLClassLoader(
            urls, jvm.java.lang.Thread.currentThread().getContextClassLoader()
        )
        cls = loader.loadClass("pdwx.MvSubstituteRule")
        _RULE_CLASS[classes] = cls
    ctor = cls.getDeclaredConstructor(gw.new_array(jvm.java.lang.Class, 0))
    return ctor.newInstance(gw.new_array(jvm.java.lang.Object, 0))


def _optimized(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan()


def register_mv(rule, defining: DataFrame, replacement: DataFrame) -> int:
    """Register every ordered column-subset projection of (defining ->
    replacement); returns how many plan pairs were registered.  Subsets
    are needed because the optimizer prunes an embedded defining subtree
    to the columns the outer query reads (module docstring)."""
    import itertools

    cols = defining.columns
    if len(cols) > 6:
        raise ValueError(f"MV too wide for subset registration: {cols}")
    n = 0
    for r in range(1, len(cols) + 1):
        for sub in itertools.combinations(cols, r):
            rule.register(
                _optimized(defining.select(*sub)),
                _optimized(replacement.select(*sub)),
            )
            n += 1
    return n


def register_fd_rollup(
    rule,
    defining_coarse: DataFrame,
    mv_scan: DataFrame,
    bridge_scan: DataFrame,
    fine_key: str,
    coarse_key: str,
    rollup,
) -> int:
    """Register the FD-HIERARCHY rollup pair (the reference's Q4b View3
    rescue -- assignment-5.md:822-825, assignment-5.sql:465-469 -- at the
    compiled-rule layer): a query grouping by `coarse_key` can be
    answered from an MV grouped by `fine_key` when a functional
    dependency fine -> coarse holds, by joining the MV to a (fine,
    coarse) BRIDGE and re-aggregating.

    Division of labor: the FD reasoning happens HERE, at registration
    time -- the bridge is verified functional (every fine value maps to
    exactly one coarse value; an unverified bridge join would duplicate
    MV rows and silently double-count), and the bridged replacement plan
    is derived -- while plan-time matching stays Catalyst-native
    `sameResult` against `defining_coarse` (the coarse rollup STATED
    OVER THE BASE TABLES).  A general plan-level FD matcher would be
    containment matching (Calcite-grade plan analysis); deriving the
    (defining, replacement) pair per declared FD gets the reference's
    decision with zero bespoke equality code, the same registration
    discipline the column-subset contract uses.

    `rollup` builds the coarse re-aggregate from the bridged MV scan
    (the caller owns measure semantics -- e.g. the exact-decimal re-sum
    that makes two-level aggregation bit-equal to one-level).  Returns
    the number of registered plan pairs."""
    from pyspark.sql import functions as F

    # The safety check must reject DUPLICATE (fine, coarse) rows as well
    # as one-to-many mappings (ADVICE r15): a bridge with a repeated pair
    # passes a countDistinct(coarse) test yet still duplicates MV rows in
    # the join and double-counts.  count(*) > 1 per fine key rejects both
    # failure modes at once.
    n_bad = (
        bridge_scan.groupBy(fine_key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if n_bad:
        raise ValueError(
            f"bridge is not functional: some {fine_key!r} value appears "
            f"on more than one bridge row (a one-to-many mapping OR a "
            f"duplicated (fine, coarse) pair); the FD rollup "
            "registration would double-count"
        )
    # Coverage: a bridge missing fine keys present in the MV silently
    # UNDERCOUNTS through the inner join -- rejected here so the
    # registered pair can never drop measure rows.
    n_missing = (
        mv_scan.select(fine_key)
        .join(bridge_scan.select(fine_key), fine_key, "left_anti")
        .limit(1)
        .count()
    )
    if n_missing:
        raise ValueError(
            f"bridge does not cover the MV: some {fine_key!r} value in "
            "the MV has no bridge row; the inner join would drop its "
            "measures and the FD rollup would undercount"
        )
    replacement = rollup(mv_scan.join(F.broadcast(bridge_scan), fine_key))
    return register_mv(rule, defining_coarse, replacement)


@contextlib.contextmanager
def installed(spark: SparkSession, rule):
    """Install `rule` into this session's experimental.extraOptimizations
    for the duration of the block, restoring the previous rule set on
    exit -- the session is never left mutated (entries run against the
    driver's session family)."""
    em = spark._jsparkSession.experimental()
    prev = em.extraOptimizations()
    set_opts = getattr(em, "extraOptimizations_$eq")
    set_opts(spark._jvm.PythonUtils.toSeq([rule]))
    try:
        yield rule
    finally:
        set_opts(prev)
