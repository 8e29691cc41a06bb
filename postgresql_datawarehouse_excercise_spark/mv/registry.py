"""Materialized-view registry.

Spark has no MV object (SURVEY.md 7.3 D6): an MV here is a named builder
function ``(tables, dep) -> DataFrame`` whose result is persisted as a
parquet table under a warehouse directory, plus metadata the aggregate
navigator uses for rewrites:

  * ``grain``    -- the grouping attribute set of the view (unified attribute
                    namespace, see navigator.FDS);
  * ``measures`` -- additive measure columns and their agg kind;
  * ``deps``     -- upstream MV names (build order = topological);
  * ``stats``    -- row count captured at build time (cost model input).

Re-expresses /root/reference/assignment-5.sql's CREATE MATERIALIZED VIEW
stack (sql:70-80, 128-175, 191-263, 300-321, 401-409, 534-576):
``build_all`` is the ETL pipeline; ``refresh(name)`` mirrors REFRESH
MATERIALIZED VIEW; dropping happens in reverse dependency order (the CASCADE
analog, sql:17-27).

Storage: each MV is a ManagedParquetTable (operators/mutations.py) rooted
at ``<warehouse>/<name>``.  A build or refresh writes a new immutable
``v=N`` snapshot with the parallelism of its defining query and publishes
it with one pointer flip, so a reader holding the previous snapshot keeps
reading it and no moment exists at which the MV is unreadable.  Fact-grain
MVs are written partitioned by a time column when declared
(`partition_by`), which at 100 TB gives readers partition pruning on the
period filters the reference's Q5 issues.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType, StructType

from .. import catalog
from ..operators.mutations import ManagedParquetTable, _link_tree


Dep = Callable[[str], DataFrame]  # MV name -> its rows; see MVDef.builder


@dataclass
class MVDef:
    name: str
    # (tables, dep) -> rows.  Upstream MVs are read through dep(name), as
    # the reference defines its derived MVs FROM materialized MVs
    # (assignment-5.sql:221-263, 401-409); MVRegistry._dep decides whether
    # dep serves the persisted parquet or the dep's builder over lineage.
    builder: Callable[[catalog.Tables, Dep], DataFrame]
    grain: frozenset[str]
    measures: dict[str, str]  # column -> 'sum' | 'count' | 'max' | 'min' | 'avg4'
    # ('max'/'min' columns follow the <measure>__<kind> naming convention so
    # the navigator can find the extrema column for a measure -- enforced in
    # MVRegistry.register)
    deps: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()
    doc: str = ""
    # catalog cache slot this MV backs: once built, downstream builders read
    # the persisted parquet instead of recomputing the defining lineage.
    cache_key: str | None = None
    # content-identical twin: when set and that MV is already built, this
    # MV's build runs its builder (for validation side effects) but then
    # commits a snapshot that HARDLINKS the files of the twin's current
    # snapshot instead of rewriting the same bytes (INSERT INTO t SELECT *
    # FROM mv with matching formats == a link-share copy; snapshot files
    # are never mutated, and a link outlives the twin's vacuum).  The
    # declarer asserts the builder's output equals the twin's content.
    link_from: str | None = None
    # expression-valued measures: SQL text of a line-grain expression (over
    # the sales_lines star view) -> the 'sum'-kind column of THIS view that
    # holds its per-grain partial sums.  SEMANTIC CONTRACT on the declarer:
    # the column must equal SUM(<expr>) grouped to the view's grain exactly
    # (exact decimal arithmetic).  The SQL rewriter canonicalizes both the
    # declared text and the query's measure through the same analyzer, so
    # SUM(quantity*price)-shaped texts re-aggregate from the view.
    measure_exprs: dict[str, str] = field(default_factory=dict)


def base_fingerprint(sf_dir: str) -> tuple:
    """Content fingerprint of the BASE tables under sf_dir: every parquet
    file's (relative path, size, mtime_ns), sorted.  Pure os.stat metadata —
    NO Spark job, no file reads — so the rewriter can check it on the hot
    path (pinned by tests/test_sql_rewrite.py).  Parquet files are
    immutable-by-convention (every writer here replaces files, never
    appends in place), so path+size+mtime_ns changes iff the table's
    content snapshot changed."""
    out = []
    for entry in sorted(os.listdir(sf_dir)):
        if not entry.endswith(".parquet"):
            continue
        p = os.path.join(sf_dir, entry)
        if os.path.isfile(p):
            st = os.stat(p)
            out.append((entry, st.st_size, st.st_mtime_ns))
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out.append((os.path.relpath(fp, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


@dataclass
class MVRegistry:
    warehouse: str
    defs: dict[str, MVDef] = field(default_factory=dict)
    stats: dict[str, int] = field(default_factory=dict)
    # base-table fingerprint captured when each MV was last built/refreshed:
    # the staleness signal the SQL rewriter checks before answering from a
    # materialization (a base mutation after the build must NOT be silently
    # ignored -- the reference sidesteps this by rebuilding MVs in-script,
    # assignment-5.sql:17-27, but RewritingSession users get transparent
    # answers and deserve a freshness guarantee)
    versions: dict[str, tuple] = field(default_factory=dict)
    # schema of each MV's committed rows: read() declares it, so no job
    # reads a parquet footer to infer it
    schemas: dict[str, StructType] = field(default_factory=dict)
    # magnitude bound of each sum and count measure of the committed
    # snapshot (see _bound_aggs), observed on its write job
    bounds: dict[str, dict | None] = field(default_factory=dict)
    # session that _analyze registered catalog tables into: drop_all uses it
    # so bare drop_all() cannot leak dead external-table entries pointing at
    # deleted temp dirs (field excluded from equality/repr by being mutable
    # state, not identity)
    _analyze_spark: SparkSession | None = field(
        default=None, repr=False, compare=False
    )
    # names whose catalog table currently carries fresh computed statistics;
    # cleared on rebuild so a stats-read after a refresh re-scans
    _analyzed: set = field(default_factory=set, repr=False, compare=False)
    _analyze_lock: object = field(
        default_factory=__import__("threading").Lock, repr=False, compare=False
    )

    def register(self, mv: MVDef) -> MVDef:
        for col, kind in mv.measures.items():
            if kind in ("max", "min") and not col.endswith(f"__{kind}"):
                raise ValueError(
                    f"{mv.name}: extrema measure column '{col}' must follow "
                    f"the <measure>__{kind} naming convention (the navigator "
                    "derives the column name from the measure)"
                )
        self.defs[mv.name] = mv
        return mv

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _table(self, spark: SparkSession | None, name: str) -> ManagedParquetTable:
        """The MV's versioned table (the pointer alone needs no session)."""
        return ManagedParquetTable(
            spark, self.path(name), partition_by=self.defs[name].partition_by
        )

    def table_name(self, name: str) -> str:
        """Session-catalog table over this MV's parquet (unique per
        warehouse dir, so concurrent registries never collide)."""
        import hashlib

        tag = hashlib.md5(self.warehouse.encode()).hexdigest()[:8]
        return f"pdwx_mv_{tag}_{name}"

    def _analyze(self, spark: SparkSession, name: str, schema: StructType) -> None:
        """The VACUUM ANALYZE analog (SURVEY A9), commit-time half: point
        an external table at the freshly committed snapshot and mark its
        statistics stale.  Two catalog calls and no job: the table is
        declared with the committed rows' schema, so no job reads a parquet
        footer to infer it.  The COMPUTE STATISTICS scan itself is
        DEFERRED to the first stats-read
        (table()) -- the same decoupling Postgres gets from autovacuum's
        asynchronous ANALYZE, and it takes ~4.5 s of pure stats scans off
        the 15-write build critical path (VERDICT r9 #8) while every
        stats-consuming read still sees fully computed statistics.
        Only NAVIGATION TARGETS (MVs declaring measures) are registered:
        the optimizer only ever reads rewrite sources through the catalog,
        and stats on report-style scalars are a scan for nothing.
        Partitioned MVs are skipped (none of the reference stack is; the
        path-based read stays authoritative for those)."""
        mv = self.defs[name]
        if mv.partition_by or not mv.measures:
            return
        tbl = self.table_name(name)
        loc = os.path.abspath(self._table(spark, name).data_path)
        self._analyze_spark = spark
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.catalog.createTable(tbl, path=loc, source="parquet", schema=schema)
        self._analyzed.discard(name)

    def _ensure_stats(self, spark: SparkSession, name: str) -> None:
        """Run the deferred COMPUTE STATISTICS scan once per build: table +
        grain-column stats feed the CBO (filter selectivity from column
        min/max/ndv, join reordering from row counts)."""
        if name in self._analyzed:
            return
        with self._analyze_lock:
            if name in self._analyzed:
                return
            mv = self.defs[name]
            tbl = self.table_name(name)
            if mv.grain:
                spark.sql(
                    f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS "
                    + ", ".join(sorted(mv.grain))
                )
            else:
                spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
            self._analyzed.add(name)

    def table(self, spark: SparkSession, name: str) -> DataFrame:
        """Read through the analyzed catalog table: plans carry the computed
        statistics (read() stays the stats-free path-based twin).  Runs the
        deferred ANALYZE scan on first read after a build."""
        self._ensure_stats(spark, name)
        return spark.table(self.table_name(name))

    def is_built(self, name: str) -> bool:
        return self._table(None, name).exists()

    def topo_order(self) -> list[str]:
        order: list[str] = []
        seen: set[str] = set()

        def visit(n: str) -> None:
            if n in seen:
                return
            seen.add(n)
            for d in self.defs[n].deps:
                visit(d)
            order.append(n)

        for n in self.defs:
            visit(n)
        return order

    def is_fresh(self, sf_dir: str, name: str) -> bool:
        """True iff this MV was built/refreshed by THIS registry from the
        base tables exactly as they are on disk now.  os.stat-only (no
        Spark job); an MV with no recorded version (never built here) is
        never fresh -- the rewriter then executes directly, which is
        always correct, just unaccelerated."""
        fp = self.versions.get(name)
        return fp is not None and fp == base_fingerprint(sf_dir)

    def _dep(
        self, spark: SparkSession, sf_dir: str, tables: catalog.Tables, persisted: bool
    ) -> Dep:
        """The lazy ``dep`` handed to builders: with ``persisted``, a built
        and fresh dep is its parquet (which keeps re-derived base joins off
        build_all's critical path); otherwise it is the dep's own builder
        over ``tables``, resolving its deps the same way."""

        def dep(name: str) -> DataFrame:
            if persisted and self.is_built(name) and self.is_fresh(sf_dir, name):
                return self.read(spark, name)
            return self.defs[name].builder(tables, dep)

        return dep

    def build(self, spark: SparkSession, sf_dir: str, name: str) -> None:
        """Build one MV; its deps resolve through _dep(persisted=True)."""
        mv = self.defs[name]
        # capture the base snapshot BEFORE reading it: if a mutation lands
        # while the build runs, the recorded version mismatches the new
        # files and the MV correctly reads as stale
        fp = base_fingerprint(sf_dir)
        if mv.cache_key:
            # an MV must not be (re)built from its own persisted output:
            # evict so the builder recomputes from base lineage
            catalog.load(spark, sf_dir)._cache.pop(mv.cache_key, None)
        tables = catalog.load(spark, sf_dir)
        df = mv.builder(tables, self._dep(spark, sf_dir, tables, persisted=True))
        # a built twin shares its files: the builder ran for its validations
        share = bool(mv.link_from) and self.is_built(mv.link_from)
        self._commit(spark, sf_dir, name, df, share)
        self._stamp_version(sf_dir, name, fp)

    def _commit(
        self, spark: SparkSession, sf_dir: str, name: str, df: DataFrame,
        share: bool = False,
    ) -> None:
        """Commit the MV's next snapshot through its ManagedParquetTable:
        df's rows, their count and measure bounds observed on the write job
        itself (one job, no read-back), or with ``share`` a hardlink share
        of the link twin's current snapshot, which takes the twin's count
        and bounds.  Then re-point the catalog table and the catalog
        cache slot at the new snapshot.  A reader of the previous snapshot
        keeps reading it (the table retains one snapshot back)."""
        mv = self.defs[name]
        table = self._table(spark, name)
        if share:
            build = table._new_dir("build")
            _link_tree(self._table(spark, mv.link_from).data_path, build)
            table._commit(build)
            self.stats[name] = self.stats.get(mv.link_from, 1 << 62)
            self.bounds[name] = self.bounds.get(mv.link_from)
        else:
            obs = Observation()
            table._commit_rows(df.observe(
                obs, F.count(F.lit(1)).alias("__rows"), *self._bound_aggs(name, df.schema)
            ))
            self.bounds[name] = obs.get
            self.stats[name] = self.bounds[name].pop("__rows")
        self.schemas[name] = df.schema
        self._analyze(spark, name, df.schema)
        if mv.cache_key:
            catalog.load(spark, sf_dir)._cache[mv.cache_key] = self.read(spark, name)

    def _bound_aggs(self, name: str, schema: StructType) -> list[Column]:
        """Magnitude bounds of the MV's measures, under each measure's own
        name: ``try_sum`` of |m| cast to decimal(38,0) for a decimal sum
        measure and of m for the count measure (NULL when the sum
        overflows, never an error).  A bound over the whole MV also bounds
        any filtered subset of it, and any re-aggregation of such a
        subset: the SQL rewriter's AVG headroom guard reads them."""
        out = []
        for col, kind in self.defs[name].measures.items():
            if kind == "count":
                out.append(F.try_sum(col).alias(col))
            elif kind == "sum" and isinstance(schema[col].dataType, DecimalType):
                out.append(F.try_sum(F.abs(F.col(col)).cast("decimal(38,0)")).alias(col))
        return out

    def _stamp_version(self, sf_dir: str, name: str, fp: tuple) -> None:
        """Record the built-from snapshot ONLY when every dependency is
        itself fresh.  A build reads its upstream MVs' parquet/cache, not
        base lineage — so rebuilding view2 after a base mutation (without
        rebuilding view1) produces pre-mutation aggregates; stamping the
        NEW base fingerprint there would make is_fresh lie and the rewriter
        serve silently-stale answers (the exact hole the staleness gate
        exists to close).  Stale-dep builds stay unstamped: correct data
        flow resumes only through a dependency-ordered rebuild (build_all /
        refresh of the stale root), after which the stamp lands."""
        mv = self.defs[name]
        if all(self.versions.get(d) == fp for d in mv.deps):
            self.versions[name] = fp
        else:
            self.versions.pop(name, None)

    def _persist_shared_slot(self, spark: SparkSession, sf_dir: str, name: str) -> "DataFrame | None":
        """After an MV with a catalog cache slot builds, Spark-persist its
        slot so the fan-out of dependent builds reuses the cached blocks
        instead of re-scanning the freshly-written parquet once per
        dependent (the sales fact feeds ~10 of the 15 builds).  Default
        MEMORY_AND_DISK: at 100 TB the blocks spill, which is still a
        strictly better read than N repeated remote scans."""
        mv = self.defs[name]
        if not mv.cache_key:
            return None
        tables = catalog.load(spark, sf_dir)
        df = tables._cache.get(mv.cache_key)
        if df is None:
            return None
        persisted = df.persist()
        tables._cache[mv.cache_key] = persisted
        return persisted

    def build_all(self, spark: SparkSession, sf_dir: str) -> None:
        """Build every MV. Independent builds run concurrently from a thread
        pool (the Spark scheduler interleaves their jobs across cores;
        sequential small writes would otherwise pay one fixed job latency
        each -- measured ~13 s of the 24 s sf0.1 build).

        Scheduling is dependency-driven, not level-synchronized: an MV is
        submitted the moment its deps finish, so a slow sibling in an
        earlier "level" does not gate unrelated MVs (the level-barrier
        version lost ~2 s of the 14 s critical path at sf0.1).

        Shared inputs (MVs with a catalog cache slot: time, sales) are
        Spark-persisted for the duration of the build and unpersisted at the
        end, so dependent builds read cached blocks, not parquet, and later
        callers see the ordinary parquet-backed lineage again."""
        persisted: list[DataFrame] = []
        try:
            from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

            done: set[str] = set()
            pending = set(self.defs)
            running: dict = {}
            with ThreadPoolExecutor(max_workers=min(12, len(self.defs) or 1)) as pool:
                while pending or running:
                    ready = [
                        n for n in pending
                        if all(d in done for d in self.defs[n].deps)
                    ]
                    for n in ready:
                        pending.discard(n)
                        running[pool.submit(self.build, spark, sf_dir, n)] = n
                    finished, _ = wait(set(running), return_when=FIRST_COMPLETED)
                    for f in finished:
                        f.result()
                        n = running.pop(f)
                        done.add(n)
                        p = self._persist_shared_slot(spark, sf_dir, n)
                        if p is not None:
                            persisted.append(p)
        finally:
            # restore parquet-backed slots: later readers (and rebuild-from-
            # base correctness) must not pin build-time cached blocks
            for df in persisted:
                df.unpersist()

    def refresh_incremental(
        self, spark: SparkSession, sf_dir: str, name: str, delta: catalog.Tables
    ) -> None:
        """Maintain an MV from a DELTA of the base data instead of a full
        rebuild -- the REFRESH MATERIALIZED VIEW analog a 100 TB warehouse
        actually runs (rebuilding a petabyte fact for a day of new orders is
        the anti-pattern).

        ``delta`` is a catalog.Tables whose fact tables (orders, lineitem)
        hold only the NEW batch; dimension tables stay full.  Two cases:

          * the ``time`` dimension: append-only SERIAL extension
            (etl/time_dim.extend_time_dim) -- new dates continue the id
            sequence, existing ids never move;
          * re-aggregable MVs (measures 'sum'/'count'/'max'/'min'; each
            merges with its own kind's combiner): the MV builder runs
            on the delta Tables (producing the delta at the MV's own grain
            -- Tables.sales() composes automatically: delta facts x full
            dims x the UPDATED time dimension), then old + delta re-
            aggregate on the grain columns.  Cost: |delta| joined + |MV|
            rewritten; the full-history fact tables are never rescanned.

        A not-yet-built MV bootstraps from the delta alone (existing state =
        empty), so a micro-batch stream can create and then maintain the MV
        with ONE code path (streaming/mv_maintenance.py drives exactly this
        from foreachBatch).

        Raises ValueError for MVs that are not incrementally maintainable
        (avg-bearing or report-style definitions -- rebuild those)."""
        mv = self.defs[name]
        if name == "time":
            from ..etl.time_dim import empty_time_dim, extend_time_dim

            existing_t = (
                self.read(spark, name) if self.is_built(name) else empty_time_dim(spark)
            )
            merged = extend_time_dim(existing_t, delta.orders)
        else:
            if not mv.measures or set(mv.measures.values()) - {
                "sum", "count", "max", "min"
            }:
                raise ValueError(
                    f"{name} is not incrementally maintainable "
                    f"(measures: {mv.measures or 'none'}); use refresh()"
                )
            # the time dimension must reflect the delta's dates BEFORE the
            # delta fact rows join it; extending twice with the same batch
            # is a no-op (the anti join drops already-present dates)
            closure: set[str] = set()

            def _deps(n: str) -> None:
                for d in self.defs[n].deps:
                    if d not in closure:
                        closure.add(d)
                        _deps(d)

            _deps(name)
            if "time" in closure:
                self.refresh_incremental(spark, sf_dir, "time", delta)
                # time has a new snapshot: evict any derived memo in the
                # delta Tables whose lineage pins the OLD one (e.g. a sales
                # DF memoized by a previous refresh call)
                delta._cache.pop("sales", None)
                delta._cache[self.defs["time"].cache_key] = self.read(spark, "time")
            # deps resolve to lineage over the delta, never to the
            # persisted full-history MV (that would re-add old rows)
            delta_rows = mv.builder(
                delta, self._dep(spark, sf_dir, delta, persisted=False)
            )
            if self.is_built(name):
                existing = self.read(spark, name)
                keys = [c for c in existing.columns if c not in mv.measures]
                merged = (
                    existing.unionByName(delta_rows.select(*existing.columns))
                    .groupBy(*keys)
                    .agg(
                        *[
                            # sum-of-sums / sum-of-counts / max-of-max /
                            # min-of-min: each kind re-aggregates with its
                            # own combiner
                            {"max": F.max, "min": F.min}.get(k, F.sum)(m).alias(m)
                            for m, k in mv.measures.items()
                        ]
                    )
                )
                # re-aggregation widens decimals; pin the declared schema
                merged = merged.select(
                    *[
                        F.col(c).cast(existing.schema[c].dataType).alias(c)
                        for c in existing.columns
                    ]
                )
            else:
                merged = delta_rows  # bootstrap: delta IS the initial state
        # merged reads the current snapshot lazily while the write builds
        # the next one: the commit never touches the files it reads
        self._commit(spark, sf_dir, name, merged)
        # NO freshness stamp: the merged MV now contains delta rows passed
        # in-memory (e.g. a foreachBatch micro-batch) that are NOT in the
        # base parquet, so a rewrite onto it would return rows a direct
        # execution of the same SQL cannot see — transparency would break
        # in the opposite direction from staleness.  Incrementally
        # maintained MVs stay direct-read (reg.read / the maintenance
        # pipeline's own consumers) and decline SQL rewrites until the next
        # full build records a consistent base snapshot.
        self.versions.pop(name, None)

    def refresh(self, spark: SparkSession, sf_dir: str, name: str) -> None:
        """REFRESH MATERIALIZED VIEW analog: rebuild this MV and everything
        downstream of it, in dependency order."""
        affected = {name}
        for n in self.topo_order():
            if any(d in affected for d in self.defs[n].deps):
                affected.add(n)
        for n in self.topo_order():
            if n in affected:
                self.build(spark, sf_dir, n)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The MV's current snapshot (stats-free, path-based), declared with
        the schema its commit recorded; an MV this registry did not commit
        infers it from the files."""
        table = self._table(spark, name)
        schema = self.schemas.get(name)
        if schema is None:
            return table.read()
        return spark.read.schema(schema).parquet(table.data_path)

    def drop_all(self, spark: SparkSession | None = None) -> None:
        """DROP ... CASCADE analog: remove in reverse dependency order plus
        the analyzed catalog tables over the deleted paths (the session
        _analyze used is remembered, so a bare drop_all() cleans them too
        instead of leaking dead external-table entries; table names are
        warehouse-hashed, so a leftover entry in a temp session can never
        collide with a new registry)."""
        sess = spark if spark is not None else self._analyze_spark
        for name in reversed(self.topo_order()):
            if sess is not None:
                try:
                    sess.sql(f"DROP TABLE IF EXISTS {self.table_name(name)}")
                except Exception:
                    # a stopped session cannot DROP, but its in-memory
                    # catalog died with it -- never abort the file cleanup
                    sess = None
            shutil.rmtree(self.path(name), ignore_errors=True)
        self.stats.clear()
        self.versions.clear()
        self.schemas.clear()
        self.bounds.clear()
        # evict any catalog cache slots now pointing at deleted files
        keys = {mv.cache_key for mv in self.defs.values() if mv.cache_key}
        for tables in catalog._TABLES_CACHE.values():
            for k in keys:
                tables._cache.pop(k, None)

    def rowcount(self, name: str) -> int:
        return self.stats.get(name, 1 << 62)
