"""MV registry + aggregate-navigator tests: build the stack, check refresh
and drop, and verify the navigator reproduces the reference's rewrite
decisions (best buyers <- View2; top country <- View2/View3 via FD bridges)
with answers identical to base-table computation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark.mv.definitions import (
    default_navigator,
    default_registry,
)
from postgresql_datawarehouse_excercise_spark.mv.navigator import AggQuery
from postgresql_datawarehouse_excercise_spark.queries import load_all

REGISTRY_NAMES = {
    "time", "sales", "sales_table", "avg_amnt_view", "sum_customer_per_day",
    "avg_spending_by_customer_on_each_day", "best_buyers", "amount_per_order",
    "ord_avg_amnt", "no_of_ord", "amount_per_order_by_customer", "perc_of_ord",
    "view1", "view2", "view3", "customer_spending", "sum_per_day_per_city",
}


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    reg = default_registry(str(tmp_path_factory.mktemp("wh")))
    reg.build_all(spark, sf_dir)
    yield reg
    reg.drop_all()


def test_registry_covers_reference_mvs(built):
    assert set(built.defs) == REGISTRY_NAMES


def test_all_mvs_built_with_stats(built):
    for name in built.defs:
        assert built.is_built(name), name
        assert built.stats[name] >= 0


def test_read_runs_no_spark_job(built, spark):
    """reg.read declares the schema the registry recorded at commit, so
    reading a built MV starts no Spark job (inferring the schema from a
    parquet footer would start one per read), and the declared schema
    equals the inferred one, nullability included."""
    from postgresql_datawarehouse_excercise_spark.operators.mutations import (
        ManagedParquetTable,
    )

    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    frames = {name: built.read(spark, name) for name in built.defs}
    assert set(tracker.getJobIdsForGroup(None)) - jobs_before == set()
    for name, df in frames.items():
        inferred = ManagedParquetTable(spark, built.path(name)).read().schema
        assert df.schema == inferred, name


def test_dep_reading_builders_match_pure_builders(built, spark, sf_dir, tmp_path):
    """The dep contract of MVDef.builder, through the registry: every MV
    with deps (the reference's FROM-the-MV definitions,
    assignment-5.sql:165-170,221-263,401-409, and the base-derived ones)
    holds EXACTLY the same rows after build_all, where each dep is the
    persisted parquet, as after a lone build in an empty registry, where
    every dep resolves to its builder over lineage.  MVs with a catalog
    cache slot or a link twin are pinned elsewhere."""
    checked = 0
    for name, mv in built.defs.items():
        if not mv.deps or mv.cache_key or mv.link_from:
            continue
        lone = default_registry(str(tmp_path / f"lone-{name}"))
        try:
            lone.build(spark, sf_dir, name)
            assert not any(lone.is_built(d) for d in mv.deps), name
            got = sorted(map(tuple, built.read(spark, name).collect()))
            want = sorted(map(tuple, lone.read(spark, name).collect()))
        finally:
            lone.drop_all()
        assert got == want, name
        checked += 1
    assert checked >= 13


def test_analyze_populates_catalog_statistics(built, spark):
    """The VACUUM ANALYZE analog (SURVEY A9): after build_all every
    unpartitioned MV has a catalog table whose statistics carry the exact
    row count plus grain-column min/max/ndv -- the inputs Spark's CBO
    needs.  The scan is deferred off the build critical path (autovacuum
    style): the first stats-read through table() computes it, after which
    the catalog answers directly."""
    built.table(spark, "sales")  # first stats-read runs the deferred ANALYZE
    desc = spark.sql(
        f"DESCRIBE EXTENDED {built.table_name('sales')}"
    ).collect()
    stats_row = next(r for r in desc if r.col_name == "Statistics")
    assert f"{built.stats['sales']} rows" in stats_row.data_type
    col = {
        r.info_name: r.info_value
        for r in spark.sql(
            f"DESCRIBE EXTENDED {built.table_name('sales')} timeid"
        ).collect()
    }
    assert col["min"] != "NULL" and col["max"] != "NULL"
    assert int(col["distinct_count"]) > 0


def test_cbo_column_stats_improve_filtered_join_plan(built, spark):
    """Stats-sensitive plan improvement: a selective filter over the
    ANALYZEd sales table estimates from column min/max (rowCount ~ the
    true slice), so the join side fits a small broadcast threshold; the
    identical query through the stats-free path-based read keeps the whole
    file's size estimate and falls back to a shuffle join.  This is what
    CBO buys on a cold multi-join query at scale: the optimizer sees
    through the filter instead of assuming the full relation."""
    probe = built.read(spark, "sales").select("timeid", "amnt")
    with_stats = (
        built.table(spark, "sales").filter(F.col("timeid") <= 5).select("timeid")
    )
    without = (
        built.read(spark, "sales").filter(F.col("timeid") <= 5).select("timeid")
    )

    def est_bytes(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    s_est, p_est = est_bytes(with_stats), est_bytes(without)
    # the CBO estimate must see through the filter (the path-based one
    # keeps the whole relation's size)
    assert s_est * 4 <= p_est, (s_est, p_est)
    assert (
        with_stats._jdf.queryExecution().optimizedPlan().stats().rowCount().isDefined()
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # a threshold BETWEEN the two estimates: only the stats-informed
        # side qualifies for broadcast, whatever the test SF
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str((s_est + p_est) // 2)
        )
        from postgresql_datawarehouse_excercise_spark import plans

        assert plans.num_broadcast_joins(probe.join(with_stats, "timeid")) == 1
        assert plans.num_broadcast_joins(probe.join(without, "timeid")) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_view_stack_row_monotonicity(built):
    # view3 aggregates view1; view2 aggregates sales: coarser grain => fewer rows
    assert built.stats["view3"] <= built.stats["view1"]
    assert built.stats["view2"] <= built.stats["sales"]
    assert built.stats["sales"] <= built.stats["view1"]


def test_navigator_picks_view2_for_best_buyers(built):
    nav = default_navigator(built)
    q = AggQuery(group_cols=frozenset({"customerid", "name"}), measure="amnt")
    cand = nav.choose(q)
    assert cand is not None and cand.mv_name == "view2"


def test_navigator_top_country_uses_fd_bridge(built):
    nav = default_navigator(built)
    q = AggQuery(group_cols=frozenset({"country"}), measure="amnt")
    cands = nav.eligible(q)
    names = [c.mv_name for c in cands]
    # every additive view can answer via FDs; cheapest must be a real view,
    # not the fact table
    assert set(names) >= {"sales", "view1", "view2", "view3"}
    assert cands[0].mv_name in {"view2", "view3"}
    assert cands[0].via_fd == frozenset({"country"})


def test_navigator_answer_matches_base_tables(built, spark, sf_dir):
    nav = default_navigator(built)
    q = AggQuery(group_cols=frozenset({"country"}), measure="amnt")
    explain: list[str] = []
    got = nav.answer(spark, sf_dir, q, explain=explain).collect()
    want = (
        load_all()["q4b_top_country_raw"].fn(spark, sf_dir).collect()
    )
    got_map = {r["country"]: float(r["amnt"]) for r in got}
    top = max(got_map.items(), key=lambda kv: kv[1])
    assert top[0] == want[0]["country"]
    assert abs(top[1] - want[0]["spending"]) < 1e-2
    assert any("FD bridge" in e for e in explain)


def test_refresh_rebuilds_downstream(built, spark, sf_dir):
    before = dict(built.stats)
    built.refresh(spark, sf_dir, "sales")
    # sales and everything depending on it rebuilt with same contents
    assert built.stats["sales"] == before["sales"]
    assert built.stats["view2"] == before["view2"]


def test_uniqueness_invariant_on_sales_key(built, spark):
    # A7: unique index analog -- ETL assertion on the 3-col key
    sales = built.read(spark, "sales")
    dups = (
        sales.groupBy("customerid", "timeid", "partkey")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


# --- incremental maintenance -------------------------------------------------


def _date_split(spark, sf_dir, cutoff="1998-07-01"):
    from postgresql_datawarehouse_excercise_spark import catalog

    t = catalog.load(spark, sf_dir)
    pred = F.col("o_orderdate").cast("date") >= F.lit(cutoff).cast("date")
    k2 = t.orders.filter(pred).select("o_orderkey")
    batch1 = catalog.delta_tables(
        spark, sf_dir,
        orders=t.orders.filter(~pred),
        lineitem=t.lineitem.join(k2, t.lineitem.l_orderkey == k2.o_orderkey, "left_anti"),
    )
    delta = catalog.delta_tables(
        spark, sf_dir,
        orders=t.orders.filter(pred),
        lineitem=t.lineitem.join(k2, t.lineitem.l_orderkey == k2.o_orderkey, "left_semi"),
    )
    return batch1, delta


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_incremental_view2_equals_full_rebuild(spark, sf_dir, tmp_path):
    """Build time/sales/view1/view2/view3 from the pre-cutoff batch, apply
    the rest as a delta, and require each merged view to equal a full
    one-shot rebuild bit-for-bit (grain, names, years, exact-decimal sums).
    view3 reads view1 through dep: the delta refresh must resolve it to
    lineage over the delta, not to the persisted full-history view1."""
    from postgresql_datawarehouse_excercise_spark.etl.time_dim import build_time_dim

    batch1, delta = _date_split(spark, sf_dir)
    inc = default_registry(str(tmp_path / "inc"))
    full = default_registry(str(tmp_path / "full"))
    views = ("view1", "view2", "view3")
    try:
        inc.defs["time"].builder = lambda tt, dep: build_time_dim(batch1.orders)
        inc.defs["sales"].builder = lambda tt, dep: batch1.sales()
        orig = {v: full.defs[v].builder for v in views}
        for v in views:
            inc.defs[v].builder = lambda tt, dep, b=batch1, f=orig[v]: f(b, dep)
        for n in ("time", "sales") + views:
            inc.build(spark, sf_dir, n)
        inc.defs["time"].builder = full.defs["time"].builder
        inc.defs["sales"].builder = full.defs["sales"].builder
        for v in views:
            inc.defs[v].builder = orig[v]
        inc.refresh_incremental(spark, sf_dir, "sales", delta)
        # view3 first, while the persisted (batch-1) view1 is still fresh
        for v in reversed(views):
            inc.refresh_incremental(spark, sf_dir, v, delta)

        for n in ("time", "sales") + views:
            full.build(spark, sf_dir, n)
        for v in views:
            cols = sorted(full.read(spark, v).columns)
            assert _rows(inc.read(spark, v), cols) == _rows(full.read(spark, v), cols), v
        assert _rows(inc.read(spark, "sales"), ["customerid", "timeid", "partkey", "amnt"]) == \
               _rows(full.read(spark, "sales"), ["customerid", "timeid", "partkey", "amnt"])
    finally:
        inc.drop_all()
        full.drop_all()


def test_rebuild_with_stale_dep_stays_unfresh(spark, sf_dir, tmp_path):
    """Freshness hole via MV deps (ADVICE r7 medium): after a base mutation,
    refresh() of a downstream MV rebuilds it from the STALE upstream MV
    parquet/cache — the registry must NOT stamp it fresh, or the rewriter
    would serve pre-mutation aggregates while is_fresh lies True.  Only a
    dependency-ordered rebuild (build_all / refresh of the stale root)
    restores the stamp."""
    import shutil

    from postgresql_datawarehouse_excercise_spark import catalog

    tmp_sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, tmp_sf)
    reg = default_registry(str(tmp_path / "wh"))
    try:
        reg.build_all(spark, tmp_sf)
        assert reg.is_fresh(tmp_sf, "view2")
        # base mutation: COW-delete one order's lines, swap files in place
        lp = os.path.join(tmp_sf, "lineitem.parquet")
        line = spark.read.parquet(lp)
        victim = line.select("l_orderkey").first()[0]
        line.filter(f"l_orderkey <> {victim}").write.parquet(lp + "__new")
        (os.remove if os.path.isfile(lp) else shutil.rmtree)(lp)
        os.rename(lp + "__new", lp)
        catalog._TABLES_CACHE.clear()
        # refresh ONLY the downstream MV: its dep (the sales MV) is still
        # stale, so view2's new contents derive from pre-mutation data
        reg.refresh(spark, tmp_sf, "view2")
        assert not reg.is_fresh(tmp_sf, "view2")
        # refresh from the stale ROOT rebuilds the closure downstream of
        # sales — but time (also a view2 dep) is stale too, so still no lie
        reg.refresh(spark, tmp_sf, "sales")
        assert not reg.is_fresh(tmp_sf, "view2")
        # dependency-ordered full rebuild restores freshness end-to-end
        reg.build_all(spark, tmp_sf)
        assert reg.is_fresh(tmp_sf, "view2")
        assert reg.is_fresh(tmp_sf, "view3")
    finally:
        reg.drop_all(spark)
        catalog._TABLES_CACHE.clear()


def test_incremental_refresh_never_stamps_fresh(spark, sf_dir, tmp_path):
    """ADVICE r7 low: refresh_incremental merges delta rows passed
    IN-MEMORY — not necessarily present in the base parquet — so the MV
    must not read as fresh afterwards (a rewrite onto it could return rows
    a direct execution of the same SQL cannot see)."""
    _, delta = _date_split(spark, sf_dir)
    reg = default_registry(str(tmp_path / "wh"))
    try:
        for n in ("time", "sales", "view2"):
            reg.build(spark, sf_dir, n)
        assert reg.is_fresh(sf_dir, "view2")
        reg.refresh_incremental(spark, sf_dir, "sales", delta)
        reg.refresh_incremental(spark, sf_dir, "view2", delta)
        assert not reg.is_fresh(sf_dir, "sales")
        assert not reg.is_fresh(sf_dir, "view2")
    finally:
        reg.drop_all()


def test_refresh_keeps_prior_snapshot_readable(spark, sf_dir, tmp_path):
    """A frame read before a refresh keeps returning its pre-refresh rows
    after it, across refresh_incremental and refresh(): every commit
    writes a new snapshot and flips a pointer, so the files an earlier
    reader planned over stay in place.  The catalog table behind table()
    follows every commit, refreshes included."""
    from postgresql_datawarehouse_excercise_spark.etl.time_dim import build_time_dim
    from postgresql_datawarehouse_excercise_spark.operators.mutations import (
        ManagedParquetTable,
    )

    def rows(df):
        return _rows(df, df.columns)

    def catalog_location(name):
        desc = spark.sql(f"DESCRIBE TABLE EXTENDED {reg.table_name(name)}").collect()
        return next(r.data_type for r in desc if r.col_name == "Location")

    batch1, delta = _date_split(spark, sf_dir)
    reg = default_registry(str(tmp_path / "wh"))
    try:
        orig = {n: reg.defs[n].builder for n in ("time", "sales", "view2")}
        reg.defs["time"].builder = lambda tt, dep: build_time_dim(batch1.orders)
        reg.defs["sales"].builder = lambda tt, dep: batch1.sales()
        reg.defs["view2"].builder = lambda tt, dep, f=orig["view2"]: f(batch1, dep)
        for n in ("time", "sales", "view2"):
            reg.build(spark, sf_dir, n)
        for n, f in orig.items():
            reg.defs[n].builder = f

        old = reg.read(spark, "view2")
        before = rows(old)
        reg.refresh_incremental(spark, sf_dir, "sales", delta)
        reg.refresh_incremental(spark, sf_dir, "view2", delta)
        assert rows(old) == before
        after = rows(reg.read(spark, "view2"))
        assert after != before
        assert rows(reg.table(spark, "view2")) == after

        old = reg.read(spark, "view2")
        reg.refresh(spark, sf_dir, "view2")
        assert rows(old) == after
        assert rows(reg.table(spark, "view2")) == rows(reg.read(spark, "view2"))
        current = ManagedParquetTable(spark, reg.path("view2")).data_path
        assert catalog_location("view2").endswith(os.path.abspath(current))
    finally:
        reg.drop_all(spark)


def test_incremental_rejects_non_additive(spark, sf_dir, tmp_path):
    """avg-bearing / report MVs must refuse incremental maintenance."""
    _, delta = _date_split(spark, sf_dir)
    reg = default_registry(str(tmp_path / "wh"))
    try:
        reg.build(spark, sf_dir, "time")
        reg.build(spark, sf_dir, "sales")
        reg.build(spark, sf_dir, "avg_amnt_view")
        with pytest.raises(ValueError, match="not incrementally maintainable"):
            reg.refresh_incremental(spark, sf_dir, "avg_amnt_view", delta)
    finally:
        reg.drop_all()


def test_extend_time_dim_keeps_ids_stable_under_late_dates(spark, sf_dir):
    """A late-arriving EARLY date must append a NEW id, never renumber the
    existing ones (stable surrogate keys -- the deliberate divergence from
    a full rebuild, which would shift every id after the insertion point)."""
    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.etl.time_dim import (
        build_time_dim,
        extend_time_dim,
    )

    t = catalog.load(spark, sf_dir)
    base = build_time_dim(t.orders.filter(F.col("o_orderkey") % 2 == 0))
    late = t.orders.filter(F.col("o_orderkey") % 2 == 1)
    ext = extend_time_dim(base, late)
    base_rows = {r["orderdate"]: r["timeid"] for r in base.collect()}
    ext_rows = {r["orderdate"]: r["timeid"] for r in ext.collect()}
    for d, i in base_rows.items():
        assert ext_rows[d] == i  # existing ids unchanged
    n_base = len(base_rows)
    new_ids = sorted(i for d, i in ext_rows.items() if d not in base_rows)
    assert new_ids == list(range(n_base + 1, n_base + 1 + len(new_ids)))
    # no duplicate ids, no duplicate dates
    assert len(set(ext_rows.values())) == len(ext_rows)


def test_sales_table_twin_equals_mv_and_validates(built, spark, sf_dir):
    """assignment-5.sql:90-112: the plain-table twin must hold exactly the
    MV's rows (INSERT INTO ... SELECT of the same query) and its build must
    have enforced the declared PK/NOT NULL/FK rules (write-after-validate)."""
    mv_rows = sorted(map(tuple, built.read(spark, "sales").collect()))
    tbl_rows = sorted(map(tuple, built.read(spark, "sales_table").collect()))
    assert mv_rows == tbl_rows

    # the declared constraints reject a corrupted INSERT: duplicate PK tuple
    from postgresql_datawarehouse_excercise_spark.etl import validate
    from postgresql_datawarehouse_excercise_spark.mv.definitions import _sales_table

    t = catalog_load_corrupt(spark, sf_dir)
    with pytest.raises(validate.ConstraintViolation, match="duplicate key"):
        _sales_table(t, None)


def test_sales_table_link_shares_sales_files(spark, sf_dir, tmp_path):
    """The link twin's build commits hardlinks to the files of sales'
    committed snapshot instead of rewriting the same bytes, and its rows
    survive sales being rebuilt until that snapshot is vacuumed."""
    from postgresql_datawarehouse_excercise_spark.operators.mutations import (
        ManagedParquetTable,
    )

    def part_files(name):
        d = ManagedParquetTable(spark, reg.path(name)).data_path
        return [os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-")]

    reg = default_registry(str(tmp_path / "wh"))
    try:
        for n in ("time", "sales", "sales_table"):
            reg.build(spark, sf_dir, n)
        twin = part_files("sales_table")
        assert twin
        assert any(os.path.samefile(twin[0], f) for f in part_files("sales"))
        cols = ["customerid", "timeid", "partkey", "amnt"]
        want = _rows(reg.read(spark, "sales_table"), cols)
        sales = ManagedParquetTable(spark, reg.path("sales"))
        shared = sales.version()
        for _ in range(sales.retain):
            reg.build(spark, sf_dir, "sales")
        assert shared not in sales.versions()
        assert _rows(reg.read(spark, "sales_table"), cols) == want
    finally:
        reg.drop_all(spark)


def catalog_load_corrupt(spark, sf_dir):
    """Tables facade whose sales() has a duplicated PK tuple."""
    from postgresql_datawarehouse_excercise_spark import catalog as cat

    base = cat.load(spark, sf_dir)
    t = cat.Tables(spark, sf_dir)
    dup = base.sales().limit(1)
    t._cache["sales"] = base.sales().unionAll(dup)
    return t


def test_incremental_extrema_measures_equal_full_rebuild(spark, sf_dir, tmp_path):
    """Max/min measures must survive incremental maintenance: view2_stats
    (sum + count + max + min) built from the pre-cutoff batch and merged
    with the delta must equal a full one-shot rebuild bit-for-bit -- the
    merge combines each measure with its OWN kind (max-of-max, min-of-min,
    sum-of-sum/count), never blanket SUM."""
    from postgresql_datawarehouse_excercise_spark.etl.time_dim import build_time_dim
    from postgresql_datawarehouse_excercise_spark.mv.definitions import with_count_stats

    batch1, delta = _date_split(spark, sf_dir)
    inc = with_count_stats(default_registry(str(tmp_path / "inc")))
    full = with_count_stats(default_registry(str(tmp_path / "full")))
    try:
        _orig = full.defs["view2_stats"].builder
        inc.defs["time"].builder = lambda tt, dep: build_time_dim(batch1.orders)
        inc.defs["sales"].builder = lambda tt, dep: batch1.sales()
        inc.defs["view2_stats"].builder = lambda tt, dep, b=batch1: _orig(b, dep)
        for n in ("time", "sales", "view2_stats"):
            inc.build(spark, sf_dir, n)
        inc.defs["time"].builder = full.defs["time"].builder
        inc.defs["sales"].builder = full.defs["sales"].builder
        inc.defs["view2_stats"].builder = _orig
        inc.refresh_incremental(spark, sf_dir, "sales", delta)
        inc.refresh_incremental(spark, sf_dir, "view2_stats", delta)

        for n in ("time", "sales", "view2_stats"):
            full.build(spark, sf_dir, n)
        cols = sorted(full.read(spark, "view2_stats").columns)
        assert _rows(inc.read(spark, "view2_stats"), cols) == _rows(
            full.read(spark, "view2_stats"), cols
        )
    finally:
        inc.drop_all()
        full.drop_all()
