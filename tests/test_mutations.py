"""ManagedParquetTable: in-place UPDATE/DELETE (copy-on-write) + CHECK.

Closes SURVEY.md section 7.3 D8's open variant: the reference's
`UPDATE customer SET city='Sydney' WHERE city='Sidney'`
(assignment-5.sql:13-15) executed as a real table mutation (not a
transform-on-read), with partition-pruned rewrites and CHECK-on-write.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark.operators import mutations
from postgresql_datawarehouse_excercise_spark.sources import bookorders


@pytest.fixture(scope="module")
def customer_raw(spark):
    """Raw book-orders customers built in-repo (bookorders.SCHEMAS
    ["customer"]): ids 1-120 over four countries.  Every 7th customer
    lives in 'Sidney' (so the Sydney cleanup touches all four country
    partitions), every 11th has no first name, and customers 96 and 100
    exist for the reference's district fixes."""
    countries = ["Australia", "Hungary", "New Zealand", "North Macedonia"]
    cities = ["Sydney", "Budapest", "Auckland", "Skopje"]
    rows = [
        (
            i,
            f"Surname{i}",
            None if i % 11 == 0 else f"Name{i}",
            "Sidney" if i % 7 == 0 else cities[i % 4],
            f"District{i % 5}",
            countries[i % 4],
        )
        for i in range(1, 121)
    ]
    return spark.createDataFrame(rows, schema=bookorders.SCHEMAS["customer"])


def _table(spark, df, tmp_path, **kw):
    t = mutations.ManagedParquetTable(spark, str(tmp_path / "tbl"), **kw)
    t.overwrite(df)
    return t


def test_update_matches_reference_cleanup(spark, customer_raw, tmp_path):
    """In-place UPDATEs reproduce the golden transform-on-ingest rows."""
    t = _table(spark, customer_raw, tmp_path)
    n = t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})
    assert n == customer_raw.filter("city = 'Sidney'").count() > 0
    t.update_where("customerid = 96", {"district": F.lit("Povardarje")})
    t.update_where("customerid = 100", {"district": F.lit("Budapest")})

    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, bookorders.clean_customer(customer_raw).collect()))
    assert got == want
    # no-match update touches nothing and reports 0
    assert t.update_where("city = 'Sidney'", {"city": F.lit("X")}) == 0


def test_partitioned_update_rewrites_only_touched_partitions(
    spark, customer_raw, tmp_path
):
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))
    sidney_countries = {
        r[0]
        for r in customer_raw.filter("city = 'Sidney'")
        .select("country")
        .distinct()
        .collect()
    }
    assert sidney_countries  # the cleanup has real work to do

    def files_with_mtime():
        out = {}
        for dirpath, _dirs, files in os.walk(t.data_path):
            for f in files:
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, t.data_path)] = os.stat(p).st_mtime_ns
        return out

    before = files_with_mtime()
    t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})
    after = files_with_mtime()

    changed_parts = set()
    for path in set(before) ^ set(after) | {
        p for p in before.keys() & after.keys() if before[p] != after[p]
    }:
        if "=" in path:
            changed_parts.add(path.split(os.sep)[0])
    assert changed_parts == {
        f"country={mutations._escape_path_name(c)}" for c in sidney_countries
    }
    # values still correct after the pruned rewrite
    assert t.read().filter("city = 'Sidney'").count() == 0
    assert (
        t.read().count() == customer_raw.count()
    ), "untouched partitions intact"


def test_partitioned_delete_drops_empty_partition(spark, customer_raw, tmp_path):
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))
    one_country = customer_raw.select("country").distinct().orderBy("country").first()[0]
    n_in = customer_raw.filter(F.col("country") == one_country).count()
    n = t.delete_where(F.col("country") == F.lit(one_country))
    assert n == n_in
    assert not os.path.exists(
        os.path.join(t.data_path, f"country={mutations._escape_path_name(one_country)}")
    )
    assert t.read().count() == customer_raw.count() - n_in


def test_check_constraint_rejects_bad_write(spark, customer_raw, tmp_path):
    t = _table(
        spark,
        customer_raw,
        tmp_path,
        checks={"city_not_blank": "length(city) > 0"},
    )
    with pytest.raises(mutations.CheckViolation, match="city_not_blank"):
        t.update_where("customerid = 1", {"city": F.lit("")})
    # rejected write must not have mutated the snapshot
    assert t.read().filter("length(city) = 0").count() == 0
    # a clean update still passes
    assert t.update_where("customerid = 1", {"city": F.lit("Auckland")}) == 1


def test_unpartitioned_delete(spark, customer_raw, tmp_path):
    t = _table(spark, customer_raw, tmp_path)
    n = t.delete_where("customerid <= 10")
    assert n == 10
    assert t.read().count() == customer_raw.count() - 10


def test_update_of_partition_column_moves_rows(spark, customer_raw, tmp_path):
    """SET on a partition column must migrate rows between partition
    directories (full-snapshot fallback), not drop them -- the silent-loss
    bug class where touched partitions are computed from OLD values but the
    staged write filters on NEW values."""
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))
    n_before = customer_raw.count()
    src = customer_raw.select("country").distinct().orderBy("country").first()[0]
    n_moved = t.update_where(
        F.col("country") == F.lit(src), {"country": F.lit("Atlantis")}
    )
    assert n_moved == customer_raw.filter(F.col("country") == src).count() > 0
    assert t.read().count() == n_before, "no rows lost moving partitions"
    assert t.read().filter(F.col("country") == src).count() == 0
    assert t.read().filter("country = 'Atlantis'").count() == n_moved
    assert not os.path.exists(
        os.path.join(t.data_path, f"country={mutations._escape_path_name(src)}")
    )


def test_orphan_snapshot_dir_does_not_brick_commits(spark, customer_raw, tmp_path):
    """A crash between the snapshot rename and the pointer flip leaves an
    orphan v=N+1 directory; the next commit must skip the occupied slot
    instead of failing forever on rename-onto-non-empty."""
    t = _table(spark, customer_raw, tmp_path)
    orphan = os.path.join(t.root, f"v={t.version() + 1}")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "stray.parquet"), "w") as fh:
        fh.write("not really parquet")
    n = t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})
    assert n > 0
    assert t.read().filter("city = 'Sidney'").count() == 0
    assert t.version() == 2  # slot 1 was occupied; commit landed on 2


def test_time_travel_and_retention(spark, customer_raw, tmp_path):
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))
    assert t.version() == 0
    t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})
    assert t.version() == 1
    # relative and absolute reads of the pre-mutation snapshot
    assert t.read(version=-1).filter("city = 'Sidney'").count() > 0
    assert t.read(version=0).filter("city = 'Sidney'").count() > 0
    assert t.read().filter("city = 'Sidney'").count() == 0
    # second commit vacuums v=0 (retain=2 keeps the last two snapshots)
    t.update_where("customerid = 96", {"district": F.lit("Povardarje")})
    assert t.versions() == [1, 2]
    with pytest.raises(mutations.NoSuchSnapshot, match="v=0"):
        t.read(version=0)


def test_concurrent_reader_survives_mutation(spark, customer_raw, tmp_path):
    """A reader holding the pre-mutation DataFrame keeps reading its own
    complete snapshot after the pointer flips (the atomicity contract: no
    FileNotFound window, no half-written state)."""
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))
    old_reader = t.read()
    n_sidney = old_reader.filter("city = 'Sidney'").count()
    assert n_sidney > 0
    t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})
    # executes AFTER the swap, against the retained old snapshot
    assert old_reader.filter("city = 'Sidney'").count() == n_sidney
    assert t.read().filter("city = 'Sidney'").count() == 0


def test_optimize_linear_clustering_narrows_file_stats(spark, tmp_path):
    """OPTIMIZE (cluster_by) must range-cluster the snapshot: per-file
    min/max spans of the cluster key become disjoint slices whose total
    equals the global range (a random layout gives ~nfiles x the global
    span) -- the property that lets parquet row-group stats prune selective
    scans.  Content and history must survive: values identical, previous
    snapshot still readable."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    big = spark.range(20_000).select(
        F.col("id").alias("customerid"), F.md5(F.col("id").cast("string")).alias("payload")
    ).repartition(8)  # scrambled layout: every file spans the whole range
    t = _table(spark, big, tmp_path)
    before = sorted(map(tuple, t.read().collect()))
    v0 = t.version()
    t.optimize(cluster_by=("customerid",), num_files=4)
    assert t.version() == v0 + 1
    assert sorted(map(tuple, t.read().collect())) == before
    assert sorted(map(tuple, t.read(version=-1).collect())) == before

    spans, files = 0, 0
    lo_all, hi_all = None, None
    for dirpath, _dirs, names in os.walk(t.data_path):
        for f in names:
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(dirpath, f))
            idx = md.schema.names.index("customerid")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                spans += st.max - st.min
                lo_all = st.min if lo_all is None else min(lo_all, st.min)
                hi_all = st.max if hi_all is None else max(hi_all, st.max)
                files += 1
    assert files > 1, "need multiple row groups/files for the test to bite"
    global_span = hi_all - lo_all
    assert spans <= global_span * 1.05, (spans, global_span, files)


def test_zorder_key_is_morton_interleave(spark):
    """zorder_key must be the exact bit interleave (x bit i -> position
    i*n, y bit i -> i*n+1 for n=2)."""
    from pyspark.sql import functions as F

    def morton(x: int, y: int) -> int:
        out = 0
        for i in range(21):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    rows = [(x, y) for x in (0, 1, 2, 3, 1_000_000) for y in (0, 1, 5, 2_000_000)]
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", mutations.zorder_key([F.col("x"), F.col("y")]).alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_beats_linear_on_the_second_dimension(spark, tmp_path):
    """The point of Z-order over linear clustering: a selective filter on
    the SECOND key must skip files.  With linear clustering on `a` alone,
    every file spans the full `b` range (independent columns), so a narrow
    b-slice intersects every file's stats; under the Morton interleave both
    dimensions get locality and the same slice prunes most files."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.range(40_000).select(
        (F.xxhash64(F.col("id")) % 1000).alias("a"),
        (F.xxhash64(F.col("id") + 7) % 1000).alias("b"),
    ).select(F.abs("a").alias("a"), F.abs("b").alias("b"))

    def files_touching_b_slice(table, lo=100, hi=150):
        touched = total = 0
        for dirpath, _dirs, names in os.walk(table.data_path):
            for f in names:
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(dirpath, f))
                idx = md.schema.names.index("b")
                fmin = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
                fmax = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
                total += 1
                if fmax >= lo and fmin <= hi:
                    touched += 1
        return touched, total

    t_lin = _table(spark, df, tmp_path / "lin")
    t_lin.optimize(cluster_by=("a",), num_files=16)
    lin_touched, lin_total = files_touching_b_slice(t_lin)

    t_z = _table(spark, df, tmp_path / "zo")
    t_z.optimize(cluster_by=("a", "b"), zorder=True, num_files=16)
    z_touched, z_total = files_touching_b_slice(t_z)

    assert lin_total >= 8 and z_total >= 8
    # linear on `a`: essentially every file spans all of b
    assert lin_touched >= lin_total - 1, (lin_touched, lin_total)
    # z-order: the 5% b-slice must prune at least half the files
    assert z_touched <= z_total // 2, (z_touched, z_total)


def test_optimize_compaction_consolidates_small_files(spark, customer_raw, tmp_path):
    t = _table(spark, customer_raw.repartition(16), tmp_path)

    def n_files():
        return sum(
            1 for _d, _s, names in os.walk(t.data_path)
            for f in names if f.endswith(".parquet")
        )

    assert n_files() >= 8
    before = sorted(map(tuple, t.read().collect()))
    t.optimize(cluster_by=(), num_files=2)
    assert n_files() <= 2
    assert sorted(map(tuple, t.read().collect())) == before
    with pytest.raises(ValueError, match="num_files"):
        t.optimize(cluster_by=())


def test_optimize_zorder_preserves_content(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(5000).select(
        F.col("id"),
        (F.col("id") % 97).alias("a"),
        (F.col("id") * 7 % 89).alias("b"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    t = _table(spark, df, tmp_path)
    before = sorted(map(tuple, t.read().collect()))
    t.optimize(cluster_by=("a", "b"), zorder=True)
    assert sorted(map(tuple, t.read().collect())) == before
    assert t.read().columns == ["id", "a", "b", "payload"]


def test_pruned_rewrite_scan_reads_only_touched_partitions(
    spark, customer_raw, tmp_path, monkeypatch
):
    """The COW rewrite's staged scan must carry PartitionFilters on the
    partition column (partition-pruned read), not a full-table scan with a
    post-filter -- the property that makes a one-partition UPDATE on a
    100 TB table rewrite one partition."""
    t = _table(spark, customer_raw, tmp_path, partition_by=("country",))

    captured = []
    orig = mutations.ManagedParquetTable._write_snapshot

    def capture(self, df, dest):
        captured.append(df)
        return orig(self, df, dest)

    monkeypatch.setattr(mutations.ManagedParquetTable, "_write_snapshot", capture)
    t.update_where("city = 'Sidney'", {"city": F.lit("Sydney")})

    assert captured, "pruned rewrite never staged a write"
    plan = captured[-1]._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "country" in m.group(1), plan[:2000]


def test_merge_upsert_rejects_duplicate_source_keys(spark, sf_dir):
    """Duplicate keys in the merge source make last-writer-wins ambiguous;
    the merge must refuse (Delta's multiple-source-rows-matched error)."""
    import pytest

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.operators import mutations

    t = catalog.load(spark, sf_dir)
    tbl = mutations.temp_table(spark, t.customer.limit(50))
    src = t.customer.limit(5).unionByName(t.customer.limit(5))
    with pytest.raises(ValueError, match="duplicate keys"):
        tbl.merge_upsert(src, ("c_custkey",))


def test_merge_upsert_partition_move_conserves_rows(spark, sf_dir):
    """A source row that changes a key's PARTITION value must remove the
    row from its old partition and land it in the new one -- both
    partitions are touched, total row count is conserved, and the key
    exists exactly once afterward."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.operators import mutations

    t = catalog.load(spark, sf_dir)
    base = t.customer
    n0 = base.count()
    tbl = mutations.temp_table(spark, base, partition_by=("c_mktsegment",))
    moved_key = base.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.min("c_custkey")
    ).collect()[0][0]
    src = base.filter(F.col("c_custkey") == moved_key).withColumn(
        "c_mktsegment", F.lit("MACHINERY")
    )
    n_upd, n_ins = tbl.merge_upsert(src, ("c_custkey",))
    assert (n_upd, n_ins) == (1, 0)
    after = tbl.read()
    assert after.count() == n0
    rows = after.filter(F.col("c_custkey") == moved_key).collect()
    assert len(rows) == 1 and rows[0].c_mktsegment == "MACHINERY"


def test_merge_upsert_duplicate_target_keys_all_update(spark, sf_dir):
    """Delta semantics: a target with duplicate keys keeps its cardinality
    -- every matched row takes the source values; nothing collapses."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark.operators import mutations

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (2, "b2", 21.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    tbl = mutations.temp_table(spark, base)
    src = spark.createDataFrame(
        [(2, "B", 99.0), (9, "new", 1.0)], "k long, name string, v double"
    )
    n_upd, n_ins = tbl.merge_upsert(src, ("k",))
    assert (n_upd, n_ins) == (2, 1)
    after = sorted(map(tuple, tbl.read().collect()))
    assert after == [
        (1, "a", 10.0),
        (2, "B", 99.0),
        (2, "B", 99.0),
        (3, "c", 30.0),
        (9, "new", 1.0),
    ]


def test_merge_upsert_key_column_named_count(spark, sf_dir):
    """A key column literally named 'count' must not collide with the
    duplicate-source check's internal aggregate alias (ADVICE regression:
    groupBy().count() made F.col('count') ambiguous and raised)."""
    from postgresql_datawarehouse_excercise_spark.operators import mutations

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "count long, v double"
    )
    tbl = mutations.temp_table(spark, base)
    src = spark.createDataFrame([(2, 99.0), (3, 30.0)], "count long, v double")
    n_upd, n_ins = tbl.merge_upsert(src, ("count",))
    assert (n_upd, n_ins) == (1, 1)
    assert sorted(map(tuple, tbl.read().collect())) == [
        (1, 10.0), (2, 99.0), (3, 30.0)
    ]


def test_merge_upsert_empty_source_noop(spark, sf_dir):
    """An empty CDC batch must no-op and return (0, 0) -- on partitioned
    AND unpartitioned tables -- without committing a new version."""
    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.operators import mutations

    t = catalog.load(spark, sf_dir)
    for part in ((), ("c_mktsegment",)):
        tbl = mutations.temp_table(spark, t.customer.limit(20), partition_by=part)
        v0 = tbl.version()
        empty = t.customer.limit(0)
        assert tbl.merge_upsert(empty, ("c_custkey",)) == (0, 0)
        assert tbl.version() == v0


def test_merge_upsert_random_sweep_matches_pandas_reference(spark, sf_dir):
    """Randomized MERGE sweep against an independent pandas fold: for
    seeded random target/source pairs (with duplicate target keys, nulls,
    partition moves, and disjoint inserts), merge_upsert's table state
    must equal the reference last-writer-wins semantics computed entirely
    outside Spark."""
    import random

    import pandas as pd

    from postgresql_datawarehouse_excercise_spark.operators import mutations

    for seed in (7, 19, 23):
        rng = random.Random(seed)
        tgt = [
            (
                rng.randrange(12),
                f"p{rng.randrange(3)}",
                rng.choice([None, round(rng.uniform(-5, 5), 2)]),
            )
            for _ in range(30)
        ]
        src_keys = rng.sample(range(20), 8)
        src = [
            (
                k,
                f"p{rng.randrange(3)}",
                rng.choice([None, round(rng.uniform(-5, 5), 2)]),
            )
            for k in src_keys
        ]
        target = spark.createDataFrame(tgt, "k long, part string, v double")
        source = spark.createDataFrame(src, "k long, part string, v double")
        tbl = mutations.temp_table(spark, target, partition_by=("part",))
        n_upd, n_ins = tbl.merge_upsert(source, ("k",))

        # independent reference: dict of source rows by key, fold over target
        srows = {r[0]: r for r in src}
        expect = [srows.get(r[0], r) for r in tgt]
        expect += [r for r in src if r[0] not in {t[0] for t in tgt}]
        nskey = lambda r: tuple("\0" if x is None else str(x) for x in r)  # noqa: E731
        want = sorted(map(tuple, expect), key=nskey)
        # partitioned parquet surfaces the partition column last on read;
        # re-select the declared order before comparing
        got = sorted(
            map(tuple, tbl.read().select("k", "part", "v").collect()), key=nskey
        )
        assert got == want, (seed, got[:5], want[:5])
        assert n_upd == sum(1 for r in tgt if r[0] in srows)
        assert n_ins == len([r for r in src if r[0] not in {t[0] for t in tgt}])
