"""Exact-arithmetic k-means (operators/clustering.py): Lloyd's invariants
plus the determinism the cross-engine oracle depends on."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark import catalog
from postgresql_datawarehouse_excercise_spark.operators import clustering


def test_every_vector_assigned_once(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    n_vecs = t.embeddings.count()
    out = clustering.kmeans_assignments(t.embeddings, k=8, iters=2)
    rows = out.collect()
    assert len(rows) == n_vecs
    assert len({r.vec_id for r in rows}) == n_vecs
    assert all(0 <= r.cluster < 8 for r in rows)
    assert all(r.dist2_q >= 0 for r in rows)


def test_lloyds_inertia_never_increases(spark, sf_dir):
    """Each assign/recompute round can only lower total squared distance --
    the defining monotonicity of Lloyd's.  (Quantizing centroid means to
    the integer grid perturbs by <= 0.5 ulp of 1e-6 per component, far
    below the distances involved, so the invariant must still hold.)"""
    t = catalog.load(spark, sf_dir)
    q = clustering.quantize(t.embeddings)
    cents = clustering.init_centroids(q, 8)
    a1 = clustering.assign(q, cents)
    a2 = clustering.assign(q, clustering.recompute(q, a1))
    i1 = a1.agg(F.sum("dist2")).collect()[0][0]
    i2 = a2.agg(F.sum("dist2")).collect()[0][0]
    assert i2 <= i1, (i1, i2)


def test_assignments_deterministic_across_runs(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    r1 = sorted(map(tuple, clustering.kmeans_assignments(t.embeddings).collect()))
    r2 = sorted(map(tuple, clustering.kmeans_assignments(t.embeddings).collect()))
    assert r1 == r2


def test_init_centroids_are_lowest_vec_ids(spark, sf_dir):
    t = catalog.load(spark, sf_dir)
    q = clustering.quantize(t.embeddings)
    cents = clustering.init_centroids(q, 4).collect()
    assert [c.cid for c in sorted(cents, key=lambda c: c.cid)] == [0, 1, 2, 3]
    lowest = [r.qv for r in q.orderBy("vec_id").limit(4).collect()]
    got = [c.cq for c in sorted(cents, key=lambda c: c.cid)]
    assert [list(x) for x in got] == [list(x) for x in lowest]


def test_assign_gemm_bit_identical_to_expression_assign(spark, sf_dir):
    """The large-k GEMM assignment fast path must produce the exact rows of
    the expression-based assign() -- same integer distances, same
    lowest-cid tie-break -- at several k values (the contract that lets
    semantic_dedup swap kernels without touching its oracle)."""
    t = catalog.load(spark, sf_dir)
    q = clustering.quantize(t.embeddings)
    for k in (3, 8, 17):
        cents = clustering.init_centroids(q, k)
        a = sorted(map(tuple, clustering.assign(q, cents).collect()))
        b = sorted(map(tuple, clustering.assign_gemm(q, cents).collect()))
        assert a == b, f"k={k}"


def test_semdedup_k_scales_with_corpus():
    """The gated entry's k derivation IS the production k-with-N shape the
    scale smokes measure (round-6 verdict #3): floor 8 at gate scale, then
    one cluster per 250 vectors; the DuckDB twin's GREATEST/COUNT(*) //
    derivation agrees at every size."""
    import duckdb

    from postgresql_datawarehouse_excercise_spark.operators import similarity as sim

    assert sim.semdedup_k(500) == 8        # gate (sf0.01) keeps k=8
    assert sim.semdedup_k(20_000) == 80    # 10x-of-sf0.1 smoke config
    assert sim.semdedup_k(60_000) == 240   # 30x
    assert sim.semdedup_k(200_000) == 800  # 100x
    for n in (1, 499, 500, 2000, 2001, 250 * 8, 250 * 8 + 1, 10**6):
        sql_k = duckdb.sql(
            f"SELECT GREATEST({sim.SEMDEDUP_MIN_K}, "
            f"CAST({n} // {sim.SEMDEDUP_VECS_PER_CLUSTER} AS INT))"
        ).fetchone()[0]
        assert sim.semdedup_k(n) == sql_k, n


def test_pq_assign_gemm_bit_identical_to_expression_assign(spark, sf_dir):
    """The keyed kernels clustering.assign / assign_gemm with by=("m",) --
    PQ's per-subspace assignment -- must agree row for row on the sliced
    init codebooks AND on the round-1 recomputed books."""
    from postgresql_datawarehouse_excercise_spark.operators import pq

    t = catalog.load(spark, sf_dir)
    q = clustering.quantize(t.embeddings)
    subs = pq._subvectors(q)
    by = ("m",)
    cb1 = pq._subvectors(clustering.init_centroids(q, pq.PQ_K), "cid", "cq")
    cb2 = clustering.recompute(subs, clustering.assign_gemm(subs, cb1, by), by)
    for cb in (cb1, cb2):
        expr = sorted(map(tuple, clustering.assign(subs, cb, by).collect()))
        gemm = sorted(map(tuple, clustering.assign_gemm(subs, cb, by).collect()))
        assert expr == gemm


def test_keyed_lloyd_equals_each_group_alone(spark):
    """clustering.lloyd keyed by a group column must equal running it on
    each group alone.  The two groups hold the SAME vector ids with
    independent components in the same range, so a row that leaks across
    groups -- a vector scored against the other group's centroids in
    either kernel, or joined to the other group's vector in recompute --
    changes an assignment or a centroid and the comparison fails."""
    import random

    rng = random.Random(7)
    rows = [
        (v, g, [rng.randrange(-100, 100) for _ in range(4)])
        for g in (0, 1)
        for v in range(40)
    ]
    pts = spark.createDataFrame(rows, "vec_id long, g int, qv array<bigint>")
    by = ("g",)
    for kernel in (clustering.assign, clustering.assign_gemm):
        init = pts.filter(F.col("vec_id") < 3).select(
            "g", F.col("vec_id").cast("int").alias("cid"), F.col("qv").alias("cq")
        )
        cents, assigned = clustering.lloyd(pts, init, 3, kernel, by)
        for g in (0, 1):
            alone = pts.filter(F.col("g") == g).drop("g")
            c1, a1 = clustering.lloyd(
                alone, init.filter(F.col("g") == g).drop("g"), 3, kernel
            )
            keyed_c = sorted(
                (r.cid, list(r.cq)) for r in cents.filter(F.col("g") == g).collect()
            )
            assert keyed_c == sorted((r.cid, list(r.cq)) for r in c1.collect())
            keyed_a = sorted(
                (r.vec_id, r.cid, r.dist2)
                for r in assigned.filter(F.col("g") == g).collect()
            )
            assert keyed_a == sorted(map(tuple, a1.collect()))
