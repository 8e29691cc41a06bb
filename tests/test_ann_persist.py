"""Persisted IVF-PQ index: the reloaded-index serving path must reproduce
the in-plan x_sim_ann_ivfpq lane row-for-row (exact BIGINT index relations,
lossless parquet round-trip)."""

from __future__ import annotations

from postgresql_datawarehouse_excercise_spark.operators import pq
from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
    x_sim_ann_index_persist,
)
from postgresql_datawarehouse_excercise_spark import catalog

SF = "/root/testdata/sf0.001"


def test_persist_reload_bit_identical_to_in_plan(spark):
    t = catalog.load(spark, SF)
    direct = sorted(map(tuple, pq.ivfpq_topk(t.embeddings).collect()))
    persisted = sorted(map(tuple, x_sim_ann_index_persist(spark, SF).collect()))
    assert len(direct) > 0
    assert persisted == direct


def test_persisted_index_recall_floor(spark):
    """The reload path keeps the x_sim_ann_ivfpq recall contract: with
    results bit-identical to the in-plan lane (test above), the pinned
    IVFPQ floor applies transitively; here we only re-check the shape --
    every query returns exactly PQ_TOPK ranked rows with distinct ranks."""
    rows = x_sim_ann_index_persist(spark, SF).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == pq.PQ_QUERIES
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, pq.PQ_TOPK + 1)), q


def test_batch_serve_first_queries_identical_to_single_set_lane(spark):
    """Per-query results are independent of batch width (every ranking
    window partitions by query_id): the 32-query batch restricted to the
    first PQ_QUERIES queries must equal the in-plan 8-query lane."""
    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        ANN_BATCH_NQ,
        x_sim_ann_batch_serve,
    )

    t = catalog.load(spark, SF)
    direct = sorted(map(tuple, pq.ivfpq_topk(t.embeddings).collect()))
    batch = x_sim_ann_batch_serve(spark, SF)
    sub = sorted(
        map(tuple, batch.filter(f"query_id < {pq.PQ_QUERIES}").collect())
    )
    assert sub == direct
    n_q = batch.select("query_id").distinct().count()
    assert n_q == min(ANN_BATCH_NQ, 50)  # sf0.001 has 50 vectors


def test_hybrid_rrf_persist_identical_to_in_plan_fusion(spark):
    """Persist-and-reload may not change a single fused row: the entry
    (both indexes persisted, fresh session, serve + fuse) must equal the
    same fusion computed in-plan with no persistence."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        _rrf_fuse,
        x_sim_hybrid_rrf_persist,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        x_text_bm25,
    )

    t = catalog.load(spark, SF)
    bm = x_text_bm25(spark, SF).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc()))
        .alias("bm_r"),
    )
    vq = pq.ivfpq_topk(t.embeddings, n_queries=1).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("vs_r")
    )
    in_plan = sorted(map(tuple, _rrf_fuse(bm, vq, "ivfpq_rank").collect()))
    persisted = sorted(
        map(tuple, x_sim_hybrid_rrf_persist(spark, SF).collect())
    )
    assert len(in_plan) > 0
    assert persisted == in_plan


def test_insert_without_retrain_recall_floor(spark):
    """x_sim_ann_index_insert: vectors added WITHOUT retraining (assigned
    to frozen centroids, encoded with frozen codebooks) must keep serving
    quality -- the honest cost of FAISS-add is bounded by the refine
    pass.  Measured 0.825 mean / 0.6 min recall@10 at this SF (vs the
    full-retrain lane's pinned 0.8 floor); pinned with margin."""
    import numpy as np
    import duckdb

    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        x_sim_ann_index_insert,
    )

    rows = x_sim_ann_index_insert(spark, SF).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert len(got) == pq.PQ_QUERIES
    con = duckdb.connect()
    emb = con.execute(
        f"SELECT vec_id, embedding FROM"
        f" read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    V = np.array(
        [[int(np.floor(float(x) * 1000000.0 + 0.5)) for x in e] for _, e in emb],
        dtype=np.int64,
    )
    ids = [v for v, _ in emb]
    recs = []
    for qid, approx in got.items():
        qi = ids.index(qid)
        d = ((V - V[qi]) ** 2).sum(axis=1)
        order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))
        exact = [ids[i] for i in order if ids[i] != qid][: pq.PQ_TOPK]
        recs.append(len(approx & set(exact)) / pq.PQ_TOPK)
    assert sum(recs) / len(recs) >= 0.75
    assert min(recs) >= 0.5


def test_delete_tombstones_respected_and_live_results_stable(spark):
    """x_sim_ann_index_delete: no tombstoned id in any result; every query
    still returns a full ranked top-k; and wherever the full index's
    top-k contained no deleted id, the masked index returns it
    unchanged."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        _bucket,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        ANN_DELETE_PCT,
        x_sim_ann_index_delete,
    )

    t = catalog.load(spark, SF)
    deleted = {
        r["vec_id"]
        for r in t.embeddings.select(
            F.col("vec_id").cast("long").alias("vec_id")
        )
        .filter(_bucket(F.col("vec_id")) >= ANN_DELETE_PCT)
        .collect()
    }
    assert deleted  # the split must actually tombstone something
    rows = x_sim_ann_index_delete(spark, SF).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["vec_id"] not in deleted, r
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == pq.PQ_QUERIES
    for qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, pq.PQ_TOPK + 1))
    full = pq.ivfpq_topk(t.embeddings).collect()
    full_by_q: dict[int, list] = {}
    for r in full:
        full_by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in full_by_q.items():
        if not any(r["vec_id"] in deleted for r in rs):
            assert sorted(map(tuple, rs)) == sorted(map(tuple, by_q[qid])), qid


def test_compact_identical_to_tombstone_masked_serve(spark):
    """x_sim_ann_index_compact: rewriting the persisted postings/codes
    without the tombstoned ids and serving unmasked must be ROW-IDENTICAL
    to the tombstone-masked serve (anti-join before persist == anti-join
    after load), and the compacted relations must contain ZERO tombstoned
    rows -- the space-reclaim promise the delete lane defers."""
    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        _ann_tombstones,
        _compact_ann_index,
        _persist_ann_index,
        _read_ann_index,
        x_sim_ann_index_compact,
        x_sim_ann_index_delete,
    )

    masked = sorted(map(tuple, x_sim_ann_index_delete(spark, SF).collect()))
    compacted = sorted(map(tuple, x_sim_ann_index_compact(spark, SF).collect()))
    assert len(masked) == pq.PQ_QUERIES * pq.PQ_TOPK
    assert compacted == masked

    # zero tombstoned rows survive in the vector-grain relations of the
    # directory the compaction rewrite stored
    tomb = {r["vec_id"] for r in _ann_tombstones(spark, SF).collect()}
    assert tomb
    full = _read_ann_index(spark, _persist_ann_index(spark, SF))
    index = _read_ann_index(spark, _compact_ann_index(spark, SF))
    for rel in (index.postings, index.codes):
        assert not tomb & {r["vec_id"] for r in rel.select("vec_id").distinct().collect()}
    assert index.postings.count() == full.postings.count() - len(tomb)  # one posting per vec


def test_lifecycle_build_memoized_per_corpus(spark):
    """The lifecycle entries share ONE persisted build per corpus dir
    (VERDICT r12 item 6): two calls return the same directory."""
    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        _persist_ann_index,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        _persist_bm25_index,
    )

    assert _persist_ann_index(spark, SF) == _persist_ann_index(spark, SF)
    assert _persist_bm25_index(spark, SF) == _persist_bm25_index(spark, SF)
    assert _persist_ann_index(spark, SF, split=True) == _persist_ann_index(spark, SF, split=True)
    # one memo, keyed per index kind: the three builds never share a dir
    assert len({
        _persist_ann_index(spark, SF),
        _persist_bm25_index(spark, SF),
        _persist_ann_index(spark, SF, split=True),
    }) == 3


def test_stream_ann_index_identical_to_batch_insert(spark):
    """Streamed per-batch assign/encode against the frozen trainings must
    be indistinguishable from the batch one-pass insert (both are the
    same deterministic per-vector argmins over the same base-trained
    index)."""
    from postgresql_datawarehouse_excercise_spark.queries.x_similarity import (
        x_sim_ann_index_insert,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_streaming import (
        x_stream_ann_index,
    )

    batch = sorted(map(tuple, x_sim_ann_index_insert(spark, SF).collect()))
    streamed = sorted(map(tuple, x_stream_ann_index(spark, SF).collect()))
    assert len(batch) == pq.PQ_QUERIES * pq.PQ_TOPK
    assert streamed == batch


def test_retrain_policy_drift_flips_decision(spark, tmp_path):
    """x_sim_ann_retrain_policy's contract: on a corpus whose delta split
    (the drifted query population) is EASY -- near-duplicates of trained
    cluster centers -- the measured recall clears the floor and the
    decision is 'keep'; on a corpus whose delta is an unseen
    near-orthogonal random region (assignments carry no signal, probed
    cells miss the true neighbors) recall collapses below the floor and
    the decision FLIPS to 'retrain' (VERDICT r13 item 5)."""
    import hashlib
    import random

    from postgresql_datawarehouse_excercise_spark.queries import load_all

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    rng = random.Random(99)
    dim, n = 64, 600
    centers = [[rng.uniform(0.0, 1.0) for _ in range(dim)] for _ in range(8)]

    def near(c, eps):
        return [x + rng.uniform(-eps, eps) for x in c]

    rows_keep = [(i, near(centers[i % 8], 0.02), 0) for i in range(n)]
    # the drifted delta is UNCLUSTERED noise spanning the trained region:
    # its nearest-centroid assignment carries no signal (near-equidistant
    # to every trained center), so a drifted query's true neighbors
    # scatter across cells the probe never visits -- NOT a far-away tight
    # cluster, which would land whole in one cell and keep recall at 1.0
    rows_drift = [
        (i, near(centers[i % 8], 0.02), 0)
        if bucket(i) < 80
        else (i, [rng.uniform(0.0, 1.0) for _ in range(dim)], 0)
        for i in range(n)
    ]
    fn = load_all()["x_sim_ann_retrain_policy"].fn
    for name, rows, want in [("keep", rows_keep, "keep"),
                             ("drift", rows_drift, "retrain")]:
        d = tmp_path / name
        spark.createDataFrame(
            [(i, [float(x) for x in v], lb) for i, v, lb in rows],
            "vec_id long, embedding array<float>, label int",
        ).write.parquet(f"{d}/embeddings.parquet")
        out = fn(spark, str(d)).collect()
        assert len(out) == 1
        row = out[0]
        assert row["n_queries"] == 8 and row["n_possible"] == 80
        assert row["decision"] == want, (name, row)
