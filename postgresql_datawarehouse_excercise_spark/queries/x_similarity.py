"""Extension: similarity search over `embeddings` (array<float> column).

Exact brute-force top-k, exact all-pairs near-dup, and the LSH-bucketed ANN
scale path — implementations in operators/similarity.py.  All three carry
full DuckDB value-hash oracles: the sequential double fold used for the dot
product is bit-identical to DuckDB's list_cosine_similarity (verified over
all 124,750 sf0.01 pairs at 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog, session
from ..functions import floor_div, fround
from ..operators import clustering, pca, pq, similarity
from . import query

QUERY_VEC_ID = 0


@query("x_sim_topk_bruteforce", oracle=similarity.cosine_topk_sql(QUERY_VEC_ID))
def x_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k neighbours of QUERY_VEC_ID: broadcast one query
    vector against a full scan — the O(N) baseline every ANN variant is
    measured against (TakeOrderedAndProject, per-partition heaps)."""
    t = catalog.load(spark, sf_dir)
    return similarity.cosine_topk(t.embeddings, QUERY_VEC_ID)


@query("x_sim_cosine_neardup", oracle=similarity.cosine_neardup_pairs_sql())
def x_sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs embedding near-duplicates (cosine >= 0.35) via the
    blocked numpy GEMM join (operators/similarity.py) -- same output as the
    naive fold, ~6x faster at sf0.1, grid-parallel at scale."""
    t = catalog.load(spark, sf_dir)
    return similarity.cosine_neardup_blocked(t.embeddings)


@query("x_sim_ann_lsh", oracle=similarity.ann_lsh_topk_sql(QUERY_VEC_ID))
def x_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: rank only the query's
    sign-bit bucket (the 100 TB path: bucket as partition key => scan prunes
    to |N|/2^planes vectors)."""
    t = catalog.load(spark, sf_dir)
    return similarity.ann_lsh_topk(t.embeddings, QUERY_VEC_ID)


@query("x_sim_ann_ivf", oracle=similarity.ann_ivf_topk_sql(QUERY_VEC_ID))
def x_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained centroids (cells = max(16, floor
    sqrt(N)) derived from the corpus size, 2 exact Lloyd rounds,
    operators/clustering.py): probe the query's nprobe = max(5, floor
    sqrt(cells)) nearest cells, rank exactly inside (the cell column is
    the partition key at scale -- scan prunes to nprobe/cells of the
    corpus, a fraction that shrinks as N^(-1/4); candidates ~ N^(3/4) =
    o(N), pinned by tests/test_clustering.py).  Recall@10 >= 0.8 on every
    query by x_sim_ann_recall (vs 0.0-0.4 for the round-5 pivot
    quantizer / single-bucket LSH on this data)."""
    t = catalog.load(spark, sf_dir)
    return similarity.ann_ivf_topk(t.embeddings, QUERY_VEC_ID)


@query("x_sim_knn_join", oracle=similarity.knn_join_sql())
def x_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: exact top-3 cosine neighbours for each of the first
    8 query vectors in ONE corpus pass (broadcast query set, per-query
    row_number top-k over skinny score rows) -- the retrieval shape for
    embedding-dedup and RAG candidate generation."""
    t = catalog.load(spark, sf_dir)
    return similarity.knn_join(t.embeddings)


@query("x_sim_semantic_dedup", oracle=similarity.semantic_dedup_sql())
def x_sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means-cluster the embedding
    space (exact integer-grid Lloyd rounds), then drop within-cluster
    near-duplicates (cosine >= 0.35, keep-lowest-id).  The quadratic
    comparison is confined to single clusters -- the shape that scales the
    embedding-dedup step to 100 TB corpora (per-cluster parallel blocked
    GEMM, no all-pairs join).  k derives from the corpus size
    (semdedup_k: max(8, N // 250) -- the PRODUCTION k-with-N configuration
    the 100x smoke measured, now on the hard gate; the oracle re-derives
    the same k from COUNT(*)).  The DuckDB oracle replays the clustering
    bit-for-bit; the pairwise cosines share cosine_neardup_blocked's
    tolerance (GEMM summation differs from the oracle's sequential fold
    only below the shared half-up 6-dp rounding)."""
    t = catalog.load(spark, sf_dir)
    return similarity.semantic_dedup(t.embeddings)


@query("x_sim_pca_power", oracle=pca.pca_project_sql())
def x_sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus (operators/pca.py):
    covariance as per-partition int64 GEMM partials (one Arrow pass, driver
    holds DIM^2 integers regardless of corpus size), 3 power iterations on
    the constant-size matrix, then one broadcast-literal projection pass.
    All integer-grid arithmetic -- the DuckDB oracle replays the moment
    identity, every unrolled iteration, and each projection bit-for-bit."""
    t = catalog.load(spark, sf_dir)
    return pca.pca_project(t.embeddings)


@query(
    "x_sim_vector_stats",
    oracle="""
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(len(embedding) AS INT) AS dim,
       FLOOR((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum')) * 1000000.0 + 0.5) / 1000000.0 AS comp_sum,
       FLOOR((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'max')) * 1000000.0 + 0.5) / 1000000.0 AS comp_max,
       FLOOR((list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'min')) * 1000000.0 + 0.5) / 1000000.0 AS comp_min,
       FLOOR((sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) * 1000000.0 + 0.5) / 1000000.0 AS l2_norm
FROM embeddings
""",
)
def x_sim_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column: per-vector
    component sum/max/min and L2 norm, entirely JVM-side (aggregate /
    array_max / array_min folds) -- the array-function surface the
    reference's SQL never touches (SURVEY.md §2-H)."""
    from pyspark.sql import functions as F

    t = catalog.load(spark, sf_dir)
    e = similarity.as_double(F.col("embedding"))
    return t.embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.size("embedding").alias("dim"),
        fround(similarity.dot(e, F.transform(e, lambda x: F.lit(1.0))), 6).alias("comp_sum"),
        fround(F.array_max(e), 6).alias("comp_max"),
        fround(F.array_min(e), 6).alias("comp_min"),
        fround(F.sqrt(similarity.dot(e, e)), 6).alias("l2_norm"),
    )


@query(
    "x_sim_quantize_int8",
    oracle="""
WITH s AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings
),
sc AS (
  SELECT vec_id, e,
         CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale
  FROM s
),
q AS (
  SELECT vec_id, scale,
         list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
  FROM sc
)
SELECT vec_id,
       CAST(len(qv) AS INT) AS dim,
       FLOOR(scale * 1000000.0 + 0.5) / 1000000.0 AS scale,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(qv, x -> x * x), 'sum') AS BIGINT) AS q_dot,
       qv[1] AS q_first,
       qv[len(qv)] AS q_last
FROM q
""",
)
def x_sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (the embedding-store compression
    step before ANN at scale: 4x smaller, SIMD-friendly): scale = 127/max|x|,
    q_i = floor(x_i * scale + 0.5) -- explicit floor-plus-half rounding so
    every engine computes the identical code, no round() tie-break dialects.
    Entirely JVM-side array transforms, no shuffle; the output pins the full
    code vector through its sum / power-sum / endpoints."""
    from pyspark.sql import functions as F

    t = catalog.load(spark, sf_dir)
    e = similarity.as_double(F.col("embedding"))
    mx = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    base = t.embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        e.alias("e"),
        scale.alias("scale"),
    )
    q = F.transform(F.col("e"), lambda x: F.floor(x * F.col("scale") + F.lit(0.5)))
    return base.select(
        "vec_id",
        F.size("e").alias("dim"),
        fround(F.col("scale"), 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(
            F.transform(q, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_dot"),
        q.getItem(0).alias("q_first"),
        F.element_at(q, -1).alias("q_last"),
    )


# dim=64 in the driver's embeddings table (TESTDATA.md); the oracle's
# component explode pins it -- the Spark side is dim-agnostic.
_KMEANS_ORACLE = """
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cq
  FROM q ORDER BY vec_id LIMIT 8
),
comp AS (SELECT vec_id, r.i, qv[r.i] AS x FROM q, range(1, 65) r(i)),
ccomp1 AS (SELECT cid, r.i, cq[r.i] AS c FROM init, range(1, 65) r(i)),
d1 AS (
  SELECT comp.vec_id, ccomp1.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM comp JOIN ccomp1 ON comp.i = ccomp1.i
  GROUP BY 1, 2
),
m1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d1) WHERE rn = 1
),
sums AS (
  SELECT m1.cid, comp.i, CAST(SUM(comp.x) AS BIGINT) AS s, COUNT(*) AS n
  FROM m1 JOIN comp USING (vec_id) GROUP BY 1, 2
),
cent2 AS (
  -- floored half-up mean; DuckDB's // TRUNCATES toward zero on integers,
  -- so subtract the mathematical mod first (numerator becomes exactly
  -- divisible and truncate == floor), matching Spark's div-based floor
  SELECT cid, i,
         ((2*s + n) - (((2*s + n) % (2*n) + (2*n)) % (2*n))) // (2*n) AS c
  FROM sums
),
d2 AS (
  SELECT comp.vec_id, cent2.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM comp JOIN cent2 USING (i) GROUP BY 1, 2
),
a2 AS (
  SELECT vec_id, cid, dist2,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
  FROM d2
)
SELECT vec_id, CAST(cid AS INT) AS cluster, dist2 AS dist2_q FROM a2 WHERE rn = 1
"""


@query("x_sim_kmeans", oracle=_KMEANS_ORACLE)
def x_sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (2 Lloyd's rounds, k=8) over the embedding column on an
    exact integer grid -- the training step behind the IVF entry's
    centroids, reproduced bit-for-bit by the SQL oracle (see
    operators/clustering.py for the determinism + scale argument)."""
    from ..operators import clustering

    t = catalog.load(spark, sf_dir)
    return clustering.kmeans_assignments(t.embeddings, k=8, iters=2)


@query("x_sim_ann_recall", oracle=similarity.ann_recall_sql())
def x_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the production ANN (k-means IVF, the x_sim_ann_ivf
    configuration) vs exact brute force over the 8-query evaluation set --
    the index-quality measurement that decides whether an approximate path
    is shippable.  Both arms share the rounded score + deterministic
    tie-break, so recall is bit-exact cross-engine (the oracle replays the
    Lloyd rounds and both searches, re-deriving the N-scaled cells/nprobe
    from COUNT(*)).  This evaluator is WHY the index is k-means IVF: it
    measured the round-5 single-bucket sign-LSH at 0.0-0.4 on these
    near-orthogonal embeddings (a >=0.8-recall LSH config needs >60% of
    the corpus as candidates here), and measures the IVF at >= 0.8 on
    every query at the derived gate configuration (22 cells / 5 probes
    at N=500) -- a configuration whose candidate fraction now SHRINKS
    with N instead of re-ranking a fixed quarter of the corpus
    (operators/similarity.ann_recall)."""
    t = catalog.load(spark, sf_dir)
    return similarity.ann_recall(t.embeddings)


@query("x_sim_ann_pq", oracle=pq.pq_topk_sql())
def x_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC top-10 (operators/pq.py): vectors compress to
    PQ_M=8 codeword ids (16 codewords/subspace, one integer-grid Lloyd
    round each) and queries rank the whole coded corpus by summed
    distance-table lookups -- IVF-PQ's compression half, the index shape
    that fits a 10^11-vector corpus in cluster RAM.  Exact BIGINT
    end-to-end; the oracle replays training, encoding and the ADC scan."""
    t = catalog.load(spark, sf_dir)
    return pq.pq_topk(t.embeddings)


@query("x_sim_ann_pq_recall", oracle=pq.pq_recall_sql())
def x_sim_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ/ADC ranking vs the exact integer-L2 top-10 on
    the same 8-query evaluation set -- quantifies what the 32x compression
    costs in ranking fidelity, exactly as x_sim_ann_recall does for the
    IVF index's candidate pruning."""
    t = catalog.load(spark, sf_dir)
    return pq.pq_recall(t.embeddings)


@query("x_sim_ann_ivfpq", oracle=pq.ivfpq_topk_sql())
def x_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-shape index (IVF x PQ): coarse k-means cells prune
    each query's scan to ~N^(3/4) candidates (the N-derived cells/nprobe of
    x_sim_ann_ivf), and the survivors are ranked by PQ/ADC table lookups
    (x_sim_ann_pq's codes) instead of full-vector arithmetic -- the
    serve-from-RAM shape for a 10^11-vector corpus.  Every stage (both
    trainings, probe, encode, scan) is exact BIGINT and replayed by the
    oracle."""
    t = catalog.load(spark, sf_dir)
    return pq.ivfpq_topk(t.embeddings)


@query("x_sim_ann_ivfpq_recall", oracle=pq.ivfpq_recall_sql())
def x_sim_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF x PQ index vs exact integer L2 -- the
    end-to-end answer-quality number (pruning loss + code distortion
    together), completing the evaluator trio with x_sim_ann_recall and
    x_sim_ann_pq_recall."""
    t = catalog.load(spark, sf_dir)
    return pq.ivfpq_recall(t.embeddings)


@query("x_sim_kcenter_coreset", oracle=clustering.kcenter_coreset_sql())
def x_sim_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez farthest-point traversal, the
    diversity-maximizing 2-approximation data-pruning pipelines use):
    seed at the lowest vec_id, then 7 rounds of "pick the vector farthest
    from everything picked so far", all on the exact micro-unit grid; the
    output assigns every vector to its nearest selected center.  Each
    round is one broadcast map + a 1-row argmax, so driver traffic is one
    row per round at any corpus size (operators/clustering.py); the
    oracle replays every selection bit-for-bit."""
    t = catalog.load(spark, sf_dir)
    return clustering.kcenter_coreset(t.embeddings)


@query(
    "x_pipeline_cluster_balanced",
    oracle="""
SELECT vec_id, cluster, dist2_q, CAST(rn AS INT) AS rn FROM (
  SELECT vec_id, cluster, dist2_q,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY dist2_q ASC, vec_id ASC) AS rn
  FROM ({KM})
) WHERE rn <= {CAP}
""".format(KM=_KMEANS_ORACLE, CAP=clustering.BALANCED_CAP),
)
def x_pipeline_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced prototype sampling: k-means the embedding space
    (the x_sim_kmeans exact-grid training), then keep an EQUAL quota of
    the closest-to-centroid members per cluster -- the density-equalizing
    curation step (SemDeDup / SSL-prototype selection) that stops head
    clusters of near-identical web text from dominating a sample drawn
    uniformly.  Per-cluster top-k is a partitioned row_number window over
    skinny (vec_id, cluster, dist2) rows -- no global sort at any N."""
    t = catalog.load(spark, sf_dir)
    return clustering.cluster_balanced_sample(t.embeddings)


@query("x_sim_mmr_select", oracle=clustering.mmr_select_sql())
def x_sim_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    the 8 picks that maximize query relevance minus redundancy with what's
    already picked -- the diversity-aware retrieval rule RAG context
    assembly uses where plain top-k returns near-duplicates.  Exact int64
    inner products on the micro-unit grid, one broadcast map + 1-row
    argmax per round (operators/clustering.mmr_select); the oracle
    replays every pick."""
    t = catalog.load(spark, sf_dir)
    return clustering.mmr_select(t.embeddings)


@query("x_sim_ann_nprobe_sweep", oracle=similarity.ann_recall_sweep_sql())
def x_sim_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall-vs-cost CURVE (FAISS's standard nprobe sweep): for
    nprobe in {1, 2, 4, 8}, recall@10 of the probed search against exact
    brute force PLUS the exact candidate count the probe re-ranked --
    the tuning measurement behind every deployed nprobe choice, where
    x_sim_ann_recall reports only the production point.  Index trains
    once (checkpointed assignment relation); each arm is a broadcast
    cell-filter + per-query top-k; recall is non-decreasing in nprobe
    (nested probe sets, pytest-pinned) while n_candidates grows ~linearly
    in nprobe -- the curve's two axes (operators/similarity.py
    ann_recall_sweep)."""
    t = catalog.load(spark, sf_dir)
    return similarity.ann_recall_sweep(t.embeddings)


@query("x_sim_mrl_recall", oracle=similarity.mrl_recall_populations_sql())
def x_sim_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluator (Kusupati et al., NeurIPS 2022):
    recall@10 of an 8-of-64-dim PREFIX cosine ranking against the full-dim
    exact ranking, per query, over TWO populations -- the raw
    uniform-energy corpus (what naive truncation of a non-MRL model loses:
    recall ~0.0-0.2, the baseline the paper improves on) and a
    deterministic FRONT-LOADED twin whose dimension blocks decay by powers
    of two (the energy profile MRL training produces, where the prefix
    ranking nearly matches full-dim).  The spread between the populations
    is the measurement behind the cheap-first-pass / full-dim-re-rank
    retrieval layout MRL enables.  One corpus x queries pass per
    population computes BOTH scores (the truncated arm costs a slice, not
    a second scan); two ranking windows share it
    (operators/similarity.mrl_recall, mrl_frontload)."""
    t = catalog.load(spark, sf_dir)
    return similarity.mrl_recall_populations(t.embeddings)


@query("x_sim_jl_projection", oracle=similarity.jl_recall_populations_sql())
def x_sim_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection evaluator (Achlioptas 2003's
    database-friendly +/-1 JL variant): recall@10 of the 16-dim DENSE
    random projection vs 16-dim PREFIX truncation, both against the
    full-dim exact ranking, over the raw corpus AND a deterministic
    BACK-loaded twin (energy in the trailing dim blocks, powers of two).
    The JL matrix mixes every input dim into each output dim, so its
    quality is oblivious to where a vector keeps its energy; the prefix
    arm ranks the backloaded population by dims carrying none of the full
    ranking's signal and collapses to ~random recall -- the measured case
    for an oblivious projection when the energy profile is unknown (the
    spread is pytest-pinned).  The sign matrix is md5-derived and embedded
    as literals in BOTH engines; projections are exact int64 sign-sums of
    micro-unit vectors, every dot an integer fold, one 1e-6-quantized
    cosine per pair (operators/similarity.jl_recall_populations)."""
    t = catalog.load(spark, sf_dir)
    return similarity.jl_recall_populations(t.embeddings)


@query("x_sim_ann_index_persist", oracle=pq.ivfpq_topk_sql())
def x_sim_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production ANN serving shape: train the IVF-PQ index ONCE, persist
    its four relations as parquet tables (IVF centroids, (vec_id, cell)
    postings, PQ codebooks, PQ codes -- the MV-registry pattern), then
    RELOAD them in a fresh SparkSession (spark.newSession(): new
    catalog/conf state over the shared context -- the driver-restart
    analog available in-process) and serve the top-k queries entirely off
    the loaded index (operators/pq.ivfpq_serve).

    The oracle is x_sim_ann_ivfpq's own replay, UNCHANGED: every index
    component is exact BIGINT, parquet round-trips integers losslessly, so
    persist-then-reload may never change a single ranked row (also pinned
    directly against the in-plan lane in tests/test_ann_persist.py).  At
    100 TB this split is what makes vector search operable: the build pays
    the two k-means trainings once, the index tables are ~1/30th the
    corpus (8-byte codes + sqrt(N) centroids), and query sessions start by
    reading THEM, never re-deriving the index from the raw vectors.  Only
    the refine pass touches exact vectors, PQ_REFINE point-lookups per
    query against the cold store."""
    return _serve_persisted_ann(
        spark.newSession(), sf_dir, _persist_ann_index(spark, sf_dir)
    )


def _write_ann_index(loc: str, index: pq.IvfPq, batch: int | None = None) -> str:
    """Store an IVF-PQ index under loc as parquet (this and _read_ann_index
    are the only code that knows the layout): the trainings (centroids,
    codebooks, a 1-row meta with the cell count) and the vector-grain
    postings and codes.  A `batch` (a stream epoch) lands the vector-grain
    relations under `_batch=N` and OVERWRITES only that subdir, so a
    re-delivered batch rewrites its own rows instead of double-appending
    them; batches hold disjoint vectors, so their union is the exact
    merge.  Batch 0 writes the trainings too; a later batch only adds
    vectors to the frozen index and leaves the stored trainings as they
    are.  meta goes last: its presence marks a complete build
    (_persist_ann_index's memo marker).  Returns loc."""
    sub = "" if batch is None else f"/_batch={batch}"
    if not batch:
        index.cents.write.mode("overwrite").parquet(f"{loc}/centroids")
        index.cb.write.mode("overwrite").parquet(f"{loc}/codebooks")
    index.postings.write.mode("overwrite").parquet(f"{loc}/postings{sub}")
    index.codes.write.mode("overwrite").parquet(f"{loc}/codes{sub}")
    if not batch:
        index.cents.sparkSession.createDataFrame(
            [(index.cells,)], "cells int"
        ).write.mode("overwrite").parquet(f"{loc}/meta")
    return loc


def _read_ann_index(spark: SparkSession, loc: str) -> pq.IvfPq:
    """The index stored under loc by _write_ann_index, read in `spark`,
    every batch merged."""

    def rel(name: str) -> DataFrame:
        return spark.read.parquet(f"{loc}/{name}").drop("_batch")

    return pq.IvfPq(
        rel("centroids"),
        rel("postings"),
        rel("codebooks"),
        rel("codes"),
        int(rel("meta").collect()[0]["cells"]),
    )


# The training is fully deterministic (exact-integer-grid k-means,
# deterministic init -- the oracle replays it bit-for-bit), so every
# lifecycle lane reads ONE memoized build per corpus and training
# population instead of retraining per entry.
def _persist_ann_index(spark: SparkSession, sf_dir: str, split: bool = False) -> str:
    """Build the corpus's IVF-PQ index (pq.ivfpq_build) and store it
    (_write_ann_index); returns the index directory, memoized per corpus
    and training population (x_sources._index_memo).  With `split` the
    trainings see only the md5-bucket < ANN_INSERT_PCT base and every
    vector is assigned and encoded against them -- the
    add-without-retrain index of the insert and retrain-policy lanes."""
    from .x_pipeline import _bucket
    from .x_sources import _corpus_fingerprint, _index_memo

    def build(loc: str) -> str:
        emb = catalog.load(spark, sf_dir).embeddings
        if not split:
            return _write_ann_index(loc, pq.ivfpq_build(emb))
        base = emb.filter(_bucket(F.col("vec_id")) < ANN_INSERT_PCT)
        return _write_ann_index(loc, pq.ivfpq_build(base, emb))

    kind = "annsplit" if split else "annidx"
    key = _corpus_fingerprint(sf_dir, "embeddings.parquet") + (kind,)
    return _index_memo(key, "meta", build)


def _serve_persisted_ann(
    s2: SparkSession,
    sf_dir: str,
    loc: str,
    n_queries: int = pq.PQ_QUERIES,
    qids: DataFrame | None = None,
    postings_transform=None,
) -> DataFrame:
    """Read the index stored under loc in session `s2` and serve the first
    `n_queries` query vectors (or the `qids` population) entirely off the
    loaded relations (pq.ivfpq_serve); only the refine pass touches exact
    vectors.  Pass `spark.newSession()` for the fresh-session reload (one
    such session shared across lanes: frames from different sessions
    cannot join), or the session a `qids` frame lives in.
    `postings_transform` lets the delete lane apply its tombstone mask to
    the loaded postings before serving."""
    index = _read_ann_index(s2, loc)
    if postings_transform is not None:
        index = index._replace(postings=postings_transform(index.postings))
    return pq.ivfpq_serve(
        catalog.load(s2, sf_dir).embeddings, index, n_queries, qids=qids
    )


def _ann_tombstones(s2: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic delete split (the shared md5 id-hash recipe):
    vec_ids whose bucket lands in the top ANN_DELETE_PCT..100 band --
    shared by the tombstone-masked serve (x_sim_ann_index_delete) and
    the compaction rewrite (x_sim_ann_index_compact)."""
    from .x_pipeline import _bucket

    return (
        catalog.load(s2, sf_dir)
        .embeddings.select(F.col("vec_id").cast("long").alias("vec_id"))
        .filter(_bucket(F.col("vec_id")) >= ANN_DELETE_PCT)
    )


ANN_BATCH_NQ = 32   # batched serving: 4x the evaluation query set


@query(
    "x_sim_ann_batch_serve",
    oracle=pq.ivfpq_topk_sql(n_queries=ANN_BATCH_NQ),
)
def x_sim_ann_batch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED multi-query ANN serving off the persisted IVF-PQ index --
    the production retrieval shape x_sim_ann_index_persist builds toward:
    one pass joins ALL {ANN_BATCH_NQ} query vectors through the loaded
    centroid/postings/codebook/code relations simultaneously (the
    x_sim_knn_join broadcast-query-set pattern): every query probes its
    nprobe cells in one window, candidates for every query come from ONE
    postings equi-join keyed by cell, the ADC scan scores all
    (query, candidate) pairs in one aggregate, and refine re-ranks every
    query's shortlist under one query-partitioned window.  Serving N
    queries costs one plan, not N -- the amortization that makes a
    persisted index worth its build.

    The oracle is ivfpq_topk_sql at the batch width (the index replay,
    unchanged construction); the first PQ_QUERIES queries are pinned
    row-identical to the single-set lanes (x_sim_ann_ivfpq and the
    persisted serve) in tests/test_ann_persist.py -- per-query results
    are independent of batch width because every ranking window
    partitions by query_id."""
    return _serve_persisted_ann(
        spark.newSession(), sf_dir, _persist_ann_index(spark, sf_dir), ANN_BATCH_NQ
    )


@query("x_sim_nndescent", oracle=similarity.nndescent_recall_sql())
def x_sim_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph ANN by NN-Descent (Dong et al. 2011) -- the graph-based
    index family (HNSW's batch-distributable ancestor), completing the ANN
    coverage beside the LSH (x_sim_ann_lsh), IVF (x_sim_ann_ivf) and PQ
    (x_sim_ann_pq) lanes: neighbor lists seeded from two independent
    random md5 bucketings (a single blocking traps the 2-hop closure --
    see the operator docstring) and tightened by ROUNDS local-join rounds
    ("a neighbor of a neighbor is likely a neighbor"), evaluated as
    recall@K against the exact ranking on the fixed query set, seed vs
    final side by side (measured here: 0.10 -> 0.675 mean recall@10 on
    the isotropic corpus, the hardest regime; pinned in
    tests/test_nndescent.py)."""
    t = catalog.load(spark, sf_dir)
    return similarity.nndescent_recall(t.embeddings)


RRF_K = 60       # the standard reciprocal-rank-fusion damping constant
RRF_TOPK = 10


def _rrf_fuse(bm: DataFrame, vs: DataFrame, vs_rank_col: str) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists bm(id, bm_r) and
    vs(id, vs_r): RRF(d) = sum over lists of 1/(RRF_K + rank_d), each
    reciprocal quantized to integer micro-units so the fused ordering is
    exact in both engines.  A document absent from a lane reports rank -1
    in that lane's column (an impossible value -- ranks are 1-based -- so
    it cannot be misread as better-than-first) and contributes 0 to
    rrf_micro.  Both inputs are top-k relations, so the fusion is a full
    outer join of two <=k-row frames + one window over <=2k rows."""
    from pyspark.sql.window import Window

    rec = lambda r: F.floor(1000000.0 / (F.lit(RRF_K) + F.col(r)) + 0.5).cast("long")  # noqa: E731
    fused = bm.join(vs, "id", "full_outer").select(
        "id",
        F.coalesce("bm_r", F.lit(-1)).cast("int").alias("bm25_rank"),
        F.coalesce("vs_r", F.lit(-1)).cast("int").alias(vs_rank_col),
        (
            F.coalesce(rec("bm_r"), F.lit(0))
            + F.coalesce(rec("vs_r"), F.lit(0))
        ).cast("long").alias("rrf_micro"),
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= RRF_TOPK)
    )


def _rrf_oracle() -> str:
    from .x_text import _BM25_ORACLE

    return f"""
SELECT id,
       CAST(COALESCE(bm.r, -1) AS INT) AS bm25_rank,
       CAST(COALESCE(vs.r, -1) AS INT) AS cos_rank,
       CAST(COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + bm.r) + 0.5) AS BIGINT), 0)
          + COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + vs.r) + 0.5) AS BIGINT), 0)
          AS BIGINT) AS rrf_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + bm.r) + 0.5) AS BIGINT), 0)
                + COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + vs.r) + 0.5) AS BIGINT), 0) DESC,
                id ASC) AS INT) AS rank
FROM (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS r
  FROM ({_BM25_ORACLE})
) bm
FULL JOIN (
  SELECT vec_id AS id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS r
  FROM ({similarity.cosine_topk_sql(QUERY_VEC_ID)})
) vs USING (id)
QUALIFY rank <= {RRF_TOPK}
"""


@query("x_sim_hybrid_rrf", oracle=_rrf_oracle())
def x_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion (Cormack et al., SIGIR
    2009 -- the fusion rule hybrid search ships on): the BM25 lexical
    top-10 (x_text_bm25) and the exact-cosine vector top-10
    (x_sim_topk_bruteforce, query vector 0; vec_id and doc_id share the
    synthetic id space) fuse by RRF(d) = sum over lists of
    1/(RRF_K + rank_d), each reciprocal quantized to integer micro-units
    so the fused ordering is exact in both engines.  Rank-based fusion is
    the point: BM25 scores and cosines live on incomparable scales, and
    RRF never compares them -- only their ranks.  A document absent from a
    lane reports rank -1 in that lane's column (an impossible rank --
    ranks are 1-based -- so it cannot be misread as better-than-first; the
    old 0 sentinel was ambiguous) and contributes 0 to rrf_micro.

    Scale shape: both input lists are top-k relations (bounded), so the
    fusion itself is a full outer join of two <=k-row frames + one window
    -- free at any corpus size; the cost is the two retrieval lanes, each
    already scale-designed (and each with a persisted-index serving lane:
    x_text_bm25_index_persist / x_sim_ann_index_persist)."""
    from pyspark.sql.window import Window
    from .x_text import _bm25_from_index, _bm25_index

    docs = catalog.load(spark, sf_dir).documents
    bm = _bm25_from_index(*_bm25_index(docs), nq=1).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("bm_r")
    )
    vs = x_sim_topk_bruteforce(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()))
        .alias("vs_r"),
    )
    return _rrf_fuse(bm, vs, "cos_rank")


def _rrf_persist_oracle() -> str:
    from .x_text import _BM25_ORACLE

    return f"""
SELECT id,
       CAST(COALESCE(bm.r, -1) AS INT) AS bm25_rank,
       CAST(COALESCE(vq.vr, -1) AS INT) AS ivfpq_rank,
       CAST(COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + bm.r) + 0.5) AS BIGINT), 0)
          + COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + vq.vr) + 0.5) AS BIGINT), 0)
          AS BIGINT) AS rrf_micro,
       CAST(ROW_NUMBER() OVER (
         ORDER BY COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + bm.r) + 0.5) AS BIGINT), 0)
                + COALESCE(CAST(FLOOR(1000000.0 / ({RRF_K} + vq.vr) + 0.5) AS BIGINT), 0) DESC,
                id ASC) AS INT) AS rank
FROM (
  SELECT doc_id AS id,
         ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS r
  FROM ({_BM25_ORACLE})
) bm
FULL JOIN (
  -- alias the index rank to vr: a bare `rank` column here would capture
  -- the QUALIFY below (DuckDB prefers the input column over the alias)
  SELECT vec_id AS id, rank AS vr FROM ({pq.ivfpq_topk_sql(n_queries=1)})
) vq USING (id)
QUALIFY rank <= {RRF_TOPK}
"""


@query("x_sim_hybrid_rrf_persist", oracle=_rrf_persist_oracle())
def x_sim_hybrid_rrf_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end hybrid-retrieval SERVING story: both indexes -- the
    BM25 inverted index (postings + doc lengths) and the IVF-PQ vector
    index (centroids, postings, codebooks, codes) -- are built and
    persisted as parquet, then ONE fresh SparkSession reads both back and
    serves the fused query entirely off the loaded indexes: the lexical
    lane is the top-df query scored from the postings
    (x_text_bm25_index_persist's serve path), the vector lane is query
    vector 0's IVF-PQ top-{RRF_TOPK} (pq.ivfpq_serve: probe, ADC scan,
    exact refine), and reciprocal rank fusion joins the two bounded
    top-k lists (same -1 absent-lane sentinel and integer micro-unit
    quantization as x_sim_hybrid_rrf, which recomputes both lanes
    in-plan).

    Unlike x_sim_hybrid_rrf's exact-cosine lane, the vector ranks here
    are the INDEX's ranks -- what a production hybrid stack actually
    serves; the entry is pinned row-identical to the same fusion computed
    in-plan without any persistence (tests/test_ann_persist.py), proving
    persist-and-reload changes nothing: every index component is exact
    BIGINT and parquet round-trips it losslessly.  At 100 TB the serving
    session reads two small index tables and touches raw data only for
    the PQ_REFINE exact re-rank lookups -- never the corpus."""
    from .x_text import _bm25_from_index, _persist_bm25_index, _read_bm25_index

    bm_loc = _persist_bm25_index(spark, sf_dir)
    ann_loc = _persist_ann_index(spark, sf_dir)
    s2 = spark.newSession()
    bm = _bm25_from_index(*_read_bm25_index(s2, bm_loc), nq=1).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("bm_r")
    )
    vq = _serve_persisted_ann(s2, sf_dir, ann_loc, n_queries=1).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("vs_r")
    )
    return _rrf_fuse(bm, vq, "ivfpq_rank")


ANN_INSERT_PCT = 80   # train on the md5-bucket<80 split; insert the rest
_ANN_INSERT_PRED = (
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % 100 < {ANN_INSERT_PCT}"
)


@query(
    "x_sim_ann_index_insert",
    oracle=pq.ivfpq_topk_sql(train_pred=_ANN_INSERT_PRED),
)
def x_sim_ann_index_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-without-retrain -- the FAISS `add` lifecycle, the vector twin
    of x_text_bm25_index_refresh's incremental maintenance: the IVF
    centroids and PQ codebooks train ONCE on a deterministic 80% base
    split (the shared md5 id-hash recipe), then the remaining 20% of
    vectors are INSERTED into the index without touching the trainings --
    each new vector is assigned to its nearest EXISTING centroid
    (clustering.assign_gemm against the frozen cents) and encoded with
    the EXISTING codebooks (pq.ivfpq_build over (base, corpus)), exactly the two
    point operations a production vector store runs per ingested batch.
    Serving then answers the standard query set over the merged postings
    and codes through the unchanged pq.ivfpq_serve path.

    The oracle replays the SPLIT lifecycle bit-for-bit
    (ivfpq_topk_sql(train_pred=...): cell count, k-means init and the
    Lloyd round read only the base split; the final assignment and the
    PQ encode cover every vector).  Answer quality is the honest cost of
    not retraining -- inserted vectors quantize against codebooks that
    never saw them -- and the refine pass bounds the damage (exact
    re-rank of the shortlist); a recall floor vs the exact ranking is
    pytest-pinned in tests/test_ann_persist.py.  At 100 TB this is what
    keeps a vector index SERVING under ingest: per-batch cost is one
    centroid argmin + one codebook argmin per new vector (two broadcast
    GEMM maps over the batch, never the corpus), with a periodic retrain
    only when recall drift says so (x_sim_ann_retrain_policy makes that
    decision executable).  The split-trained build is memoized per corpus
    and shared with the retrain-policy lane (_persist_ann_index(split=True))."""
    return _serve_persisted_ann(
        spark, sf_dir, _persist_ann_index(spark, sf_dir, split=True)
    )


ANN_DELETE_PCT = 90   # tombstone the md5-bucket >= 90 split (10% of vectors)
_ANN_DELETE_PRED = (
    "CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % 100 >= {ANN_DELETE_PCT}"
)


@query(
    "x_sim_ann_index_delete",
    oracle=pq.ivfpq_topk_sql(exclude_pred=_ANN_DELETE_PRED),
)
def x_sim_ann_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE from the vector index without retraining -- the tombstone
    half of the lifecycle trilogy (x_sim_ann_index_persist builds,
    x_sim_ann_index_insert adds, this removes): a deterministic 10% of
    vectors (the shared md5 id-hash split) is marked deleted, and serving
    masks them by ONE anti-join of the postings relation against the
    tombstone set -- deleted vectors can then never reach the ADC scan or
    the refine shortlist, while the trained centroids, codebooks, codes
    and every live posting stay untouched (FAISS IDSelector /
    remove_ids semantics: deletes, like inserts, never retrain).

    The oracle replays the same mask (ivfpq_topk_sql(exclude_pred=...):
    the candidate relation filters the tombstoned ids, nothing else
    changes).  The pytest pin: no deleted id appears in any result, every
    query still returns a full ranked top-k, and un-deleted results agree
    with the full index wherever the deleted set did not intersect its
    top-k.  At 100 TB this is how vector stores take deletes between
    compactions: the tombstone set stays small between compactions (and
    the anti-join is deliberately UN-hinted -- AQE broadcasts while it
    fits, the registry's de-hinting discipline, guard-enforced); the
    periodic OPTIMIZE that reclaims the space is x_sim_ann_index_compact.
    The lane reads the shared memoized build (_persist_ann_index)."""
    loc = _persist_ann_index(spark, sf_dir)
    s2 = spark.newSession()
    tomb = _ann_tombstones(s2, sf_dir)
    return _serve_persisted_ann(
        s2,
        sf_dir,
        loc,
        postings_transform=lambda p: p.join(tomb, "vec_id", "left_anti"),
    )


@query(
    "x_sim_ann_index_compact",
    oracle=pq.ivfpq_topk_sql(exclude_pred=_ANN_DELETE_PRED),
)
def x_sim_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE -- the compaction that completes the index lifecycle
    (build: x_sim_ann_index_persist; add: x_sim_ann_index_insert;
    delete: x_sim_ann_index_delete; reclaim: here), keeping the promise
    the delete lane's docstring makes: after tombstone-deletes
    accumulate, a periodic rewrite drops the deleted ids from the
    PERSISTED index so serving no longer pays the per-query anti-join
    and the dead rows stop occupying storage (FAISS's remove_ids
    consolidation / Delta's OPTIMIZE role).

    Mechanics: read the shared persisted build (the same memoized
    _persist_ann_index dir the delete lane masks), rewrite the two
    vector-grain relations -- postings (vec_id, cell) and PQ codes --
    with the tombstoned ids anti-joined OUT, carry the vector-count-
    independent trainings over unchanged (_compact_ann_index), and
    serve from the compacted directory with NO mask.  Deletes never
    retrain: the centroids and codebooks are byte-identical before and
    after, only membership changed.

    Correctness: serving the compacted index must be ROW-IDENTICAL to
    the tombstone-masked serve (anti-join before persist == anti-join
    after load; pinned in tests/test_ann_persist.py, which also pins
    that the compacted relations contain zero tombstoned ids), so the
    oracle is x_sim_ann_index_delete's replay, unchanged.  At 100 TB the
    compaction cost is one scan of the index relations (~1/30 the
    corpus, never the raw vectors), amortized across every query served
    between compactions; partition-aligned writes make it an
    embarrassingly parallel rewrite of the cell-partitioned postings."""
    return _serve_persisted_ann(
        spark.newSession(), sf_dir, _compact_ann_index(spark, sf_dir)
    )


def _compact_ann_index(spark: SparkSession, sf_dir: str) -> str:
    """The compaction rewrite: the shared persisted build, stored again in
    a fresh scratch dir with every tombstoned id anti-joined out of both
    vector-grain relations (postings, codes); the trainings carry over
    unchanged.  Returns the compacted dir."""
    index = _read_ann_index(spark, _persist_ann_index(spark, sf_dir))
    tomb = _ann_tombstones(spark, sf_dir)
    return _write_ann_index(
        session.scratch("pdwx-anncompact-"),
        index._replace(
            postings=index.postings.join(tomb, "vec_id", "left_anti"),
            codes=index.codes.join(tomb, "vec_id", "left_anti"),
        ),
    )


# dim=64 in the driver's embeddings table (TESTDATA.md); the oracle's
# component range pins it -- the Spark side is dim-agnostic (the
# x_sim_kmeans precedent).
_DOMAIN_CENT_ORACLE = """
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
m AS (
  SELECT d.source, q.qv
  FROM q JOIN documents d ON q.vec_id = CAST(d.doc_id AS BIGINT)
),
comp AS (SELECT source, r.i, qv[r.i] AS x FROM m, range(1, 65) r(i)),
sums AS (
  SELECT source, i, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS n
  FROM comp GROUP BY 1, 2
),
cent AS (
  -- floored half-up mean, the shared k-means discipline (see _KMEANS_ORACLE)
  SELECT source, i,
         ((2*s + n) - (((2*s + n) % (2*n) + (2*n)) % (2*n))) // (2*n) AS c
  FROM sums
),
pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(a.c * b.c) AS BIGINT) AS dot_q,
         CAST(SUM(a.c * a.c) AS BIGINT) AS na2,
         CAST(SUM(b.c * b.c) AS BIGINT) AS nb2
  FROM cent a JOIN cent b ON a.i = b.i AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, dot_q,
       FLOOR((CAST(dot_q AS DOUBLE)
              / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))))
             * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM pair
"""


@query("x_sim_domain_centroids", oracle=_DOMAIN_CENT_ORACLE)
def x_sim_domain_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space domain similarity matrix -- the mixture-design
    input x_text_domain_divergence computes lexically (unigram
    Jensen-Shannon), here in embedding space: each source's centroid is
    the exact floored-half-up integer mean of its member vectors (the
    shared k-means grid discipline, so both engines agree bit-for-bit),
    and every source pair reports the cosine between centroids -- which
    corpora cover the same region of embedding space, the signal behind
    mixture re-weighting and source-aware dedup budgets.

    Scale shape: the centroid aggregate is ONE map-side-combined pass
    over (source, position, component) rows; everything after touches
    only the (sources x dim) centroid relation -- bounded by the SOURCE
    COUNT, never the corpus, so the pairwise join is trivially small at
    any N (the domain_divergence argument, vector edition).  The one
    quantized float per pair divides int64 dot by the product of IEEE
    sqrt's in the same literal order in both engines."""
    from ..operators.clustering import quantize

    t = catalog.load(spark, sf_dir)
    q = quantize(t.embeddings)
    m = q.join(
        t.documents.select(
            F.col("doc_id").cast("long").alias("vec_id"), "source"
        ),
        "vec_id",
    )
    comp = m.select("source", F.posexplode("qv").alias("pos", "x"))
    sums = comp.groupBy("source", "pos").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cent = sums.select(
        "source",
        "pos",
        (2 * F.col("s") + F.col("n")).alias("_a"),
        (2 * F.col("n")).alias("_b"),
    ).select(
        "source",
        "pos",
        floor_div(F.col("_a"), F.col("_b")).alias("c"),
    )
    a = cent.select(
        F.col("source").alias("source_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("source").alias("source_b"), "pos", F.col("c").alias("cb")
    )
    pair = (
        a.join(b, "pos")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot_q"),
            F.sum(F.col("ca") * F.col("ca")).cast("long").alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).cast("long").alias("nb2"),
        )
    )
    return pair.select(
        "source_a",
        "source_b",
        "dot_q",
        fround(
            F.col("dot_q").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("nb2").cast("double"))
            ),
            6,
        ).alias("cos_sim"),
    )


ANN_RETRAIN_FLOOR_PCT = 60  # retrain when drift recall falls below 60%


def _retrain_policy_oracle() -> str:
    from ..functions import sql_ratio
    from ..operators.clustering import SCALE

    k = pq.PQ_TOPK
    nq = pq.PQ_QUERIES
    drift_pred = f"NOT ({_ANN_INSERT_PRED})"
    approx = pq.ivfpq_topk_sql(
        train_pred=_ANN_INSERT_PRED, query_filter=drift_pred
    )
    return f"""
WITH approx AS (
  SELECT query_id, vec_id FROM (
{approx}
  )
),
qz2 AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
qids AS (
  SELECT vec_id FROM qz2 WHERE {drift_pred} ORDER BY vec_id LIMIT {nq}
),
qset2 AS (
  SELECT z.vec_id AS query_id, z.qv AS qqv FROM qz2 z JOIN qids USING (vec_id)
),
exact_d AS (
  SELECT qs.query_id, z.vec_id,
         CAST(SUM((z.qv[r.i] - qs.qqv[r.i]) * (z.qv[r.i] - qs.qqv[r.i]))
              AS BIGINT) AS d2
  FROM qz2 z, qset2 qs, range(1, 65) r(i)
  WHERE z.vec_id <> qs.query_id
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
    FROM exact_d) WHERE rn <= {k}
),
hits AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM approx a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
),
poss AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_possible FROM exact),
nqc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qids)
SELECT nqc.n_queries, CAST({k} AS BIGINT) AS k, hits.n_hits, poss.n_possible,
       {sql_ratio("hits.n_hits", "poss.n_possible")} AS recall,
       CAST({ANN_RETRAIN_FLOOR_PCT} AS BIGINT) AS floor_pct,
       CASE WHEN hits.n_hits * 100 < {ANN_RETRAIN_FLOOR_PCT} * poss.n_possible
            THEN 'retrain' ELSE 'keep' END AS decision
FROM nqc, hits, poss
"""


@query("x_sim_ann_retrain_policy", oracle=_retrain_policy_oracle())
def x_sim_ann_retrain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RETRAIN-or-KEEP decision the index lifecycle docstrings defer
    to (x_sim_ann_index_insert: "periodic retrain only when recall drift
    says so") made EXECUTABLE (VERDICT r13 item 5): measure the frozen
    split-trained index's recall@{k} on queries drawn from the DRIFTED
    split -- the 20% of vectors whose region the centroids and codebooks
    never saw -- and emit the decision from exact integer comparisons
    against a floor (n_hits * 100 < floor_pct * n_possible; no float ever
    crosses the decision boundary, so the emitted verdict is bit-stable
    cross-engine).

    Query population: the n_queries lowest drifted vec_ids (deterministic
    under the shared md5 id-hash split); approx arm = the insert-lane
    index (trainings frozen on the base split, every vector assigned and
    encoded) served through ivfpq_serve with the drifted query set; exact
    arm = brute-force integer-L2 top-k over the full corpus.  Output: ONE
    summary row (n_queries, k, n_hits, n_possible, recall, floor_pct,
    decision) -- the row an index-maintenance scheduler reads.

    Scale shape: the measurement costs one bounded-query serve (8 queries
    x o(N) candidates) plus one broadcast brute-force pass over the
    evaluation set -- both o(corpus); at 100 TB this runs as a periodic
    canary beside the streaming ingest (x_stream_ann_index), and the
    decision gates the expensive retrain.  The drift-flips-the-decision
    property is pinned in tests/test_ann_persist.py: an engineered corpus
    whose delta lives in an unseen region drives recall below the floor
    and the emitted decision flips to 'retrain'."""
    from ..functions import ratio
    from .x_pipeline import _bucket

    k = pq.PQ_TOPK
    emb = catalog.load(spark, sf_dir).embeddings
    qids = (
        emb.filter(~(_bucket(F.col("vec_id")) < ANN_INSERT_PCT))
        .select(F.col("vec_id").cast("long").alias("vec_id"))
        .orderBy("vec_id")
        .limit(pq.PQ_QUERIES)
    )
    approx = _serve_persisted_ann(
        spark, sf_dir, _persist_ann_index(spark, sf_dir, split=True), qids=qids
    ).select("query_id", "vec_id")

    q = clustering.quantize(emb)
    # the no-op limit is the explicit GlobalLimit the broadcast-hint
    # guard requires between the hint and the corpus scan
    qs = q.join(F.broadcast(qids), "vec_id").limit(pq.PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    exact = pq.exact_topk(q, F.broadcast(qs), k)
    hits = approx.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    poss = exact.agg(F.count(F.lit(1)).cast("long").alias("n_possible"))
    nqc = qids.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    # three 1-row scalar aggregates -> degenerate crossJoin (the q3b idiom)
    return (
        nqc.crossJoin(hits)
        .crossJoin(poss)
        .select(
            "n_queries",
            F.lit(k).cast("long").alias("k"),
            "n_hits",
            "n_possible",
            ratio(F.col("n_hits"), F.col("n_possible")).alias("recall"),
            F.lit(ANN_RETRAIN_FLOOR_PCT).cast("long").alias("floor_pct"),
            F.when(
                F.col("n_hits") * 100
                < F.lit(ANN_RETRAIN_FLOOR_PCT) * F.col("n_possible"),
                F.lit("retrain"),
            ).otherwise(F.lit("keep")).alias("decision"),
        )
    )
