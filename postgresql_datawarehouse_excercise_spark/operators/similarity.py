"""Similarity search over embedding columns (array<float>).

Three operators:
  * exact brute-force cosine top-k          — the O(N) baseline
  * exact all-pairs cosine near-dup         — threshold join, norm-precomputed
  * LSH-bucketed ANN (random hyperplanes)   — the 100 TB scale path: bucket
    on sign bits, search only the query's bucket

All dot products are sequential left-folds over double arrays
(`F.aggregate(zip_with(...))`), which DuckDB's list_dot_product /
list_cosine_similarity reproduce bit-for-bit (verified over all 124,750
sf0.01 pairs at 6 dp), so every operator carries a full value-hash oracle.
Hyperplane components are small integers from a fixed LCG, embedded as
literals in both engines.

Scale notes: near-dup pre-computes norms once (no repeated O(d) norm work per
pair); the ANN bucket join shuffles only (bucket, vec_id, e) rows and the
per-bucket candidate set is |N| / 2^planes on average; brute-force top-k is
a broadcast of ONE query vector against a scan — embarrassingly parallel,
combined per-partition by TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import fround, ratio
from ..session import materialize
from .clustering import SCALE

NEARDUP_THRESHOLD = 0.35
ANN_PLANES = 4
TOP_K = 10


def _hyperplanes(planes: int = ANN_PLANES, dim: int = 64) -> list[list[int]]:
    """Fixed integer hyperplane components in [-9, 9], LCG-generated so they
    are reproducible from source (no RNG state, identical in SQL literals)."""
    out, x = [], 0x2545F4914F6CDD1D
    for _ in range(planes):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((x >> 20) % 19 - 9)
        out.append(row)
    return out


HYPERPLANES = _hyperplanes()


def as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — exact evaluation order, engine-portable."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norms(embeddings: DataFrame) -> DataFrame:
    """vec_id, e (double array), n (L2 norm) — computed once, reused per pair."""
    e = as_double(F.col("embedding"))
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        e.alias("e"),
    ).withColumn("n", F.sqrt(dot(F.col("e"), F.col("e"))))


def cosine_topk(embeddings: DataFrame, query_vec_id: int, k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k neighbours of one vector: broadcast the query row
    against a full scan; Catalyst compiles orderBy+limit to
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    base = _norms(embeddings)
    # .limit(1) is a no-op on the unique-key filter but makes the broadcast
    # bound EXPLICIT in the plan (GlobalLimit), so the registry-wide guard
    # can prove the hinted side never scales with SF
    q = base.filter(F.col("vec_id") == query_vec_id).limit(1).select(
        F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    return (
        base.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = NEARDUP_THRESHOLD) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (vec_a < vec_b, cos >= t).

    O(N^2) by definition — correct at test scale; the LSH variant below is
    the scale path (same output schema, candidate-limited)."""
    base = _norms(embeddings)
    a, b = base.alias("a"), base.alias("b")
    cos = dot(F.col("a.e"), F.col("b.e")) / (F.col("a.n") * F.col("b.n"))
    return (
        a.crossJoin(b)
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            fround(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


BLOCK_SIZE = 512


def cosine_neardup_blocked(
    embeddings: DataFrame, threshold: float = NEARDUP_THRESHOLD
) -> DataFrame:
    """All-pairs cosine near-dup as a BLOCKED matrix product: vectors are
    grouped into fixed blocks, block pairs cross-join (only (N/B)^2 small
    rows move), and each block pair runs one numpy GEMM inside mapInPandas.

    This is the scale form of the exact join: per-pair work drops from an
    interpreted 64-element fold (~12 s at sf0.1) to a BLAS matmul (<2 s),
    and at 100 TB the block grid partitions perfectly across executors.
    Output is identical to cosine_neardup_pairs / the DuckDB oracle (GEMM
    sums differ from sequential folds only below the 6-dp rounding)."""
    import numpy as np
    import pandas as pd

    base = _norms(embeddings).select(
        (F.col("vec_id") / BLOCK_SIZE).cast("long").alias("block"),
        "vec_id",
        F.zip_with("e", F.array_repeat(F.col("n"), 64), lambda x, nn: x / nn).alias("u"),
    )
    blocks = base.groupBy("block").agg(
        F.collect_list(F.struct("vec_id", "u")).alias("vs")
    )
    grid = (
        blocks.select(F.col("block").alias("ba"), F.col("vs").alias("va"))
        .join(
            blocks.select(F.col("block").alias("bb"), F.col("vs").alias("vb")),
            F.col("ba") <= F.col("bb"),
        )
    )

    out_schema = "vec_a long, vec_b long, cos_sim double"

    def gemm(batches):
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                ia = np.array([v["vec_id"] for v in row["va"]])
                ib = np.array([v["vec_id"] for v in row["vb"]])
                ma = np.array([v["u"] for v in row["va"]])
                mb = np.array([v["u"] for v in row["vb"]])
                sims = ma @ mb.T
                # prefilter slack must cover the half-up window: a raw
                # value threshold-5e-7 rounds UP to the threshold, so a
                # tighter cutoff would drop pairs the oracle emits
                ai, bi = np.nonzero(sims >= threshold - 6e-7)
                va, vb, cs = ia[ai], ib[bi], sims[ai, bi]
                keep = va < vb
                if keep.any():
                    outs.append(
                        pd.DataFrame(
                            {
                                "vec_a": va[keep],
                                "vec_b": vb[keep],
                                # portable half-up (fround / the oracle's
                                # FLOOR form), not np.round's half-to-even
                                "cos_sim": np.floor(cs[keep] * 1e6 + 0.5) / 1e6,
                            }
                        )
                    )
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})

    return (
        grid.mapInPandas(gemm, out_schema)
        .filter(F.col("cos_sim") >= threshold)
    )


def cosine_max_vs_set_blocked(train: DataFrame, ev: DataFrame) -> DataFrame:
    """(vec_id, max_cos_eval): per TRAIN vector, the max cosine against a
    fixed EVAL relation -- the semantic-decontamination kernel at scale
    (queries/x_pipeline.semantic_decontaminate is the exact-fold twin the
    driver gate verifies; this is its production path, same 6-dp rounding
    caveat as cosine_neardup_blocked, pinned by the GEMM-margin tests).

    train carries (vec_id, e, n) from _norms; ev carries (ev_e, ev_n).
    Train rows group into fixed id-keyed blocks; the eval suite (bounded by
    definition) groups into row-count blocks; each (train block, eval
    block) pair runs ONE BLAS matmul and emits only per-vector partial
    maxima, so the shuffle after the kernel carries |train| skinny rows --
    never the |train| x |eval| pair set.  Measured 35.4 s (fold) -> ~2 s
    (GEMM) at the 10x smoke."""
    import numpy as np
    import pandas as pd

    tb = train.select(
        (F.col("vec_id") / BLOCK_SIZE).cast("long").alias("block"),
        "vec_id",
        F.zip_with("e", F.array_repeat(F.col("n"), 64), lambda x, nn: x / nn).alias("u"),
    ).groupBy("block").agg(F.collect_list(F.struct("vec_id", "u")).alias("vs"))
    # eval blocks: spark_partition_id is an arbitrary-but-valid grouping --
    # the per-vector max is invariant to how the eval side is partitioned
    eb = (
        ev.select(
            F.zip_with(
                "ev_e", F.array_repeat(F.col("ev_n"), 64), lambda x, nn: x / nn
            ).alias("u")
        )
        .withColumn("block", F.spark_partition_id())
        .groupBy("block")
        .agg(F.collect_list("u").alias("es"))
        .select("es")
    )
    grid = tb.crossJoin(eb)

    out_schema = "vec_id long, max_cos double"

    def gemm(batches):
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                ids = np.array([v["vec_id"] for v in row["vs"]])
                mt = np.array([v["u"] for v in row["vs"]])
                me = np.array(list(row["es"]))
                sims = mt @ me.T
                # per-pair portable half-up rounding BEFORE the max --
                # identical to the fold twin's fround-then-MAX order
                mx = (np.floor(sims * 1e6 + 0.5) / 1e6).max(axis=1)
                outs.append(pd.DataFrame({"vec_id": ids, "max_cos": mx}))
            yield pd.concat(outs) if outs else pd.DataFrame(
                {"vec_id": [], "max_cos": []}
            ).astype({"vec_id": "int64", "max_cos": "float64"})

    return (
        grid.mapInPandas(gemm, out_schema)
        .groupBy("vec_id")
        .agg(F.max("max_cos").alias("max_cos_eval"))
    )


def _bucket(e: Column) -> Column:
    """LSH bucket id: sign bit of e . h_p for each fixed hyperplane."""
    bits = [
        F.when(dot(e, F.array(*[F.lit(float(c)) for c in plane])) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        for p, plane in enumerate(HYPERPLANES)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out.cast("int")


def ann_lsh_topk(embeddings: DataFrame, query_vec_id: int, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: hash every vector to a sign-bit bucket, then rank
    only the query's bucket.  At 100 TB the bucket column is a partition key:
    the scan prunes to one bucket instead of the full corpus."""
    base = _norms(embeddings).withColumn("bucket", _bucket(F.col("e")))
    # limit(1) = explicit plan-level bound on the broadcast side (guard-proof)
    q = base.filter(F.col("vec_id") == query_vec_id).limit(1).select(
        F.col("e").alias("qe"), F.col("n").alias("qn"), F.col("bucket").alias("qbucket")
    )
    return (
        base.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            "bucket",
            fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


IVF_MIN_CELLS = 16
IVF_MIN_NPROBE = 5
IVF_ROUNDS = 2


def ivf_cells(n: int) -> int:
    """Cell count for an N-vector corpus: max(16, floor(sqrt(N))) — the
    classic IVF sizing (FAISS recommends nlist ~ sqrt(N)..16*sqrt(N)).  Cells
    grow with the corpus so the per-cell candidate list stays ~sqrt(N) and
    the probed fraction SHRINKS as the data grows; a fixed cell count (the
    round-6 configuration, 16 cells / 25% candidate fraction) re-ranks a
    constant fraction of the corpus per query — an exact scan over 25 TB at
    the 100 TB target.  floor(double sqrt) == isqrt for every N < 2^52
    (IEEE sqrt is correctly rounded and no non-square N rounds to an exact
    integer in that range), so the DuckDB twin's FLOOR(SQRT(COUNT(*)))
    derives the identical literal."""
    import math

    return max(IVF_MIN_CELLS, int(math.floor(math.sqrt(float(n)))))


def ivf_nprobe(cells: int) -> int:
    """Probes per query: max(5, floor(sqrt(cells))) = Theta(N^(1/4)).
    Grows with the index (fixed nprobe over ever-more cells loses boundary
    neighbours) while candidates = nprobe * N/cells ~ N^(3/4) stays o(N)
    and the candidate FRACTION falls as N^(-1/4): 18% at the 500-vector
    gate (recall@10 >= 0.8 on every query, x_sim_ann_recall), ~4.7% at the
    100x probe, ~0.6% at 10^9 vectors."""
    import math

    return max(IVF_MIN_NPROBE, int(math.floor(math.sqrt(float(cells)))))


def _ivf_base(embeddings: DataFrame) -> DataFrame:
    """(vec_id, e, n, qv): double array + L2 norm for exact ranking, plus the
    micro-unit quantization (operators/clustering.SCALE) the k-means index
    trains and probes on."""
    from .clustering import quantize_col

    return _norms(embeddings).withColumn("qv", quantize_col(F.col("e")))


def _ivf_train(base: DataFrame, cells: int) -> tuple[DataFrame, DataFrame]:
    """K-means IVF training (IVF_ROUNDS exact Lloyd rounds, clustering.lloyd):
    returns (cents, assigned) where cents is the final `cells`-row centroid
    relation and assigned carries every vector's cell WITH its ranking
    payload (e, n).

    Centroids pass between rounds through the driver (cells x dim longs --
    bounded by the cell count, never by N), so downstream plans see a
    LocalRelation instead of re-deriving two full corpus passes per
    reference.  Against the round-5 first-16-vectors pivot quantizer
    (recall@10 0.0-0.4 on the synthetic near-orthogonal embeddings),
    data-derived centroids measure >= 0.8 on the x_sim_ann_recall
    evaluator."""
    from . import clustering

    q = base.select("vec_id", "qv")
    # assignments run through the int64 GEMM kernel: with the N-DERIVED
    # cell count (~sqrt(N), dozens-to-thousands of cells) the fold kernel
    # pays cells interpreted 64-element folds per vector; the BLAS row is
    # bit-identical (tests/test_clustering.py::
    # test_assign_gemm_bit_identical_to_expression_assign) and flat in the
    # cell count
    cents, assigned_ids = clustering.lloyd(
        q, clustering.init_centroids(q, cells), IVF_ROUNDS, clustering.assign_gemm
    )
    # attach the ranking payload to the final assignment: one vec_id
    # equi-join of skinny (vec_id, cell) rows against the payload relation
    assigned = base.select("vec_id", "e", "n").join(
        assigned_ids.select("vec_id", F.col("cid").alias("cell")), "vec_id"
    )
    return cents, assigned


def _probe_cells(queries: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, cell): each query's nprobe nearest final centroids by the
    same exact integer L2 the index was trained on (ties to lowest cid)."""
    from pyspark.sql.window import Window
    from .clustering import _dist2

    d = queries.crossJoin(F.broadcast(cents)).select(
        "query_id", F.col("cid").alias("cell"),
        _dist2(F.col("qqv"), F.col("cq")).alias("d2"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cell")
    )


def ann_ivf_topk(embeddings: DataFrame, query_vec_id: int, k: int = TOP_K) -> DataFrame:
    """IVF ANN with k-means-trained centroids: assign every vector to its
    nearest centroid (2 exact Lloyd rounds, operators/clustering.py), probe
    the query's nprobe nearest cells, rank by exact cosine inside.  The
    index CONFIGURATION derives from the corpus size (cells ~ sqrt(N),
    nprobe ~ N^(1/4) — ivf_cells/ivf_nprobe above), so candidates per
    query are ~N^(3/4) = o(N) and the probed fraction shrinks as the data
    grows; at 100 TB `cell` is the partition key — the scan prunes to
    nprobe/cells of the corpus; the inner ranking is the brute-force
    kernel over that bounded candidate set.  The count() deriving N is one
    parquet-metadata job, paid once at index-build time."""
    cells = ivf_cells(embeddings.count())
    base = _ivf_base(embeddings)
    cents, assigned = _ivf_train(base, cells)
    q = base.filter(F.col("vec_id") == query_vec_id).limit(1).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"), F.col("n").alias("qn"), F.col("qv").alias("qqv"),
    )
    qcells = _probe_cells(q, cents, ivf_nprobe(cells)).select("cell")
    return (
        assigned.join(F.broadcast(qcells), "cell")
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q.select("qe", "qn")))
        .select(
            "vec_id",
            "cell",
            fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


KNN_QUERIES = 8
KNN_K = 3


def knn_join(embeddings: DataFrame, n_queries: int = KNN_QUERIES, k: int = KNN_K) -> DataFrame:
    """Batch k-NN join: top-k exact cosine neighbours for EVERY vector in a
    query set (here the first n_queries ids) in one pass over the corpus.

    The query set broadcasts; the corpus scans once and each row scores
    against all queries (embarrassingly parallel, no corpus self-join).  The
    per-query top-k is a row_number window partitioned by query id -- the
    shuffle carries |corpus| x n_queries skinny (id, id, score) rows, never
    the vectors.  At 100 TB with a big query set, the same shape runs per
    query-batch (chunk the broadcast), keeping memory bounded."""
    from pyspark.sql import Window

    base = _norms(embeddings)
    # limit(n_queries) is a no-op on the key-bounded filter; it pins the
    # broadcast side's cardinality in the plan itself (guard-checkable)
    q = base.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "cos_sim", F.col("rn").cast("long").alias("rn"))
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------

_SQL_BASE = """
base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)
"""


def cosine_topk_sql(query_vec_id: int, k: int = TOP_K) -> str:
    return f"""
WITH {_SQL_BASE}
SELECT b.vec_id, FLOOR((list_cosine_similarity(b.e, q.e)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM base b, (SELECT e FROM base WHERE vec_id = {query_vec_id}) q
WHERE b.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, b.vec_id ASC
LIMIT {k}
"""


def cosine_neardup_pairs_sql(threshold: float = NEARDUP_THRESHOLD) -> str:
    return f"""
WITH {_SQL_BASE}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       FLOOR((list_cosine_similarity(a.e, b.e)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE FLOOR((list_cosine_similarity(a.e, b.e)) * 1000000.0 + 0.5) / 1000000.0 >= {threshold}
"""


def _sql_bucket(e: str) -> str:
    terms = []
    for p, plane in enumerate(HYPERPLANES):
        lit = "[" + ", ".join(f"{float(c)}" for c in plane) + "]"
        terms.append(f"(CASE WHEN list_dot_product({e}, {lit}) > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def ann_lsh_topk_sql(query_vec_id: int, k: int = TOP_K) -> str:
    return f"""
WITH {_SQL_BASE},
bk AS (SELECT vec_id, e, {_sql_bucket('e')} AS bucket FROM base)
SELECT b.vec_id, b.bucket, FLOOR((list_cosine_similarity(b.e, q.e)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM bk b, (SELECT e, bucket FROM bk WHERE vec_id = {query_vec_id}) q
WHERE b.bucket = q.bucket AND b.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, b.vec_id ASC
LIMIT {k}
"""


def knn_join_sql(n_queries: int = KNN_QUERIES, k: int = KNN_K) -> str:
    return f"""
WITH {_SQL_BASE},
q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < {n_queries})
SELECT query_id, vec_id, cos_sim, rn FROM (
  SELECT q.query_id, b.vec_id,
         FLOOR((list_cosine_similarity(b.e, q.qe)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY FLOOR((list_cosine_similarity(b.e, q.qe)) * 1000000.0 + 0.5) / 1000000.0 DESC, b.vec_id ASC
         ) AS BIGINT) AS rn
  FROM base b CROSS JOIN q
  WHERE b.vec_id != q.query_id
) WHERE rn <= {k}
ORDER BY query_id, rn
"""


# DuckDB replay of the k-means IVF index (corpus-derived cell count,
# IVF_ROUNDS exact Lloyd rounds on the micro-unit grid -- the same
# arithmetic as the x_sim_kmeans oracle, see operators/clustering.py for
# the determinism argument), shared by the topk and recall oracles.  The
# `p` CTE re-derives ivf_cells/ivf_nprobe from COUNT(*) (FLOOR over IEEE
# sqrt == isqrt for N < 2^52, see ivf_cells), so the oracle replays the
# production configuration at ANY corpus size.  `assigned` is
# (vec_id, e, cell); `cent2` the final centroid components by position.
def _sql_ivf_index(train_pred: str = "TRUE") -> str:
    """The IVF index CTE chain (config, quantization, init, one Lloyd
    recompute, final assignment).  `train_pred` (a SQL predicate over
    vec_id) restricts the TRAINING population -- cell count, init, the
    Lloyd round -- while the final `assigned` relation always covers every
    vector: with the default TRUE this is the classic train-on-everything
    index, with an id-split predicate it is the add-without-retrain
    lifecycle (x_sim_ann_index_insert): new vectors are assigned to the
    EXISTING centroids exactly as FAISS `add` does."""
    return f"""
p AS (
  SELECT cells,
         GREATEST({IVF_MIN_NPROBE},
                  CAST(FLOOR(SQRT(CAST(cells AS DOUBLE))) AS INT)) AS nprobe
  FROM (SELECT GREATEST({IVF_MIN_CELLS},
                        CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS INT)) AS cells
        FROM embeddings WHERE {train_pred})
),
qz AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
init AS (
  SELECT cid, cq FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cq
    FROM qz WHERE {train_pred}
  ) s, p WHERE s.cid < p.cells
),
comp AS (SELECT vec_id, r.i, qv[r.i] AS x FROM qz, range(1, 65) r(i)),
tcomp AS (
  SELECT vec_id, r.i, qv[r.i] AS x FROM qz, range(1, 65) r(i)
  WHERE {train_pred}
),
ccomp1 AS (SELECT cid, r.i, cq[r.i] AS c FROM init, range(1, 65) r(i)),
d1 AS (
  SELECT tcomp.vec_id, ccomp1.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM tcomp JOIN ccomp1 ON tcomp.i = ccomp1.i
  GROUP BY 1, 2
),
m1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d1) WHERE rn = 1
),
sums AS (
  SELECT m1.cid, tcomp.i, CAST(SUM(tcomp.x) AS BIGINT) AS s, COUNT(*) AS n
  FROM m1 JOIN tcomp USING (vec_id) GROUP BY 1, 2
),
cent2 AS (
  -- floored half-up mean; DuckDB's // truncates toward zero, so subtract
  -- the mathematical mod first (truncate == floor on the exact quotient)
  SELECT cid, i,
         ((2*s + n) - (((2*s + n) % (2*n) + (2*n)) % (2*n))) // (2*n) AS c
  FROM sums
),
d2 AS (
  SELECT comp.vec_id, cent2.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM comp JOIN cent2 USING (i) GROUP BY 1, 2
),
assigned AS (
  SELECT a.vec_id, qz.e, a.cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d2) a JOIN qz USING (vec_id) WHERE a.rn = 1
)
"""


_SQL_IVF_INDEX = _sql_ivf_index()


def ann_ivf_topk_sql(query_vec_id: int, k: int = TOP_K) -> str:
    return f"""
WITH {_SQL_IVF_INDEX},
qcells AS (
  SELECT cell FROM (
    SELECT cid AS cell,
           row_number() OVER (
             ORDER BY CAST(SUM((q.qv[cent2.i] - cent2.c) * (q.qv[cent2.i] - cent2.c)) AS BIGINT) ASC,
                      cid ASC) AS rn
    FROM (SELECT qv FROM qz WHERE vec_id = {query_vec_id}) q, cent2
    GROUP BY cid
  ) r, p WHERE r.rn <= p.nprobe
)
SELECT a.vec_id, a.cell,
       FLOOR((list_cosine_similarity(a.e, q.e)) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
FROM assigned a
JOIN qcells USING (cell)
CROSS JOIN (SELECT e FROM qz WHERE vec_id = {query_vec_id}) q
WHERE a.vec_id != {query_vec_id}
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT {k}
"""


SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_MIN_K = 8
SEMDEDUP_VECS_PER_CLUSTER = 250


def semdedup_k(n: int) -> int:
    """Cluster count for an N-vector corpus: max(8, N // 250) — the SemDeDup
    recipe's k-with-N scaling that keeps the expected cluster size (and the
    per-cluster |c|^2 pairwise GEMM term) CONSTANT as the corpus grows.
    This is the formula the 10x/30x/100x scale smokes measured (k = 8K at
    K-fold sf0.1: 4.9 s / 14.9 s / 45.1 s, linear); deriving it inside the
    gated entry (and re-deriving it in the oracle from COUNT(*)) puts the
    production configuration on the hard gate instead of a fixed literal.
    Integer floor division matches DuckDB's `//` for non-negative N."""
    return max(SEMDEDUP_MIN_K, n // SEMDEDUP_VECS_PER_CLUSTER)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embeddings with
    the exact integer-grid k-means (operators/clustering.py, 2 Lloyd
    rounds), then WITHIN each cluster drop every vector that has a
    lower-id near-duplicate (cosine >= threshold) -- the keep-lowest-id
    rule that makes the survivor set deterministic on any engine.

    Scale design: the pairwise comparison is confined to single clusters,
    and WITHIN a cluster it runs as the blocked numpy GEMM
    (cosine_neardup_blocked's kernel, BLAS instead of a 64-element
    interpreted fold per pair) over a (cluster, block-pair) grid -- only
    small block-list rows move, every grid cell computes independently on
    its own partition, and no all-pairs join ever forms.  The quadratic
    term is per-cluster |cluster|^2; k DERIVES from the corpus size by
    default (semdedup_k: max(8, N // 250), the SemDeDup recipe's k-with-N
    scaling that keeps clusters bounded), so the gated entry runs the same
    configuration the 100x smoke measured.  Pass k explicitly to override.
    Output: (vec_id, cluster, kept)."""
    import numpy as np
    import pandas as pd

    from .clustering import assign_gemm, kmeans_assignments

    from pyspark.sql.window import Window

    if k is None:
        k = semdedup_k(embeddings.count())
    assigned = kmeans_assignments(
        embeddings, k=k, iters=2, kernel=assign_gemm
    ).select("vec_id", "cluster")
    base = _norms(embeddings).join(assigned, "vec_id")
    # blocks are RANK-within-cluster, not global vec_id ranges: cluster
    # members have scattered ids, so global blocks would hold ~1 vector
    # each and the block-pair grid would degenerate to an all-pairs row
    # explosion (measured 110 s at 100x before this; a cluster <= 512
    # members is exactly ONE dense block after the change)
    wrank = Window.partitionBy("cluster").orderBy("vec_id")
    unit = base.select(
        "cluster",
        F.floor((F.row_number().over(wrank) - 1) / BLOCK_SIZE).alias("block"),
        "vec_id",
        F.zip_with("e", F.array_repeat(F.col("n"), 64), lambda x, nn: x / nn).alias("u"),
    )
    blocks = unit.groupBy("cluster", "block").agg(
        F.collect_list(F.struct("vec_id", "u")).alias("vs")
    )
    ga = blocks.select(
        F.col("cluster").alias("ca"), F.col("block").alias("ba"), F.col("vs").alias("va")
    )
    gb = blocks.select(
        F.col("cluster").alias("cb"), F.col("block").alias("bb"), F.col("vs").alias("vb")
    )
    grid = ga.join(gb, (F.col("ca") == F.col("cb")) & (F.col("ba") <= F.col("bb")))

    def dup_gemm(batches):
        for pdf in batches:
            hits: list[np.ndarray] = []
            for _, row in pdf.iterrows():
                ia = np.array([v["vec_id"] for v in row["va"]])
                ib = np.array([v["vec_id"] for v in row["vb"]])
                ma = np.array([v["u"] for v in row["va"]])
                mb = np.array([v["u"] for v in row["vb"]])
                # the PORTABLE half-up form (functions.fround / the oracle's
                # FLOOR(x*1e6+0.5)/1e6), not np.round (half-to-even) -- a
                # banker's tie at the 6th dp would diverge from DuckDB
                sims = np.floor((ma @ mb.T) * 1e6 + 0.5) / 1e6
                ai, bi = np.nonzero(sims >= threshold)
                va, vb = ia[ai], ib[bi]
                keep = va < vb
                if keep.any():
                    hits.append(vb[keep])
            out = np.unique(np.concatenate(hits)) if hits else np.array([], dtype="int64")
            yield pd.DataFrame({"vec_id": out.astype("int64")})

    dup_ids = grid.mapInPandas(dup_gemm, "vec_id long").distinct()
    return base.select("vec_id", "cluster").join(
        dup_ids.withColumn("__dup", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id", "cluster", F.col("__dup").isNull().alias("kept")
    )


def semantic_dedup_sql(threshold: float = SEMDEDUP_THRESHOLD) -> str:
    # replay: quantized k-means (the x_sim_kmeans oracle arithmetic) with k
    # RE-DERIVED from COUNT(*) exactly as semdedup_k does (DuckDB's // is
    # floor division for non-negative operands), then within-cluster
    # pairwise cosine with the keep-lowest-id rule
    return f"""
WITH p AS (
  SELECT GREATEST({SEMDEDUP_MIN_K},
                  CAST(COUNT(*) // {SEMDEDUP_VECS_PER_CLUSTER} AS INT)) AS k
  FROM embeddings
),
qz AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
init AS (
  SELECT cid, cq FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv AS cq
    FROM qz
  ) s, p WHERE s.cid < p.k
),
comp AS (SELECT vec_id, r.i, qv[r.i] AS x FROM qz, range(1, 65) r(i)),
ccomp1 AS (SELECT cid, r.i, cq[r.i] AS c FROM init, range(1, 65) r(i)),
d1 AS (
  SELECT comp.vec_id, ccomp1.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM comp JOIN ccomp1 ON comp.i = ccomp1.i GROUP BY 1, 2
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
  SELECT cid, i,
         ((2*s + n) - (((2*s + n) % (2*n) + (2*n)) % (2*n))) // (2*n) AS c
  FROM sums
),
d2 AS (
  SELECT comp.vec_id, cent2.cid, CAST(SUM((x - c) * (x - c)) AS BIGINT) AS dist2
  FROM comp JOIN cent2 USING (i) GROUP BY 1, 2
),
assigned AS (
  SELECT a.vec_id, qz.e, a.cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
    FROM d2) a JOIN qz USING (vec_id) WHERE a.rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE FLOOR((list_cosine_similarity(a.e, b.e)) * 1000000.0 + 0.5) / 1000000.0
        >= {threshold}
)
SELECT s.vec_id, CAST(s.cluster AS INT) AS cluster,
       d.vec_id IS NULL AS kept
FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
"""


def ann_recall(
    embeddings: DataFrame, n_queries: int = KNN_QUERIES, k: int = TOP_K
) -> DataFrame:
    """Recall@k of the PRODUCTION index (k-means IVF, ann_ivf_topk's exact
    configuration) against exact brute force, per query: the evaluation loop
    every ANN deployment needs before trusting the approximate path.  Both
    rankings use the same rounded score and deterministic tie-break, so the
    result is engine-exact (the oracle replays the training rounds and both
    searches); the exact arm is one broadcast pass over the corpus (the
    knn_join shape), the approximate arm touches only the queries' probed
    cells (nprobe/cells of the corpus — a fraction that SHRINKS as N grows,
    see ivf_cells/ivf_nprobe).

    Round-5 history: the single-bucket 4-plane sign-LSH this evaluator
    originally measured scored 0.0-0.4 on the synthetic near-orthogonal
    embeddings (neighbors at cosine 0.24-0.5 vs ~0 random give each
    hyperplane a ~0.58 agreement probability -- barely better than a coin,
    so any recall>=0.8 LSH config needs >60% of the corpus as candidates).
    The k-means IVF measures >= 0.8 on every query at the derived
    22-cell/5-probe gate configuration on the same data."""
    cells = ivf_cells(embeddings.count())
    base = _ivf_base(embeddings)
    cents, assigned = _ivf_train(base, cells)
    # `assigned` feeds BOTH ranking arms (exact + approx); left lazy the
    # k-means assignment GEMM ran twice
    assigned = materialize(assigned, "ivf_assigned")
    q = base.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
        F.col("qv").alias("qqv"),
    )
    qcells = _probe_cells(q, cents, ivf_nprobe(cells))
    from pyspark.sql.window import Window

    score = fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )

    def topk(pairs: DataFrame) -> DataFrame:
        return (
            pairs.filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", score.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id")
        )

    qvecs = q.select("query_id", "qe", "qn")
    exact = topk(assigned.crossJoin(F.broadcast(qvecs)))
    approx = topk(
        assigned.join(F.broadcast(qcells), "cell").join(F.broadcast(qvecs), "query_id")
    )
    joined = exact.join(
        approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        ratio(F.count("hit"), F.count(F.lit(1))).alias("recall"),
    )


def ann_recall_sql(n_queries: int = KNN_QUERIES, k: int = TOP_K) -> str:
    from ..functions import sql_ratio

    fr6 = "FLOOR((list_cosine_similarity(b.e, q.qe)) * 1000000.0 + 0.5) / 1000000.0"
    recall = sql_ratio("COUNT(a.vec_id)", "COUNT(*)")
    return f"""
WITH {_SQL_IVF_INDEX},
q AS (SELECT vec_id AS query_id, e AS qe, qv AS qqv
      FROM qz WHERE vec_id < {n_queries}),
qcells AS (
  SELECT query_id, cell FROM (
    SELECT q.query_id, cent2.cid AS cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CAST(SUM((q.qqv[cent2.i] - cent2.c) * (q.qqv[cent2.i] - cent2.c)) AS BIGINT) ASC,
                      cent2.cid ASC) AS rn
    FROM q, cent2 GROUP BY q.query_id, cent2.cid
  ) r, p WHERE r.rn <= p.nprobe
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {fr6} DESC, b.vec_id ASC) AS rn
    FROM assigned b CROSS JOIN q WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {fr6} DESC, b.vec_id ASC) AS rn
    FROM assigned b
    JOIN qcells ON b.cell = qcells.cell
    JOIN q ON q.query_id = qcells.query_id
    WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       {recall} AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


# ---------------------------------------------------------------------------
# Matryoshka truncation evaluator (Kusupati et al., NeurIPS 2022): how much
# recall the PREFIX of an embedding buys.  MRL-trained models pack the
# most informative directions first, so retrieval systems run a cheap
# truncated-dim first pass and re-rank survivors at full dim; this
# evaluator measures the truncated arm's recall@k against the full-dim
# exact ranking -- on non-MRL embeddings (like the synthetic table) it
# measures what naive truncation loses, which is the baseline the MRL
# paper improves on.
# ---------------------------------------------------------------------------

MRL_DIM = 8  # prefix dims evaluated (full = 64)


def mrl_frontload(embeddings: DataFrame) -> DataFrame:
    """Deterministic MRL-SHAPED twin of the corpus: dimension block
    i div MRL_DIM is scaled by 2^-(i div MRL_DIM), concentrating the
    vector's energy in the leading dims exactly the way Matryoshka
    training does (Kusupati et al. 2022, Fig. 2's energy decay) -- the
    population on which prefix retrieval is SUPPOSED to work.  Pairing it
    with the unchanged uniform-energy corpus makes the evaluator show the
    spread MRL creates instead of a lone near-zero baseline.  Scaling is
    by powers of two only, so every transformed coordinate is exact in a
    double and both engines derive bit-identical vectors."""
    return embeddings.select(
        F.col("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
            " / pow(CAST(2.0 AS DOUBLE), CAST(i div 8 AS DOUBLE)))"
        ).alias("embedding"),
    )


def mrl_recall_populations(
    embeddings: DataFrame,
    n_queries: int = KNN_QUERIES,
    k: int = TOP_K,
    dim: int = MRL_DIM,
) -> DataFrame:
    """mrl_recall over BOTH populations -- the raw uniform-energy corpus
    (naive-truncation baseline) and its front-loaded MRL-shaped twin --
    tagged by a population column, so one result shows the recall spread
    MRL training buys."""
    uni = mrl_recall(embeddings, n_queries, k, dim).select(
        F.lit("uniform").alias("population"),
        "query_id",
        "n_exact",
        "n_hits",
        "recall",
    )
    fl = mrl_recall(mrl_frontload(embeddings), n_queries, k, dim).select(
        F.lit("frontloaded").alias("population"),
        "query_id",
        "n_exact",
        "n_hits",
        "recall",
    )
    return uni.unionByName(fl)


def mrl_recall(
    embeddings: DataFrame,
    n_queries: int = KNN_QUERIES,
    k: int = TOP_K,
    dim: int = MRL_DIM,
) -> DataFrame:
    """Per query: recall@k of prefix-dim cosine ranking vs full-dim exact.

    ONE corpus x queries pass computes BOTH scores (the truncated arm costs
    a slice, not a second scan); two ranking windows share the pass.  At
    100 TB the production layout stores the prefix slice as its own column
    (or a separate narrow table) so the first pass scans dim/64 of the
    bytes -- here both derive from one array column."""
    from pyspark.sql.window import Window

    base = _norms(embeddings).withColumn(
        "e8", F.slice(F.col("e"), 1, dim)
    ).withColumn("n8", F.sqrt(dot(F.col("e8"), F.col("e8"))))
    q = base.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
        F.col("e8").alias("qe8"),
        F.col("n8").alias("qn8"),
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6).alias(
                "cos_full"
            ),
            fround(
                dot(F.col("e8"), F.col("qe8")) / (F.col("n8") * F.col("qn8")), 6
            ).alias("cos_pre"),
        )
    )

    def topk(col: str) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col(col).desc(), F.col("vec_id").asc()
        )
        return (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id")
        )

    exact = topk("cos_full")
    approx = topk("cos_pre")
    joined = exact.join(
        approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("n_hits"),
        ratio(F.count("hit"), F.count(F.lit(1))).alias("recall"),
    )


#: DuckDB twin of mrl_frontload's per-dimension scaling (1-based i; powers
#: of two only, so both engines' doubles are bit-identical)
_SQL_MRL_FRONTLOAD = (
    "list_transform(generate_series(1, len(embedding)),"
    " i -> CAST(embedding[i] AS DOUBLE)"
    " / pow(CAST(2.0 AS DOUBLE), CAST((i - 1) // 8 AS DOUBLE)))"
)


def mrl_recall_sql(
    n_queries: int = KNN_QUERIES,
    k: int = TOP_K,
    dim: int = MRL_DIM,
    base_expr: str = "list_transform(embedding, x -> CAST(x AS DOUBLE))",
) -> str:
    from ..functions import sql_ratio

    full = "FLOOR((list_cosine_similarity(b.e, q.qe)) * 1000000.0 + 0.5) / 1000000.0"
    pre = (
        f"FLOOR((list_cosine_similarity(b.e[1:{dim}], q.qe[1:{dim}]))"
        " * 1000000.0 + 0.5) / 1000000.0"
    )
    recall = sql_ratio("COUNT(a.vec_id)", "COUNT(*)")
    return f"""
WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         {base_expr} AS e
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < {n_queries}),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {full} DESC, b.vec_id ASC) AS rn
    FROM base b CROSS JOIN q WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {pre} DESC, b.vec_id ASC) AS rn
    FROM base b CROSS JOIN q WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       {recall} AS recall
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


def mrl_recall_populations_sql(
    n_queries: int = KNN_QUERIES, k: int = TOP_K, dim: int = MRL_DIM
) -> str:
    uni = mrl_recall_sql(n_queries, k, dim)
    fl = mrl_recall_sql(n_queries, k, dim, base_expr=_SQL_MRL_FRONTLOAD)
    return f"""
SELECT 'uniform' AS population, * FROM ({uni})
UNION ALL
SELECT 'frontloaded' AS population, * FROM ({fl})
"""


IVF_SWEEP = (1, 2, 4, 8)


def ann_recall_sweep(
    embeddings: DataFrame,
    n_queries: int = KNN_QUERIES,
    k: int = TOP_K,
    sweep: tuple[int, ...] = IVF_SWEEP,
) -> DataFrame:
    """(nprobe, query_id, n_candidates, n_exact, n_hits, recall): the
    recall-vs-cost CURVE of the IVF index across probe counts -- the
    measurement an ANN deployment tunes nprobe with (FAISS's standard
    nprobe sweep), where x_sim_ann_recall reports only the production
    point.  n_candidates is the exact number of corpus rows the probe
    re-ranks for that query, so each sweep row pairs its recall with its
    cost; recall is non-decreasing in nprobe by construction (probed cell
    sets are nested -- pytest-pinned).

    The index trains ONCE (the assigned relation is checkpointed; each arm
    is a broadcast cell-filter + top-k over it) and the exact arm computes
    once, so the sweep costs index + exact + sum of probe arms, not
    len(sweep) trainings."""
    from pyspark.sql.window import Window

    cells = ivf_cells(embeddings.count())
    base = _ivf_base(embeddings)
    cents, assigned = _ivf_train(base, cells)
    assigned = materialize(assigned, "ivf_assigned")
    q = base.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n").alias("qn"),
        F.col("qv").alias("qqv"),
    )
    score = fround(dot(F.col("e"), F.col("qe")) / (F.col("n") * F.col("qn")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )

    def topk(pairs: DataFrame) -> DataFrame:
        return (
            pairs.filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", score.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "vec_id")
        )

    qvecs = q.select("query_id", "qe", "qn")
    exact = materialize(topk(assigned.crossJoin(F.broadcast(qvecs))), "sweep_exact")
    out = None
    for np_ in sweep:
        qc = _probe_cells(q, cents, np_)
        cand = (
            assigned.join(F.broadcast(qc), "cell")
            .join(F.broadcast(qvecs), "query_id")
            .filter(F.col("vec_id") != F.col("query_id"))
        )
        ncand = cand.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates")
        )
        approx = topk(cand)
        arm = (
            exact.join(
                approx.withColumn("hit", F.lit(1)), ["query_id", "vec_id"], "left"
            )
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_hits"),
                ratio(F.count("hit"), F.count(F.lit(1))).alias("recall"),
            )
            .join(ncand, "query_id", "left")
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "query_id",
                F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                "n_exact",
                "n_hits",
                "recall",
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def ann_recall_sweep_sql(
    n_queries: int = KNN_QUERIES,
    k: int = TOP_K,
    sweep: tuple[int, ...] = IVF_SWEEP,
) -> str:
    from ..functions import sql_ratio

    fr6 = "FLOOR((list_cosine_similarity(b.e, q.qe)) * 1000000.0 + 0.5) / 1000000.0"
    recall = sql_ratio("COUNT(a.vec_id)", "COUNT(*)")
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({np} AS BIGINT) AS nprobe, e.query_id,
       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       {recall} AS recall
FROM exact e
LEFT JOIN (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {fr6} DESC, b.vec_id ASC) AS rn
    FROM assigned b
    JOIN qrank c ON b.cell = c.cell AND c.rn <= {np}
    JOIN q ON q.query_id = c.query_id
    WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
) a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
LEFT JOIN (
  SELECT c.query_id, COUNT(*) AS n_candidates
  FROM assigned b JOIN qrank c ON b.cell = c.cell AND c.rn <= {np}
  WHERE b.vec_id != c.query_id
  GROUP BY 1
) nc ON e.query_id = nc.query_id
GROUP BY e.query_id, nc.n_candidates"""
        for np in sweep
    )
    return f"""
WITH {_SQL_IVF_INDEX},
q AS (SELECT vec_id AS query_id, e AS qe, qv AS qqv
      FROM qz WHERE vec_id < {n_queries}),
qrank AS (
  SELECT query_id, cell, rn FROM (
    SELECT q.query_id, cent2.cid AS cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY CAST(SUM((q.qqv[cent2.i] - cent2.c) * (q.qqv[cent2.i] - cent2.c)) AS BIGINT) ASC,
                      cent2.cid ASC) AS rn
    FROM q, cent2 GROUP BY q.query_id, cent2.cid
  )
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {fr6} DESC, b.vec_id ASC) AS rn
    FROM assigned b CROSS JOIN q WHERE b.vec_id != q.query_id
  ) WHERE rn <= {k}
)
{arms}
"""


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign-projection evaluator: the DATA-INDEPENDENT
# dimensionality reduction next to the prefix-truncation evaluator above.
# A fixed dense +/-1 matrix (Achlioptas 2003's database-friendly JL variant)
# mixes EVERY input dimension into each output dimension, so the projection
# quality cannot depend on where a vector keeps its energy -- the property
# prefix truncation lacks by construction.  The evaluator measures both
# methods at the same compressed width against the full-dim exact ranking,
# over the raw corpus AND a deterministic BACK-loaded twin (energy in the
# trailing dim blocks): there the prefix arm ranks by dims that carry none
# of the full ranking's signal (recall ~ k/N, random), while the JL arm is
# unchanged -- the measured case for preferring an oblivious projection when
# the energy profile is unknown or adversarial.
# ---------------------------------------------------------------------------

JL_IN_DIM = 64
JL_DIM = 16  # compressed width for both arms


def jl_signs(d_in: int = JL_IN_DIM, d_out: int = JL_DIM) -> list[list[int]]:
    """Deterministic +/-1 matrix: sign(i, j) from the first md5 hex digit of
    "i_j" -- reproducible everywhere (no RNG state), embedded as literals in
    both engines' expressions so the projection is bit-identical."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for j in range(d_out)
        ]
        for i in range(d_in)
    ]


#: backloaded twin: dim block i div 8 scaled by 2^-(7 - i div 8) -- energy
#: concentrated in the TRAILING blocks; powers of two only (bit-exact).
_JL_BACKLOAD = (
    "transform(embedding, (x, i) -> CAST(x AS DOUBLE)"
    " / pow(CAST(2.0 AS DOUBLE), CAST(7 - (i div 8) AS DOUBLE)))"
)
_SQL_JL_BACKLOAD = (
    "list_transform(generate_series(1, len(embedding)),"
    " i -> CAST(embedding[i] AS DOUBLE)"
    " / pow(CAST(2.0 AS DOUBLE), CAST(7 - ((i - 1) // 8) AS DOUBLE)))"
)


def _jl_y_expr(signs: list[list[int]]) -> str:
    """Spark SQL: the projected integer vector y (one exact int64 sum per
    output dim) from the micro-unit vector column `m`."""
    cols = []
    for j in range(len(signs[0])):
        arr = ",".join(f"{signs[i][j]}L" for i in range(len(signs)))
        cols.append(
            f"aggregate(zip_with(m, array({arr}), (x, s) -> x * s),"
            " 0L, (a, b) -> a + b)"
        )
    return "array(" + ",".join(cols) + ")"


def jl_recall_populations(
    embeddings: DataFrame, n_queries: int = KNN_QUERIES, k: int = TOP_K
) -> DataFrame:
    """(population, method, query_id, n_exact, n_hits, recall): recall@k of
    the JL sign projection vs prefix truncation at the SAME compressed
    width (JL_DIM of JL_IN_DIM), each against its population's full-dim
    exact ranking, over the raw corpus and the back-loaded twin.

    Everything ranked is exact int64: vectors quantize to micro-units, the
    projection is +/-1 integer sums, every dot product is an integer fold;
    the one float per pair is the final cosine division, 1e-6-quantized.
    One corpus x queries pass per population computes all three cosines
    (full / jl / prefix); three ranking windows share it.  Scale shape: the
    query set broadcasts (bounded by n_queries), the corpus is scanned
    once per population, and the projection itself is row-local -- at
    100 TB the projected column would be written once and reused, exactly
    like the MRL prefix slice."""
    from pyspark.sql.window import Window

    signs = jl_signs()
    out: DataFrame | None = None
    for pop, base_expr in (
        ("uniform", "transform(embedding, x -> CAST(x AS DOUBLE))"),
        ("backloaded", _JL_BACKLOAD),
    ):
        base = (
            embeddings.select(
                F.col("vec_id").cast("long").alias("vec_id"),
                F.expr(base_expr).alias("e"),
            )
            .withColumn(
                "m",
                F.expr(
                    "transform(e, x -> CAST(round(x * 1000000.0) AS BIGINT))"
                ),
            )
            .withColumn("y", F.expr(_jl_y_expr(signs)))
            .withColumn("p", F.slice(F.col("m"), 1, JL_DIM))
        )

        def ldot(a: str, b: str) -> Column:
            return F.expr(
                f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
                " 0L, (acc, v) -> acc + v)"
            )

        base = base.select(
            "vec_id", "m", "y", "p",
            F.sqrt(ldot("m", "m").cast("double")).alias("nm"),
            F.sqrt(ldot("y", "y").cast("double")).alias("ny"),
            F.sqrt(ldot("p", "p").cast("double")).alias("np"),
        )
        q = base.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("qm"),
            F.col("y").alias("qy"),
            F.col("p").alias("qp"),
            F.col("nm").alias("qnm"),
            F.col("ny").alias("qny"),
            F.col("np").alias("qnp"),
        )
        pairs = (
            base.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "vec_id",
                fround(
                    ldot("m", "qm").cast("double") / (F.col("nm") * F.col("qnm")), 6
                ).alias("cos_full"),
                fround(
                    ldot("y", "qy").cast("double") / (F.col("ny") * F.col("qny")), 6
                ).alias("cos_jl"),
                fround(
                    ldot("p", "qp").cast("double") / (F.col("np") * F.col("qnp")), 6
                ).alias("cos_pre"),
            )
        )

        def topk(col: str) -> DataFrame:
            w = Window.partitionBy("query_id").orderBy(
                F.col(col).desc(), F.col("vec_id").asc()
            )
            return (
                pairs.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= k)
                .select("query_id", "vec_id")
            )

        exact = topk("cos_full")
        for method, col in (("jl16", "cos_jl"), ("prefix16", "cos_pre")):
            joined = exact.join(
                topk(col).withColumn("hit", F.lit(1)),
                ["query_id", "vec_id"],
                "left",
            )
            r = joined.groupBy("query_id").agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("hit").alias("n_hits"),
                ratio(F.count("hit"), F.count(F.lit(1))).alias("recall"),
            ).select(
                F.lit(pop).alias("population"),
                F.lit(method).alias("method"),
                "query_id", "n_exact", "n_hits", "recall",
            )
            out = r if out is None else out.unionByName(r)
    return out


def _sql_jl_y(signs: list[list[int]]) -> str:
    cols = []
    for j in range(len(signs[0])):
        arr = ",".join(str(signs[i][j]) for i in range(len(signs)))
        cols.append(
            f"CAST(list_sum(list_transform(generate_series(1, {len(signs)}),"
            f" i -> m[i] * ([{arr}])[i])) AS BIGINT)"
        )
    return "[" + ",".join(cols) + "]"


def jl_recall_populations_sql(
    n_queries: int = KNN_QUERIES, k: int = TOP_K
) -> str:
    from ..functions import sql_ratio

    signs = jl_signs()
    ldot = (
        "CAST(list_sum(list_transform(generate_series(1, len({a})),"
        " i -> {a}[i] * {b}[i])) AS DOUBLE)"
    )

    def cos(a: str, qa: str) -> str:
        d = ldot.format(a=f"b.{a}", b=f"q.q{a}")
        na = ldot.format(a=f"b.{a}", b=f"b.{a}")
        nq = ldot.format(a=f"q.q{a}", b=f"q.q{a}")
        return f"FLOOR(({d} / (sqrt({na}) * sqrt({nq}))) * 1000000.0 + 0.5) / 1000000.0"

    recall = sql_ratio("COUNT(a.vec_id)", "COUNT(*)")

    def population(pop: str, base_expr: str) -> str:
        return f"""
WITH raw AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, {base_expr} AS e
  FROM embeddings
),
base AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(ROUND(x * 1000000.0) AS BIGINT)) AS m
  FROM raw
),
proj AS (SELECT vec_id, m, {_sql_jl_y(signs)} AS y, m[1:{JL_DIM}] AS p FROM base),
q AS (SELECT vec_id AS query_id, m AS qm, y AS qy, p AS qp
      FROM proj WHERE vec_id < {n_queries}),
pairs AS (
  SELECT q.query_id, b.vec_id,
         {cos('m', 'm')} AS cos_full,
         {cos('y', 'y')} AS cos_jl,
         {cos('p', 'p')} AS cos_pre
  FROM proj b CROSS JOIN q WHERE b.vec_id != q.query_id
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_full DESC, vec_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= {k}
),
jl AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_jl DESC, vec_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= {k}
),
pre AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_pre DESC, vec_id ASC) AS rn
    FROM pairs
  ) WHERE rn <= {k}
)
SELECT '{pop}' AS population, 'jl16' AS method, e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       {recall} AS recall
FROM exact e LEFT JOIN jl a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
UNION ALL
SELECT '{pop}' AS population, 'prefix16' AS method, e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
       {recall} AS recall
FROM exact e LEFT JOIN pre a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""

    uni = population("uniform", "list_transform(embedding, x -> CAST(x AS DOUBLE))")
    bl = population("backloaded", _SQL_JL_BACKLOAD)
    return f"SELECT * FROM ({uni}) UNION ALL SELECT * FROM ({bl})"


# ---------------------------------------------------------------------------
# NN-Descent (Dong et al., WWW 2011): graph-based ANN refinement -- the
# HNSW-family construction idea in its distributable batch form.
# ---------------------------------------------------------------------------

ND_K = 10        # neighbors per node (and the recall@K cut)
ND_ROUNDS = 3    # local-join refinement rounds
ND_SEEDINGS = 2  # independent random bucketings seeding the graph
ND_BUCKET = 20   # target members per seed bucket (~2k)
ND_QUERIES = 8   # evaluation query set: vec_id < ND_QUERIES


def nndescent_recall(
    embeddings: DataFrame,
    k: int = ND_K,
    rounds: int = ND_ROUNDS,
    n_queries: int = ND_QUERIES,
) -> DataFrame:
    """kNN-graph construction by NN-Descent, evaluated as recall@K on the
    fixed query set: seed each node's neighbor list from ND_SEEDINGS
    INDEPENDENT md5 bucketings (random blocks of ~ND_BUCKET members; the
    classic random-seed requirement in its blocked, id-space-agnostic
    form), then ROUNDS rounds of the local-join step: candidates(v) = the
    undirected edge set (neighbors + reverse neighbors) plus its 2-hop
    closure through shared nodes, re-ranked by EXACT integer squared-L2,
    keep top-k.  "A neighbor of a neighbor is likely a neighbor" -- each
    round the graph can only tighten, because the candidate pool contains
    the current neighbor list (the pinned monotonicity in
    tests/test_nndescent.py).

    Why MULTIPLE bucketings: any SINGLE blocking traps the 2-hop closure
    inside its own blocks (N(v) and N(N(v)) share v's block -- measured
    first on an IVF-cell seed, where two rounds changed nothing); with two
    independent bucketings a node bridges its bucket under hash 1 to its
    bucket under hash 2, so the closure mixes globally.

    Everything is exact BIGINT on the micro-unit grid (ties (d2, id)), so
    the DuckDB oracle (nndescent_recall_sql) replays seed, every round and
    the exact arm bit-for-bit.

    Scale shape: bucket count derives from N (one count scalar, the
    ivf_cells pattern), so seed blocks stay ~ND_BUCKET rows at any scale;
    every round is two vec_id-keyed equi-joins with fanout bounded by
    (2k)^2 per node and a per-node top-k window; the graph relation is
    N x k rows, materialized per round (bounded, like the kmeans
    centroids).  No stage touches N^2: the exact arm ranks only the
    n_queries evaluation rows.  Output: (query_id, seed_hits, hits,
    recall_seed, recall)."""
    from pyspark.sql.window import Window
    from .clustering import _dist2, quantize
    from .dedup import h60

    n = embeddings.count()
    n_buckets = max(1, n // ND_BUCKET)
    # the quantized corpus is referenced by every round's two distance-join
    # sides, the seed bucketings and the exact arm (~12 references); left
    # lazy each one re-scanned and re-quantized the corpus
    qv = materialize(quantize(embeddings), "nnd_quantized")
    qa = qv.select(F.col("vec_id").alias("v"), F.col("qv").alias("_qa"))
    qb = qv.select(F.col("vec_id").alias("n"), F.col("qv").alias("_qb"))

    def with_d2(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(qa, "v")
            .join(qb, "n")
            .select("v", "n", _dist2(F.col("_qa"), F.col("_qb")).alias("d2"))
        )

    def topk(pairs_d2: DataFrame) -> DataFrame:
        w = Window.partitionBy("v").orderBy(F.col("d2").asc(), F.col("n").asc())
        return (
            pairs_d2.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("v", "n", "d2")
        )

    seedp = None
    for r in range(1, ND_SEEDINGS + 1):
        bk = qv.select(
            "vec_id",
            F.pmod(
                h60(F.concat(F.lit(f"nd{r}-"), F.col("vec_id"))),
                F.lit(n_buckets),
            ).alias("b"),
        )
        a, b = bk.alias("a"), bk.alias("b")
        sp = a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(F.col("a.vec_id").alias("v"), F.col("b.vec_id").alias("n"))
        seedp = sp if seedp is None else seedp.union(sp)
    g0 = materialize(topk(with_d2(seedp.distinct())), "nnd_seed_graph")
    g = g0
    for _ in range(rounds):
        # the undirected edge set feeds BOTH sides of the 2-hop self-join
        # plus the candidate union; materialize so the union+distinct
        # shuffle runs once per round, not three times (N x 2k skinny rows)
        und = (
            g.select("v", "n")
            .union(g.select(F.col("n").alias("v"), F.col("v").alias("n")))
            .distinct()
            .transform(materialize, "nnd_undirected")
        )
        ua, ub = und.alias("ua"), und.alias("ub")
        twohop = (
            ua.join(ub, F.col("ua.n") == F.col("ub.v"))
            .select(F.col("ua.v").alias("v"), F.col("ub.n").alias("n"))
            .filter(F.col("v") != F.col("n"))
        )
        cand = und.union(twohop).distinct()
        g = materialize(topk(with_d2(cand)), "nnd_graph")

    qids = qv.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("v")
    )
    allp = qids.join(
        qv.select(F.col("vec_id").alias("n")), F.col("v") != F.col("n")
    )
    exact = topk(with_d2(allp)).select("v", "n")

    def hits(graph: DataFrame, col: str) -> DataFrame:
        return (
            graph.join(exact, ["v", "n"])
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("long").alias(col))
        )

    return (
        qids.join(hits(g0, "seed_hits"), "v", "left")
        .join(hits(g, "final_hits"), "v", "left")
        .select(
            F.col("v").alias("query_id"),
            F.coalesce("seed_hits", F.lit(0)).cast("long").alias("seed_hits"),
            F.coalesce("final_hits", F.lit(0)).cast("long").alias("hits"),
            fround(
                F.coalesce("seed_hits", F.lit(0)).cast("double") / float(k), 4
            ).alias("recall_seed"),
            fround(
                F.coalesce("final_hits", F.lit(0)).cast("double") / float(k), 4
            ).alias("recall"),
        )
    )


def _nd_dist_sql(pairs: str, out: str) -> str:
    """Exact integer squared-L2 over a (v, n) pair CTE via indexed arrays."""
    return f"""{out} AS (
  SELECT p.v, p.n,
         CAST(SUM((qa.qv[r.i] - qb.qv[r.i]) * (qa.qv[r.i] - qb.qv[r.i]))
              AS BIGINT) AS d2
  FROM {pairs} p
  JOIN qz qa ON qa.vec_id = p.v
  JOIN qz qb ON qb.vec_id = p.n, range(1, 65) r(i)
  GROUP BY 1, 2
)"""


def _nd_topk_sql(dist: str, out: str, k: int) -> str:
    return f"""{out} AS (
  SELECT v, n, d2 FROM (
    SELECT v, n, d2,
           row_number() OVER (PARTITION BY v ORDER BY d2, n) AS rn
    FROM {dist}) WHERE rn <= {k}
)"""


def nndescent_recall_sql(
    k: int = ND_K, rounds: int = ND_ROUNDS, n_queries: int = ND_QUERIES
) -> str:
    seed_arms = "\n  UNION\n".join(
        f"""  SELECT a.vec_id AS v, b.vec_id AS n
  FROM bk{r} a JOIN bk{r} b ON a.b = b.b AND a.vec_id <> b.vec_id"""
        for r in range(1, ND_SEEDINGS + 1)
    )
    ctes = [
        f"""nb AS (SELECT GREATEST(1, COUNT(*) // {ND_BUCKET}) AS n_buckets
  FROM embeddings)"""
    ]
    for r in range(1, ND_SEEDINGS + 1):
        ctes.append(f"""bk{r} AS (
  SELECT vec_id,
         ((CAST(concat('0x', substr(md5(concat('nd{r}-',
             CAST(vec_id AS VARCHAR))), 1, 15)) AS BIGINT) % n_buckets)
          + n_buckets) % n_buckets AS b
  FROM qz, nb
)""")
    ctes += [
        f"sp AS (\n{seed_arms}\n)",
        _nd_dist_sql("sp", "sd"),
        _nd_topk_sql("sd", "g0", k),
    ]
    for r in range(1, rounds + 1):
        prev = f"g{r - 1}"
        ctes.append(f"""und{r} AS (
  SELECT v, n FROM {prev} UNION SELECT n AS v, v AS n FROM {prev}
)""")
        ctes.append(f"""cp{r} AS (
  SELECT v, n FROM und{r}
  UNION
  SELECT a.v, b.n FROM und{r} a JOIN und{r} b ON a.n = b.v AND a.v <> b.n
)""")
        ctes.append(_nd_dist_sql(f"cp{r}", f"cd{r}"))
        ctes.append(_nd_topk_sql(f"cd{r}", f"g{r}", k))
    ctes.append(f"""qp AS (
  SELECT q.vec_id AS v, o.vec_id AS n
  FROM qz q JOIN qz o ON o.vec_id <> q.vec_id
  WHERE q.vec_id < {n_queries}
)""")
    ctes.append(_nd_dist_sql("qp", "qd"))
    ctes.append(_nd_topk_sql("qd", "exact", k))
    return f"""WITH qz AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
{','.join(ctes)}
SELECT q.v AS query_id,
       CAST(COALESCE(sh.c, 0) AS BIGINT) AS seed_hits,
       CAST(COALESCE(fh.c, 0) AS BIGINT) AS hits,
       FLOOR((CAST(COALESCE(sh.c, 0) AS DOUBLE) / {k}.0) * 10000.0 + 0.5)
         / 10000.0 AS recall_seed,
       FLOOR((CAST(COALESCE(fh.c, 0) AS DOUBLE) / {k}.0) * 10000.0 + 0.5)
         / 10000.0 AS recall
FROM (SELECT DISTINCT vec_id AS v FROM qz WHERE vec_id < {n_queries}) q
LEFT JOIN (SELECT g.v, COUNT(*) AS c FROM g0 g
           JOIN exact e ON e.v = g.v AND e.n = g.n GROUP BY 1) sh
  ON sh.v = q.v
LEFT JOIN (SELECT g.v, COUNT(*) AS c FROM g{rounds} g
           JOIN exact e ON e.v = g.v AND e.n = g.n GROUP BY 1) fh
  ON fh.v = q.v
"""
