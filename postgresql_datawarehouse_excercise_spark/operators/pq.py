"""Product quantization (IVF-PQ's compression half) on the exact integer grid.

The ANN family's memory story at 100 TB: a 64-dim float vector is 256 bytes;
its PQ code is PQ_M small integers (here 8 codeword ids of 64 => 6 bits each,
8 bytes as stored columns, 6 as packed) -- a 32-42x compression that
lets a 10^11-vector corpus's index live in cluster RAM while the exact
vectors stay on cold storage.  Queries score candidates with ADC (asymmetric
distance computation): per query, ONE small distance table of
PQ_M x PQ_K exact squared-L2 entries between the query's subvectors and the
codebooks; a candidate's approximate distance is then PQ_M integer table
lookups summed -- no per-pair vector arithmetic at all.

Training = PQ_ROUNDS rounds of clustering.lloyd, the one exact k-means,
keyed by the subspace column m (quantize -> clustering.init_centroids'
first-PQ_K init sliced per subspace -> GEMM argmin assign -> floored
half-up mean recompute, repeated -> final encode as the loop's last
assignment); pq_encode runs the same keyed assign_gemm against frozen
codebooks.  Every codebook component, code and ADC distance is an exact
BIGINT, so the DuckDB oracle replays the whole pipeline bit-for-bit -- the
same determinism argument as operators/clustering.py, per subspace.

Answer quality: ADC ranking alone bottoms out at recall@10 ~0.3-0.5 on this
corpus (near-isotropic synthetic embeddings concentrate pairwise distances
-- the hardest regime for any quantizer; codebook size and extra Lloyd
rounds measured <0.1 recall apiece).  Production PQ serves top-k through a
REFINE pass for exactly this reason (FAISS IndexRefineFlat): the ADC scan
returns a top-PQ_REFINE candidate shortlist, and only those PQ_REFINE rows
are re-ranked by exact distance against the stored vectors.  Measured here:
refine lifts recall@10 from 0.2-0.6 to >=0.8 min / ~0.93-1.0 avg at both
gate and bench SFs.  The scale story stays intact: PQ_REFINE is a constant,
so the exact-rerank fraction PQ_REFINE/N vanishes as N grows, and the fetch
of PQ_REFINE exact vectors per query is the same point-lookup pattern the
cold store serves anyway.

Scale shape: codebooks are PQ_M x PQ_K rows (broadcast, never shuffled);
encoding is a map over vector splits; the ADC scan joins the |V| x PQ_M
skinny code relation against the broadcast per-query tables with map-side
partial sums, so the one shuffle carries |V| pre-reduced candidate rows;
the refine join touches PQ_REFINE x n_queries rows, never |V|.
Reference capability family: same role as the reference's index-backed
lookups (SURVEY.md section 2 A7 clustering analog), extended to the
vector-search surface the LLM-pipeline north star needs.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .clustering import SCALE, _dist2, assign_gemm, init_centroids, lloyd, quantize

PQ_M = 8         # subspaces
PQ_SUB = 8       # dims per subspace (PQ_M * PQ_SUB = 64, the corpus dim)
PQ_K = 64        # codewords per subspace (6-bit codes)
PQ_ROUNDS = 2    # Lloyd rounds per subspace
PQ_REFINE = 200  # exact-rerank shortlist size (constant: fraction ~ 1/N)
PQ_QUERIES = 8   # evaluation query set: vec_id < PQ_QUERIES
PQ_TOPK = 10


def _subvectors(q: DataFrame, key: str = "vec_id", col: str = "qv") -> DataFrame:
    """(key, m, col): each row's PQ_M subvectors of PQ_SUB micro-unit
    components (one explode of a constant array -- no shuffle).  Slices
    vectors and the k-means init centroids alike."""
    ms = F.array(*[F.lit(m) for m in range(PQ_M)])
    return q.select(key, col, F.explode(ms).alias("m")).select(
        key,
        "m",
        F.slice(col, F.col("m") * PQ_SUB + 1, PQ_SUB).alias(col),
    )


def pq_train_encode(
    train: DataFrame, full: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(codebooks, codes): PQ_ROUNDS Lloyd rounds per subspace on `train`
    -- clustering.lloyd keyed by the subspace column m, from
    clustering.init_centroids sliced per subspace -- then the final encode
    of every vector of `full` against the trained codebooks (the FAISS add
    / add-without-retrain lifecycle).  With `full` omitted the training
    population itself is encoded: that encode is the loop's last
    assignment.  codebooks = (m, cid, csv); codes = (vec_id, m, code)."""
    # The N-row QUANTIZED relation is materialized once and every Lloyd
    # round + the final encode (2*PQ_ROUNDS + 1 references) derive the
    # subvector explode from it lazily -- a narrow per-row slice, no
    # shuffle, so each reference costs one in-memory pass instead of a
    # corpus re-scan + re-quantize (guide §5).  Round 16 materialized the
    # N x PQ_M EXPLODED subvector relation instead: 8x the rows, measured
    # 2.7-5.2x slower cold on two hosts, and an eviction hazard at scale.
    q = materialize(quantize(train), "pq_quantized")
    init = _subvectors(init_centroids(q, PQ_K), "cid", "cq")
    cb, a = lloyd(_subvectors(q), init, PQ_ROUNDS + 1, assign_gemm, by=("m",))
    cb = cb.withColumnRenamed("cq", "csv")
    if full is not None:
        return cb, pq_encode(full, cb)
    return cb, a.select("vec_id", "m", F.col("cid").alias("code"))


def pq_encode(vectors: DataFrame, cb: DataFrame) -> DataFrame:
    """Encode `vectors` against EXISTING codebooks -- the per-batch half of
    the add-without-retrain lifecycle.  codes = (vec_id, m, code)."""
    return assign_gemm(
        _subvectors(quantize(vectors)), cb.withColumnRenamed("csv", "cq"), by=("m",)
    ).select("vec_id", "m", F.col("cid").alias("code"))


class IvfPq(NamedTuple):
    """The IVF-PQ index: IVF centroids (cid, cq), postings (vec_id, cell),
    PQ codebooks (m, cid, csv), PQ codes (vec_id, m, code) and the cell
    count the centroids were trained for.  Every component is exact
    BIGINT, so a parquet round-trip leaves it bit-identical."""

    cents: DataFrame
    postings: DataFrame
    cb: DataFrame
    codes: DataFrame
    cells: int


def _postings(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    return assign_gemm(quantize(vectors), cents).select(
        "vec_id", F.col("cid").alias("cell")
    )


def ivfpq_build(train: DataFrame, full: DataFrame | None = None) -> IvfPq:
    """Train the index on `train` -- IVF centroids for the cell count its
    size derives (similarity.ivf_cells) and the PQ codebooks -- then assign
    every vector of `full` (default: `train`) to its nearest centroid and
    encode it with the codebooks.  A `full` larger than `train` is the
    add-without-retrain lifecycle: the added vectors never touch the
    trainings.  The DuckDB oracle replays both forms
    (ivfpq_topk_sql(train_pred=...))."""
    from . import similarity

    cells = similarity.ivf_cells(train.count())
    cents, _ = similarity._ivf_train(similarity._ivf_base(train), cells)
    cb, codes = pq_train_encode(train, full)
    postings = _postings(train if full is None else full, cents)
    return IvfPq(cents, postings, cb, codes, cells)


def ivfpq_add(index: IvfPq, vectors: DataFrame) -> IvfPq:
    """`index` with its postings and codes replaced by those of `vectors`,
    assigned to the frozen centroids and encoded with the frozen codebooks
    (FAISS add): one centroid argmin and one codebook argmin per vector."""
    return index._replace(
        postings=_postings(vectors, index.cents), codes=pq_encode(vectors, index.cb)
    )


def _refine(
    scores: DataFrame, q: DataFrame, n_queries: int, k: int, qset=None
) -> DataFrame:
    """FAISS-style refine: keep the ADC top-PQ_REFINE shortlist per query,
    re-rank ONLY those rows by exact integer squared-L2 against the stored
    vectors, return the top-k.  Output (query_id, vec_id, adc_dist2, dist2,
    rank); the shortlist window and the exact join both touch
    n_queries x PQ_REFINE rows -- a constant, never |V|.  Pass `qset`
    ((query_id, qqv), already bounded) to evaluate a query population
    other than the default lowest-id set (the retrain-policy drift
    probes)."""
    from pyspark.sql.window import Window

    wa = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        scores.withColumn("_arn", F.row_number().over(wa))
        .filter(F.col("_arn") <= PQ_REFINE)
        .drop("_arn")
    )
    if qset is None:
        qset = q.filter(F.col("vec_id") < n_queries).limit(n_queries).select(
            F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
        )
    exact = (
        shortlist.join(q, "vec_id")
        .join(F.broadcast(qset), "query_id")
        .select(
            "query_id",
            "vec_id",
            "adc_dist2",
            _dist2(F.col("qv"), F.col("qqv")).alias("dist2"),
        )
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("dist2").asc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "adc_dist2", "dist2", "rank")
    )


def pq_topk(embeddings: DataFrame, n_queries: int = PQ_QUERIES, k: int = PQ_TOPK) -> DataFrame:
    """PQ top-k with refine: (query_id, vec_id, adc_dist2, dist2, rank) --
    the n_queries lowest vec_ids each rank the whole coded corpus by summed
    ADC table lookups (self excluded), then the top-PQ_REFINE shortlist is
    re-ranked by exact integer squared-L2 (_refine); top k by
    (dist2, vec_id)."""
    cb, codes = pq_train_encode(embeddings)
    q = quantize(embeddings)
    # .limit() is a no-op on the id filter but bounds the broadcast side
    # EXPLICITLY in the plan (GlobalLimit) -- the registry-wide
    # fact_broadcast_hints guard requires a cardinality-reducing node
    # between any hint and an SF-scaling scan (same idiom as cosine_topk)
    qsubs = _subvectors(
        q.filter(F.col("vec_id") < n_queries).limit(n_queries)
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("qv").alias("qsv"))
    # per-query distance table: PQ_M x PQ_K exact entries
    tbl = qsubs.join(F.broadcast(cb), "m").select(
        "query_id", "m", "cid", _dist2(F.col("qsv"), F.col("csv")).alias("d")
    )
    scores = (
        codes.join(
            F.broadcast(tbl),
            (codes.m == tbl.m) & (codes.code == tbl.cid) & (codes.vec_id != tbl.query_id),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist2"))
    )
    return _refine(scores, q, n_queries, k)


def _sql_q(P: str = "", train_pred: str = "TRUE") -> str:
    """The PQ train/encode CTE chain (PQ_ROUNDS Lloyd rounds generated as
    one CTE quartet per round; the final component codebook is ``{P}cbf``);
    ``P`` prefixes every CTE name so the chain composes with the IVF index
    chain (similarity._SQL_IVF_INDEX) without collisions in the ivfpq
    oracle.  ``train_pred`` (a SQL predicate over vec_id) restricts the
    TRAINING population -- init and every Lloyd round -- while the final
    encode ({P}dz/{P}codes) always covers every vector: the
    add-without-retrain lifecycle when an id split is passed
    (x_sim_ann_index_insert)."""
    parts = [
        f"""
{P}q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(SCALE)} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
{P}subs AS (
  SELECT vec_id, mm.m, ii.i, qv[mm.m * {PQ_SUB} + ii.i] AS x
  FROM {P}q,
       (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm,
       (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) ii
),
{P}tsubs AS (
  SELECT s.* FROM {P}subs s
  JOIN (SELECT vec_id FROM {P}q WHERE {train_pred}) t USING (vec_id)
),
{P}init AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, qv
  FROM {P}q WHERE {train_pred} ORDER BY vec_id LIMIT {PQ_K}
),
{P}cb0 AS (
  SELECT cid, mm.m, ii.i, qv[mm.m * {PQ_SUB} + ii.i] AS c
  FROM {P}init,
       (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) mm,
       (SELECT unnest(generate_series(1, {PQ_SUB})) AS i) ii
)"""
    ]
    for r in range(1, PQ_ROUNDS + 1):
        parts.append(
            f"""
{P}d{r} AS (
  SELECT s.vec_id, s.m, cb.cid, CAST(SUM((s.x - cb.c) * (s.x - cb.c)) AS BIGINT) AS d2
  FROM {P}tsubs s JOIN {P}cb{r - 1} cb ON s.m = cb.m AND s.i = cb.i
  GROUP BY 1, 2, 3
),
{P}a{r} AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM {P}d{r}) WHERE rn = 1
),
{P}sums{r} AS (
  SELECT s.m, a.cid, s.i, CAST(SUM(s.x) AS BIGINT) AS s, COUNT(*) AS n
  FROM {P}a{r} a JOIN {P}tsubs s ON a.vec_id = s.vec_id AND a.m = s.m
  GROUP BY 1, 2, 3
),
{P}cb{r} AS (
  SELECT m, cid, i,
         ((2*s + n) - (((2*s + n) % (2*n) + (2*n)) % (2*n))) // (2*n) AS c
  FROM {P}sums{r}
)"""
        )
    parts.append(
        f"""
{P}cbf AS (SELECT m, cid, i, c FROM {P}cb{PQ_ROUNDS}),
{P}dz AS (
  SELECT s.vec_id, s.m, cb.cid, CAST(SUM((s.x - cb.c) * (s.x - cb.c)) AS BIGINT) AS d2
  FROM {P}subs s JOIN {P}cbf cb ON s.m = cb.m AND s.i = cb.i
  GROUP BY 1, 2, 3
),
{P}codes AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT vec_id, m, cid,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM {P}dz) WHERE rn = 1
)
"""
    )
    return ",".join(parts)


def _sql_refine_ctes(P: str = "", k: int = PQ_TOPK) -> str:
    """Shared refine CTEs: ADC ``scores`` (query_id, vec_id, adc_dist2) ->
    top-PQ_REFINE ``shortlist`` -> exact integer re-rank (``refined``, via
    the {P}subs components) -> ``approx`` (the final top-k with rank).
    Appended after a ``scores`` CTE; callers SELECT FROM approx."""
    return f"""
shortlist AS (
  SELECT query_id, vec_id, adc_dist2 FROM (
    SELECT query_id, vec_id, adc_dist2,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
    FROM scores) WHERE rn <= {PQ_REFINE}
),
refined AS (
  SELECT sl.query_id, sl.vec_id, sl.adc_dist2,
         CAST(SUM((qs.x - s.x) * (qs.x - s.x)) AS BIGINT) AS dist2
  FROM shortlist sl
  JOIN {P}subs s ON sl.vec_id = s.vec_id
  JOIN {P}subs qs ON qs.vec_id = sl.query_id AND qs.m = s.m AND qs.i = s.i
  GROUP BY 1, 2, 3
),
approx AS (
  SELECT query_id, vec_id, adc_dist2, dist2, rank FROM (
    SELECT query_id, vec_id, adc_dist2, dist2,
           row_number() OVER (PARTITION BY query_id ORDER BY dist2, vec_id) AS rank
    FROM refined)
  WHERE rank <= {k}
)
"""


def _sql_pq_approx(n_queries: int, k: int) -> str:
    """pq_topk's CTE chain, ending in ``approx``."""
    return f"""{_sql_q()},
tbl AS (
  SELECT s.vec_id AS query_id, s.m, cbf.cid,
         CAST(SUM((s.x - cbf.c) * (s.x - cbf.c)) AS BIGINT) AS d
  FROM subs s JOIN cbf ON s.m = cbf.m AND s.i = cbf.i
  WHERE s.vec_id < {n_queries}
  GROUP BY 1, 2, 3
),
scores AS (
  SELECT tbl.query_id, codes.vec_id, CAST(SUM(tbl.d) AS BIGINT) AS adc_dist2
  FROM codes JOIN tbl ON codes.m = tbl.m AND codes.code = tbl.cid
  WHERE codes.vec_id <> tbl.query_id
  GROUP BY 1, 2
),
{_sql_refine_ctes("", k)}"""


_SQL_APPROX = (
    "SELECT query_id, vec_id, adc_dist2, dist2, CAST(rank AS INT) AS rank FROM approx"
)


def pq_topk_sql(n_queries: int = PQ_QUERIES, k: int = PQ_TOPK) -> str:
    return f"""
WITH {_sql_pq_approx(n_queries, k)}
{_SQL_APPROX}
"""


def _sql_recall(P: str, n_queries: int, k: int) -> str:
    """The recall tail appended after an ``approx`` CTE: the exact integer
    top-k over the ``{P}subs`` components (the n_queries lowest ids, self
    excluded), then per-query hits and recall -- the SQL twin of
    _recall."""
    from ..functions import sql_ratio

    return f"""exact_d AS (
  SELECT qs.vec_id AS query_id, s.vec_id,
         CAST(SUM((qs.x - s.x) * (qs.x - s.x)) AS BIGINT) AS d2
  FROM {P}subs qs JOIN {P}subs s ON qs.m = s.m AND qs.i = s.i AND s.vec_id <> qs.vec_id
  WHERE qs.vec_id < {n_queries}
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
    FROM exact_d) WHERE rn <= {k}
),
hits AS (
  SELECT a.query_id, COUNT(*) AS n_hits
  FROM approx a JOIN exact e ON a.query_id = e.query_id AND a.vec_id = e.vec_id
  GROUP BY 1
)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       {sql_ratio("COALESCE(h.n_hits, 0)", str(k))} AS recall
FROM (SELECT DISTINCT query_id FROM approx) q LEFT JOIN hits h USING (query_id)
"""


def exact_topk(q: DataFrame, qs: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id): the EXACT integer squared-L2 top-k of every query
    in `qs` (query_id, qqv) over the quantized corpus `q`, self excluded,
    ties to the lowest vec_id -- the reference arm of every recall
    measurement here.  A broadcast hint on `qs` is the caller's: only a
    caller that bounds the query set may place one."""
    from pyspark.sql.window import Window

    d = (
        q.crossJoin(qs)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dist2(F.col("qv"), F.col("qqv")).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("vec_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )


def _recall(
    embeddings: DataFrame, approx: DataFrame, n_queries: int, k: int
) -> DataFrame:
    """(query_id, n_hits, recall): recall@k of the approximate top-k
    `approx` (query_id, vec_id) against exact_topk over the same query set
    (the n_queries lowest vec_ids).  Both arms are exact BIGINT with the
    same (distance, vec_id) tie-break, so recall is bit-exact
    cross-engine."""
    from ..functions import ratio

    q = quantize(embeddings)
    qs = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    hits = approx.join(exact_topk(q, qs, k), ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        approx.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            ratio(F.coalesce("n_hits", F.lit(0)), F.lit(k)).alias("recall"),
        )
    )


def pq_recall(
    embeddings: DataFrame, n_queries: int = PQ_QUERIES, k: int = PQ_TOPK
) -> DataFrame:
    """Recall@k of the ADC ranking (pq_topk) -- the compression-quality
    measurement (how much ranking fidelity the 32x compression costs),
    twin of the IVF family's ann_recall."""
    approx = pq_topk(embeddings, n_queries, k).select("query_id", "vec_id")
    return _recall(embeddings, approx, n_queries, k)


def pq_recall_sql(n_queries: int = PQ_QUERIES, k: int = PQ_TOPK) -> str:
    return f"""
WITH {_sql_pq_approx(n_queries, k)},
{_sql_recall("", n_queries, k)}"""


def ivfpq_topk(
    embeddings: DataFrame, n_queries: int = PQ_QUERIES, k: int = PQ_TOPK
) -> DataFrame:
    """The composed FAISS-shape index -- IVF coarse pruning x PQ/ADC fine
    ranking: each query probes its nprobe nearest IVF cells (the N-derived
    similarity.py configuration, candidates ~ N^(3/4)), and ONLY those
    candidates are scored, by PQ table lookups instead of full-vector
    arithmetic.  At 100 TB this is the shape that serves vector search from
    RAM: the IVF assignment prunes the scan to o(N) candidates and the PQ
    codes make each candidate 8 bytes + PQ_M integer adds.

    Output (query_id, vec_id, adc_dist2, dist2, rank): the probed-cell
    candidate set is ADC-ranked (exact BIGINT, ties to the lowest vec_id,
    self excluded), then the top-PQ_REFINE shortlist is re-ranked by exact
    distance (_refine).  Both index trainings, the probe, the encode, the
    scan and the refine replay bit-for-bit in the DuckDB oracle
    (ivfpq_topk_sql)."""
    return ivfpq_serve(embeddings, ivfpq_build(embeddings), n_queries, k)


def ivfpq_serve(
    embeddings: DataFrame,
    index: IvfPq,
    n_queries: int = PQ_QUERIES,
    k: int = PQ_TOPK,
    qids: DataFrame | None = None,
) -> DataFrame:
    """The SERVING half of the IVF-PQ index, taking the trained index as
    input so the same path runs off an in-plan training
    (ivfpq_topk) or a persisted-and-reloaded index
    (queries/x_similarity.x_sim_ann_index_persist) -- the answers must be
    bit-identical because every index component is exact BIGINT (parquet
    round-trips integers losslessly).  Query vectors and the refine pass's
    exact vectors come from `embeddings` (the cold store).  Pass `qids`
    (a bounded (vec_id) relation) to serve a query population other than
    the default lowest-id evaluation set -- the retrain-policy entry
    probes the index with queries drawn from the DRIFTED split."""
    from . import similarity

    q = quantize(embeddings)
    if qids is None:
        qvecs = q.filter(F.col("vec_id") < n_queries).limit(n_queries)
    else:
        # qids must carry <= n_queries ids; the limit is then a no-op that
        # puts an explicit GlobalLimit between the downstream broadcast
        # hints and the corpus scan (the fact_broadcast_hints discipline)
        qvecs = q.join(F.broadcast(qids), "vec_id").limit(n_queries)
    qset = qvecs.select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qqv")
    )
    qcells = similarity._probe_cells(
        qset, index.cents, similarity.ivf_nprobe(index.cells)
    )
    cand = (
        index.postings.join(qcells, "cell")
        .select("query_id", "vec_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    qsubs = _subvectors(qvecs).select(
        F.col("vec_id").alias("query_id"), "m", F.col("qv").alias("qsv")
    )
    tbl = qsubs.join(F.broadcast(index.cb), "m").select(
        "query_id",
        "m",
        F.col("cid").alias("code"),
        _dist2(F.col("qsv"), F.col("csv")).alias("d"),
    )
    scores = (
        cand.join(index.codes, "vec_id")
        .join(F.broadcast(tbl), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist2"))
    )
    return _refine(
        scores, q, n_queries, k, qset=None if qids is None else qset
    )


def _sql_ivfpq_approx(
    n_queries: int,
    k: int,
    train_pred: str = "TRUE",
    exclude_pred: str = "FALSE",
    query_filter: str | None = None,
) -> str:
    """ivfpq_topk's CTE chain, ending in ``approx``."""
    from .similarity import _sql_ivf_index

    if query_filter is None:
        qset_sql = (
            f"SELECT vec_id AS query_id, qv AS qqv FROM qz"
            f" WHERE vec_id < {n_queries}"
        )
        tbl_filter = f"s.vec_id < {n_queries}"
    else:
        qset_sql = (
            f"SELECT vec_id AS query_id, qv AS qqv FROM qz"
            f" WHERE {query_filter} ORDER BY vec_id LIMIT {n_queries}"
        )
        tbl_filter = "s.vec_id IN (SELECT query_id FROM qset)"
    return f"""{_sql_ivf_index(train_pred)},
qset AS ({qset_sql}),
qcells AS (
  SELECT query_id, cell FROM (
    SELECT qset.query_id, cent2.cid AS cell,
           row_number() OVER (
             PARTITION BY qset.query_id
             ORDER BY CAST(SUM((qset.qqv[cent2.i] - cent2.c) * (qset.qqv[cent2.i] - cent2.c)) AS BIGINT) ASC,
                      cent2.cid ASC) AS rn
    FROM qset, cent2 GROUP BY qset.query_id, cent2.cid
  ) r, p WHERE r.rn <= p.nprobe
),
cand AS (
  SELECT qc.query_id, a.vec_id
  FROM assigned a JOIN qcells qc USING (cell)
  WHERE a.vec_id <> qc.query_id AND NOT ({exclude_pred})
),
{_sql_q("pq_", train_pred)},
tbl AS (
  SELECT s.vec_id AS query_id, s.m, cbf.cid AS code,
         CAST(SUM((s.x - cbf.c) * (s.x - cbf.c)) AS BIGINT) AS d
  FROM pq_subs s JOIN pq_cbf cbf ON s.m = cbf.m AND s.i = cbf.i
  WHERE {tbl_filter}
  GROUP BY 1, 2, 3
),
scores AS (
  SELECT cand.query_id, cand.vec_id, CAST(SUM(tbl.d) AS BIGINT) AS adc_dist2
  FROM cand
  JOIN pq_codes c ON cand.vec_id = c.vec_id
  JOIN tbl ON tbl.query_id = cand.query_id AND tbl.m = c.m AND tbl.code = c.code
  GROUP BY 1, 2
),
{_sql_refine_ctes("pq_", k)}"""


def ivfpq_topk_sql(
    n_queries: int = PQ_QUERIES,
    k: int = PQ_TOPK,
    train_pred: str = "TRUE",
    exclude_pred: str = "FALSE",
    query_filter: str | None = None,
) -> str:
    """`exclude_pred` (a SQL predicate over vec_id) marks DELETED vectors:
    they are filtered from the candidate relation -- the tombstone mask of
    x_sim_ann_index_delete -- so they can never reach the ADC scan or the
    refine shortlist; the trainings are untouched (deletes do not retrain,
    exactly like inserts do not).  `query_filter` (a SQL predicate over
    vec_id) replaces the default lowest-id evaluation set with the
    n_queries lowest ids SATISFYING it -- the retrain-policy entry's
    drifted-split query population."""
    chain = _sql_ivfpq_approx(n_queries, k, train_pred, exclude_pred, query_filter)
    return f"""
WITH {chain}
{_SQL_APPROX}
"""


def ivfpq_recall(
    embeddings: DataFrame, n_queries: int = PQ_QUERIES, k: int = PQ_TOPK
) -> DataFrame:
    """Recall@k of the composed IVF x PQ index (ivfpq_topk) -- the
    end-to-end answer-quality number (cell pruning loss + code distortion
    together), completing the evaluator trio with ann_recall (pruning
    only) and pq_recall (distortion only)."""
    approx = ivfpq_topk(embeddings, n_queries, k).select("query_id", "vec_id")
    return _recall(embeddings, approx, n_queries, k)


def ivfpq_recall_sql(n_queries: int = PQ_QUERIES, k: int = PQ_TOPK) -> str:
    return f"""
WITH {_sql_ivfpq_approx(n_queries, k)},
{_sql_recall("pq_", n_queries, k)}"""
