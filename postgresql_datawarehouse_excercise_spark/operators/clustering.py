"""The one exact-arithmetic k-means over the embedding column.

Lloyd's algorithm as DataFrame ops, keyed by optional group columns
(`by`): every k-means in the package runs through `lloyd` here --

  kmeans_assignments   x_sim_kmeans and cluster_balanced_sample (fold
                       kernel); semantic_dedup (GEMM kernel);
  similarity._ivf_train  the IVF coarse quantizer (GEMM);
  pq.pq_train_encode   the PQ codebooks, keyed by subspace m (GEMM).

  init_centroids  the k lowest vec_ids, one collect (PQ slices it per
                  subspace);
  assign          broadcast the centroid relation against the vector scan,
                  squared-L2 per pair via zip_with/aggregate (JVM codegen,
                  no UDF), keep each vector's argmin by (dist, centroid id);
  assign_gemm     the same argmin as one int64 numpy GEMM per batch and
                  group (bit-identical; the kernel for every caller but the
                  two Spark-native fold entries);
  recompute       posexplode components -> per-(group, cluster, position)
                  exact sums -> half-up integer mean -> collected and
                  regrouped to arrays on the driver;
  lloyd           `iters` assignments with a recompute between each pair;
                  centroids pass between rounds collected to the driver
                  (recompute returns a LocalRelation).

Cross-engine determinism (the DuckDB oracle must reproduce every
assignment bit-for-bit) comes from running entirely on an exact integer
grid: components quantize to micro-units (floor(x*1e6 + 0.5) as BIGINT --
the portable fround trick), so distances are exact BIGINT sums, argmin
ties break on centroid id, and centroid means use the floored-quotient
half-up trick ((2s+n) fld (2n), mathematical floor via mod subtraction)
that x_events_user_daily established.  Floating-point k-means is NOT
reproducible across engines (sum order, tie handling); quantized k-means
is, and 1e-6 resolution is far below any clustering-relevant signal.

Scale design (100 TB): centroids are always a K-row relation per group --
held on the driver between rounds and broadcast, never shuffled; the
assign step is a map over vector splits; recompute shuffles |V| x dim
skinny (cluster, pos, component) rows with map-side partial aggregation.
Iteration counts are FIXED per caller so the oracles can replay them; an
open-ended loop would drive convergence from a 1-row aggregate per round
exactly like dedup's label propagation (operators/dedup.py).

Empty-cluster semantics: a centroid that attracts no members in iteration
1 simply drops out (standard Lloyd's degeneracy handling); both engines
derive surviving clusters from the same exact assignment, so they agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import floor_div
from ..session import materialize

SCALE = 1_000_000


def quantize_col(col):
    """Micro-unit quantization of one array column -- THE formula every
    integer-grid operator (k-means, IVF, PCA, SemDeDup) and its SQL twin
    must share; change it here and in the f-string oracles via SCALE."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * SCALE + F.lit(0.5)).cast("long")
    )


def quantize(embeddings: DataFrame, col: str = "embedding") -> DataFrame:
    """(vec_id, qv: array<long>) -- components in exact micro-units."""
    return embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        quantize_col(F.col(col)).alias("qv"),
    )


def _local(spark, rows: list[dict], ddl: str) -> DataFrame:
    """`rows` as a LocalRelation.  Built through Arrow: a frame built from a
    Python list is an RDD that runs a job on every read, while a
    LocalRelation is read (collected, broadcast) from the driver's copy."""
    import pyarrow as pa

    return spark.createDataFrame(pa.Table.from_pylist(rows), ddl)


def init_centroids(q: DataFrame, k: int) -> DataFrame:
    """Deterministic init: the k lowest vec_ids, cid = 0..k-1 by that order.
    The k-row result is materialized through the driver -- k is a
    hyperparameter (bounded, tiny), and building the relation directly
    avoids a single-partition ranking window in every plan."""
    rows = sorted(q.orderBy("vec_id").limit(k).collect(), key=lambda r: r.vec_id)
    return _local(
        q.sparkSession,
        [{"cid": i, "cq": list(r.qv)} for i, r in enumerate(rows)],
        "cid int, cq array<bigint>",
    )


def _dist2(qcol, ccol):
    """Exact squared L2 between two micro-unit arrays (BIGINT fold)."""
    return F.aggregate(
        F.zip_with(qcol, ccol, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ddl(df: DataFrame, cols) -> str:
    return ", ".join(f"{c} {df.schema[c].dataType.simpleString()}" for c in cols)


def assign(q: DataFrame, cents: DataFrame, by=()) -> DataFrame:
    """(vec_id, *by, cid, dist2): each vector's nearest centroid of its
    group, ties to the lowest cid.  Broadcast join of the centroid relation
    (a cross join when ungrouped) against the vector scan, then argmin as
    MIN over (dist2, cid) structs -- lexicographic struct ordering IS the
    (distance, centroid-id) tie-break, and the aggregate combines map-side,
    so the shuffle carries |V| pre-reduced rows rather than the K-expanded
    set a ranking window would sort."""
    cb = F.broadcast(cents)
    j = (q.join(cb, list(by)) if by else q.crossJoin(cb)).select(
        "vec_id", *by, "cid", _dist2(F.col("qv"), F.col("cq")).alias("dist2")
    )
    best = j.groupBy("vec_id", *by).agg(F.min(F.struct("dist2", "cid")).alias("_m"))
    return best.select(
        "vec_id", *by, F.col("_m.cid").alias("cid"), F.col("_m.dist2").alias("dist2")
    )


def assign_gemm(q: DataFrame, cents: DataFrame, by=()) -> DataFrame:
    """assign()'s GEMM kernel: the same EXACT integer argmin (squared L2 on
    the micro-unit grid, ties to the lowest cid), computed per group as
    ||q||^2 - 2 qC^T + ||c||^2 with int64 numpy GEMM inside mapInPandas
    instead of k per-row fold expressions.  Output is bit-identical to
    assign(); per-vector cost drops from k interpreted folds to one BLAS
    row.  The centroids ship to executors as closure-captured arrays (k is
    a bounded hyperparameter).  Overflow bound: |q| <= ~2^21 micro-units
    keeps every term under 2^63 for dim 64."""
    import numpy as np
    import pandas as pd

    groups: dict[tuple, list] = {}
    for r in sorted(cents.collect(), key=lambda r: r.cid):
        groups.setdefault(tuple(r[c] for c in by), []).append(r)
    mats = {}
    for key, rows in groups.items():
        mat = np.array([list(r.cq) for r in rows], dtype=np.int64)
        cids = np.array([r.cid for r in rows], dtype=np.int64)
        mats[key] = (cids, mat, (mat * mat).sum(axis=1))

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            outs = []
            for key, grp in pdf.groupby(list(by)) if by else [((), pdf)]:
                cids, mat, c2 = mats[key]
                qm = np.array(grp["qv"].tolist(), dtype=np.int64)
                q2 = (qm * qm).sum(axis=1)
                d2 = q2[:, None] - 2 * (qm @ mat.T) + c2[None, :]
                # cids ascend, np.argmin returns the FIRST minimum -> ties
                # break to the lowest cid, matching assign()'s
                # MIN(struct(dist2, cid))
                best = np.argmin(d2, axis=1)
                out = grp[["vec_id", *by]].reset_index(drop=True)
                out["cid"] = cids[best].astype("int32")
                out["dist2"] = d2[np.arange(len(best)), best]
                outs.append(out)
            yield pd.concat(outs)

    return q.select("vec_id", *by, "qv").mapInPandas(
        kern, f"vec_id long, {_ddl(q, by) + ', ' if by else ''}cid int, dist2 long"
    )


def recompute(q: DataFrame, assigned: DataFrame, by=()) -> DataFrame:
    """(*by, cid, cq), the new centroids: per-(group, cluster, position)
    exact component sums -> floored half-up integer mean, collected to the
    driver (k x dim rows per group, bounded by k, never by N) and
    re-assembled into position-ordered arrays as a LocalRelation, so the
    next round plans against the driver's copy instead of re-deriving
    this one.  A centroid with no members drops out (both engines derive
    the surviving clusters from the same exact assignment, so they
    agree)."""
    a = assigned.select("vec_id", *by, "cid").join(q, ["vec_id", *by])
    comp = a.select(*by, "cid", F.posexplode("qv").alias("pos", "x"))
    sums = comp.groupBy(*by, "cid", "pos").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mean = sums.select(
        *by,
        "cid",
        "pos",
        (2 * F.col("s") + F.col("n")).alias("_a"),
        (2 * F.col("n")).alias("_b"),
    ).select(*by, "cid", "pos", floor_div(F.col("_a"), F.col("_b")).alias("c"))
    key = (*by, "cid")
    comps: dict[tuple, dict[int, int]] = {}
    for r in mean.collect():
        comps.setdefault(tuple(r[col] for col in key), {})[r.pos] = r.c
    return _local(
        q.sparkSession,
        [
            {**dict(zip(key, kv)), "cq": [cs[p] for p in sorted(cs)]}
            for kv, cs in comps.items()
        ],
        f"{_ddl(mean, key)}, cq array<bigint>",
    )


def lloyd(
    q: DataFrame, cents: DataFrame, iters: int, kernel, by=()
) -> tuple[DataFrame, DataFrame]:
    """THE exact k-means loop: `iters` assignments of `q` (vec_id, *by, qv)
    with a recompute between each pair, starting from `cents` (*by, cid,
    cq).  Returns (cents, assigned): the centroids of the last assignment
    and that assignment (vec_id, *by, cid, dist2).  `kernel` is assign or
    assign_gemm (bit-identical).  Centroids pass between rounds one way:
    recompute collects them to the driver."""
    assigned = kernel(q, cents, by)
    for _ in range(iters - 1):
        cents = recompute(q, assigned, by)
        assigned = kernel(q, cents, by)
    return cents, assigned


def kmeans_assignments(
    embeddings: DataFrame, k: int = 8, iters: int = 2, kernel=assign
) -> DataFrame:
    """Run `iters` Lloyd's rounds; return the final exact assignment
    (vec_id, cluster, dist2_q).  The fold kernel is the default: it keeps
    x_sim_kmeans and x_pipeline_cluster_balanced Spark-native; pass
    kernel=assign_gemm when k is large (SemDeDup, where k scales with the
    corpus) -- the output is identical."""
    q = quantize(embeddings)
    _, assigned = lloyd(q, init_centroids(q, k), iters, kernel)
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster"), F.col("dist2").alias("dist2_q")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (Gonzalez 1985 farthest-point traversal): the
# 2-approximation for minimax facility placement, and the diversity-
# maximizing selection rule coreset/data-pruning pipelines use (pick the
# point farthest from everything already picked).  KCENTER_K fixed rounds;
# every round is ONE broadcast map (distance to the single new center) +
# ONE 1-row argmax aggregate, so driver traffic is one row per round and
# the per-vector state is a single running min -- the loop shape that holds
# at 10^11 vectors.  Exact micro-unit grid throughout => the DuckDB oracle
# replays every selection bit-for-bit (argmax ties to the lowest vec_id).
# ---------------------------------------------------------------------------

KCENTER_K = 8


def kcenter_coreset(embeddings: DataFrame, k: int = KCENTER_K) -> DataFrame:
    """(vec_id, center_id, center_rank, dist2): every vector assigned to
    its nearest of the k greedily-selected centers (ties to the earlier-
    selected center).  Selection: seed = lowest vec_id, then k-1 rounds of
    argmax over the running min-distance (ties to lowest vec_id).

    Materializing each round's `least` update keeps the plan one
    map deep instead of k maps deep AND materializes the state the 1-row
    argmax and the next round both read (without it every round re-derives
    the whole prefix chain)."""
    q = quantize(embeddings)
    seed = q.orderBy("vec_id").limit(1).collect()[0]
    centers = [(0, int(seed.vec_id), [int(v) for v in seed.qv])]
    lit0 = F.array(*[F.lit(v) for v in centers[0][2]])
    mind = q.select(
        "vec_id", "qv", _dist2(F.col("qv"), lit0).alias("mind")
    ).transform(materialize, "kcenter_mind")
    for r in range(1, k):
        top = mind.orderBy(F.col("mind").desc(), F.col("vec_id").asc()).limit(1).collect()[0]
        centers.append((r, int(top.vec_id), [int(v) for v in top.qv]))
        litr = F.array(*[F.lit(v) for v in centers[r][2]])
        mind = mind.select(
            "vec_id",
            "qv",
            F.least(F.col("mind"), _dist2(F.col("qv"), litr)).alias("mind"),
        ).transform(materialize, "kcenter_mind")
    cents = q.sparkSession.createDataFrame(
        [(r, vid, qv) for r, vid, qv in centers],
        "center_rank int, center_id long, cq array<bigint>",
    )
    d = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "center_id",
        "center_rank",
        _dist2(F.col("qv"), F.col("cq")).alias("dist2"),
    )
    best = d.groupBy("vec_id").agg(
        F.min(F.struct("dist2", "center_rank", "center_id")).alias("_m")
    )
    return best.select(
        "vec_id",
        F.col("_m.center_id").alias("center_id"),
        F.col("_m.center_rank").alias("center_rank"),
        F.col("_m.dist2").alias("dist2"),
    )


def kcenter_coreset_sql(k: int = KCENTER_K) -> str:
    """DuckDB replay of the full greedy traversal: every round's argmax
    and running-min update re-derived as chained CTEs (the kmeans/BPE
    full-replay oracle discipline)."""
    rounds = []
    for r in range(1, k):
        rounds.append(f"""
s{r} AS (SELECT vec_id FROM d{r - 1} ORDER BY mind DESC, vec_id ASC LIMIT 1),
cc{r} AS (SELECT comp.i, comp.x AS c FROM comp JOIN s{r} USING (vec_id)),
nd{r} AS (
  SELECT comp.vec_id, CAST(SUM((comp.x - cc{r}.c) * (comp.x - cc{r}.c)) AS BIGINT) AS nd
  FROM comp JOIN cc{r} USING (i) GROUP BY 1
),
d{r} AS (
  SELECT d{r - 1}.vec_id, LEAST(d{r - 1}.mind, nd{r}.nd) AS mind
  FROM d{r - 1} JOIN nd{r} USING (vec_id)
)""")
    centers = "\nUNION ALL\n".join(
        f"SELECT {r} AS center_rank, vec_id FROM s{r}" for r in range(k)
    )
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
comp AS (SELECT vec_id, r.i, qv[r.i] AS x FROM q, range(1, 65) r(i)),
s0 AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT 1),
cc0 AS (SELECT comp.i, comp.x AS c FROM comp JOIN s0 USING (vec_id)),
d0 AS (
  SELECT comp.vec_id, CAST(SUM((comp.x - cc0.c) * (comp.x - cc0.c)) AS BIGINT) AS mind
  FROM comp JOIN cc0 USING (i) GROUP BY 1
),{",".join(rounds)},
centers AS ({centers}),
ccomp AS (
  SELECT centers.center_rank, centers.vec_id AS center_id, comp.i, comp.x AS c
  FROM centers JOIN comp USING (vec_id)
),
alld AS (
  SELECT comp.vec_id, ccomp.center_rank, ccomp.center_id,
         CAST(SUM((comp.x - ccomp.c) * (comp.x - ccomp.c)) AS BIGINT) AS dist2
  FROM comp JOIN ccomp USING (i) GROUP BY 1, 2, 3
)
SELECT vec_id, center_id, CAST(center_rank AS INT) AS center_rank, dist2 FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY dist2, center_rank, center_id) AS rn
  FROM alld
) WHERE rn = 1
"""


# Cluster-balanced prototype sampling: equal per-cluster quota of the
# closest-to-centroid members -- the density-equalizing selection
# (SemDeDup/SSL-prototype style) that stops web-scale head clusters from
# dominating a curated sample.
BALANCED_CAP = 40


def cluster_balanced_sample(
    embeddings: DataFrame, k: int = 8, cap: int = BALANCED_CAP
) -> DataFrame:
    """(vec_id, cluster, dist2_q, rn): up to `cap` members per k-means
    cluster, closest to the exact-grid centroid first (tie to lowest
    vec_id).  Per-cluster top-k is a partitioned row_number window -- the
    distributed idiom that never global-sorts."""
    from pyspark.sql import Window

    a = kmeans_assignments(embeddings, k=k, iters=2)
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist2_q").asc(), F.col("vec_id").asc()
    )
    return (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("vec_id", "cluster", "dist2_q", F.col("rn").cast("int").alias("rn"))
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedy selection
# balancing relevance to a query against redundancy with what's already
# selected -- the diversity-aware retrieval/context-packing rule (RAG
# context assembly, dataset showcase picks).  Same loop shape as the
# k-center traversal: one broadcast map + a 1-row argmax per round, exact
# int64 inner products on the micro-unit grid (lambda = 1/2 folds into
# score = dot(c, q) - max_sim without any division), so the DuckDB oracle
# replays every pick bit-for-bit.  Inner-product form (MIPS), not
# normalized cosine: one less float op, same selection on ~unit-norm
# embeddings.
# ---------------------------------------------------------------------------

MMR_K = 8
MMR_QUERY_VEC_ID = 0


def _dot(a, b):
    """Exact int64 inner product of two micro-unit arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def mmr_select(
    embeddings: DataFrame, query_vec_id: int = MMR_QUERY_VEC_ID, k: int = MMR_K
) -> DataFrame:
    """(mmr_rank, vec_id, relevance, max_sim): the k picks in selection
    order, each with its query relevance and its redundancy (max inner
    product against the previously selected) at selection time.  Rank 0 is
    the pure-relevance argmax; later ranks maximize relevance - max_sim
    (ties to the lowest vec_id).  The query vector itself is excluded."""
    q = quantize(embeddings)
    qrow = q.filter(F.col("vec_id") == query_vec_id).collect()[0]
    qlit = F.array(*[F.lit(int(v)) for v in qrow.qv])
    cands = q.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", "qv", _dot(F.col("qv"), qlit).alias("rel")
    ).withColumn("ms", F.lit(None).cast("long")).transform(materialize, "mmr_candidates")
    out = []
    for r in range(k):
        score = F.col("rel") - F.coalesce(F.col("ms"), F.lit(0))
        top = (
            cands.orderBy(score.desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        out.append((r, int(top.vec_id), int(top.rel), int(top.ms or 0)))
        slit = F.array(*[F.lit(int(v)) for v in top.qv])
        cands = (
            cands.filter(F.col("vec_id") != int(top.vec_id))
            .select(
                "vec_id",
                "qv",
                "rel",
                F.greatest(
                    F.coalesce(F.col("ms"), F.lit(-(1 << 62))),
                    _dot(F.col("qv"), slit),
                ).alias("ms"),
            )
            .transform(materialize, "mmr_candidates")
        )
    return q.sparkSession.createDataFrame(
        out, "mmr_rank int, vec_id long, relevance long, max_sim long"
    )


def mmr_select_sql(query_vec_id: int = MMR_QUERY_VEC_ID, k: int = MMR_K) -> str:
    """DuckDB full replay of every MMR round (kcenter oracle discipline).
    max_sim for rank 0 reports 0 (no prior picks), matching the Spark
    side's coalesce.  Every chained CTE is MATERIALIZED: DuckDB otherwise
    inlines each reference, and the round chain references its
    predecessor 2-3x -- exponential re-evaluation that turned an 8-round
    replay over 500 vectors into minutes."""
    rounds = []
    for r in range(1, k):
        rounds.append(f"""
sel{r - 1} AS MATERIALIZED (SELECT vec_id, rel, COALESCE(ms, 0) AS ms FROM c{r - 1}
               ORDER BY rel - COALESCE(ms, 0) DESC, vec_id ASC LIMIT 1),
sc{r - 1} AS MATERIALIZED (SELECT comp.i, comp.x AS s FROM comp JOIN sel{r - 1} USING (vec_id)),
nd{r} AS MATERIALIZED (
  SELECT comp.vec_id, CAST(SUM(comp.x * sc{r - 1}.s) AS BIGINT) AS d
  FROM comp JOIN sc{r - 1} USING (i) GROUP BY 1
),
c{r} AS MATERIALIZED (
  SELECT c.vec_id, c.rel, GREATEST(COALESCE(c.ms, {-(1 << 62)}), nd{r}.d) AS ms
  FROM c{r - 1} c JOIN nd{r} ON c.vec_id = nd{r}.vec_id
  WHERE c.vec_id <> (SELECT vec_id FROM sel{r - 1})
)""")
    picks = "\nUNION ALL\n".join(
        f"SELECT {r} AS mmr_rank, vec_id, rel, ms FROM sel{r}" for r in range(k)
    )
    return f"""
WITH q AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {SCALE}.0 + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
comp AS MATERIALIZED (SELECT vec_id, r.i, qv[r.i] AS x FROM q, range(1, 65) r(i)),
qc AS MATERIALIZED (SELECT comp.i, comp.x AS s FROM comp WHERE vec_id = {query_vec_id}),
c0 AS MATERIALIZED (
  SELECT comp.vec_id, CAST(SUM(comp.x * qc.s) AS BIGINT) AS rel,
         CAST(NULL AS BIGINT) AS ms
  FROM comp JOIN qc USING (i)
  WHERE comp.vec_id <> {query_vec_id}
  GROUP BY 1
),{",".join(rounds)},
sel{k - 1} AS MATERIALIZED (SELECT vec_id, rel, COALESCE(ms, 0) AS ms FROM c{k - 1}
               ORDER BY rel - COALESCE(ms, 0) DESC, vec_id ASC LIMIT 1)
SELECT CAST(mmr_rank AS INT) AS mmr_rank, vec_id,
       rel AS relevance, ms AS max_sim
FROM ({picks})
"""
