"""Extension: deduplication over `documents` (training-data pipeline).

Exact and normalized dedup here (hash-groupBy, fully shuffle-parallel);
MinHash-LSH / SimHash near-dup live in operators/dedup.py and register their
own query entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..functions import fround, ratio, sql_ratio
from ..session import materialize
from ..operators import dedup
from . import query


@query(
    "x_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content md5, keep lowest doc_id.
    Map-side partial agg collapses duplicates before the shuffle, so network
    volume is O(distinct docs) at 100 TB."""
    t = catalog.load(spark, sf_dir)
    return (
        t.documents.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "x_dedup_normalized",
    oracle=r"""
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
)
def x_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the normalized fingerprint (case/whitespace
    folded)."""
    t = catalog.load(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        t.documents.groupBy(F.md5(norm).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query("x_dedup_minhash_signatures", oracle=dedup.minhash_signature_sql())
def x_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (32 perms) per document -- row-local, zero-shuffle
    (operators/dedup.py); md5-based hashing makes the DuckDB oracle bit-exact."""
    t = catalog.load(spark, sf_dir)
    return dedup.minhash_signature_df(t.documents)


@query("x_dedup_minhash_lsh_pairs", oracle=dedup.minhash_lsh_pairs_sql())
def x_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (8 bands x 4 rows) verified with
    exact Jaccard on the shingle sets."""
    t = catalog.load(spark, sf_dir)
    return dedup.minhash_lsh_pairs(t.documents)


@query("x_dedup_simhash", oracle=dedup.simhash_sql())
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document via a single per-row array fold."""
    t = catalog.load(spark, sf_dir)
    return dedup.simhash_df(t.documents)


@query("x_dedup_simhash_pairs", oracle=dedup.simhash_pairs_sql())
def x_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 15-bit chunk banding + hamming<=3 verify
    (bit_count(xor) -- JVM built-ins)."""
    t = catalog.load(spark, sf_dir)
    return dedup.simhash_pairs(t.documents)


@query("x_dedup_ngram_jaccard", oracle=dedup.ngram_jaccard_pairs_sql())
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard via inverted index with a
    document-frequency cutoff (the quadratic-blowup guard at scale)."""
    t = catalog.load(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(t.documents)


@query("x_dedup_clusters", oracle=dedup.dedup_clusters_sql())
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup decision: connected components over strong near-dup pairs
    (jaccard >= 0.5) via min-label propagation; cluster_id = smallest
    member, `keep` marks the representative.  The DuckDB oracle is the
    recursive-CTE transitive closure."""
    t = catalog.load(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t.documents).filter(
        F.col("jaccard") >= dedup.DEDUP_CLUSTER_MIN_JACCARD
    )
    return dedup.dedup_clusters(pairs)


@query("x_dedup_cc_bigstar", oracle=dedup.dedup_clusters_sql())
def x_dedup_cc_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same dedup decision as x_dedup_clusters (connected components
    over strong near-dup pairs, cluster_id = component min) computed by
    the alternating large-star / small-star contraction of Kiveris et al.
    (SoCC 2014) instead of min-label propagation.  Label propagation needs
    graph-DIAMETER many rounds (a 41-node duplicate chain defeats its
    15-round default -- pinned in tests/test_cc_bigstar.py); the star
    algorithm converges in O(log^2 n) rounds with per-round cost
    proportional to the CURRENT edge set, which shrinks as components
    collapse -- the safe choice at web-corpus scale where near-dup chains
    (boilerplate drift, versioned pages) can be arbitrarily long.  Both
    phases are min-aggregate + same-key join (never a collect_set), so a
    giant component's star center never materializes its whole
    neighborhood in one task.  The DuckDB oracle is the same recursive-CTE
    transitive closure as x_dedup_clusters: two independent distributed
    algorithms and one sequential one agreeing on every label.  Fronted
    by the exact-copy cohort contraction (adaptive, like the prefix join
    and triangles): the star rounds run on the rep graph and members
    inherit their rep's label -- 100x all-copy probe 180 -> ~5 s."""
    t = catalog.load(spark, sf_dir)
    return dedup.dedup_clusters_bigstar_contracted(t.documents)


@query("x_dedup_incremental", oracle=dedup.incremental_dedup_sql())
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time dedup: an incoming batch (doc_id % 5 == 0) is checked
    against the existing corpus via the LSH band-key index -- candidates
    confirmed with exact Jaccard, batch doc kept iff no corpus near-dup.
    Per-batch cost tracks |batch| x BANDS probe rows against a persisted
    bucket-keyed corpus index, never |corpus|^2 (operators/dedup.py
    incremental_dedup)."""
    t = catalog.load(spark, sf_dir)
    return dedup.incremental_dedup(t.documents)


SPAN_TOKENS = 8  # rolling-window width (tokens); production ExactSubstr uses ~50


@query(
    "x_dedup_substring_spans",
    oracle="""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
docs AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk
  FROM toks WHERE len(tk) >= {K}
),
wins AS (
  SELECT doc_id, u.pos,
         md5(array_to_string(tk[(u.pos + 1):(u.pos + {K})], ' ')) AS h
  FROM docs, unnest(generate_series(0, len(tk) - {K})) AS u(pos)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - COALESCE(LAG(pos) OVER w, -{K}) >= {K}
              THEN 1 ELSE 0 END AS new_span
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
  SELECT doc_id, pos,
         SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM marked
),
spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) AS e FROM grp GROUP BY 1, 2),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(e - s + {K}) AS BIGINT) AS n_dup_tokens
  FROM spans GROUP BY 1
)
SELECT d.doc_id, d.n_tokens,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       COALESCE(p.n_dup_tokens, 0) AS n_dup_tokens,
       {ratio} AS dup_fraction
FROM docs d LEFT JOIN perdoc p USING (doc_id)
""".format(
        K=SPAN_TOKENS,
        ratio=sql_ratio("COALESCE(p.n_dup_tokens, 0)", "d.n_tokens"),
    ),
)
def x_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the suffix-array ExactSubstr
    dedup of Lee et al. 2022, re-expressed relationally): every OVERLAPPING
    K-token window is hashed (stride 1 -- unlike x_text_block_dedup's
    disjoint blocks, this catches alignment-shifted copies), a window is
    duplicated iff its hash occurs in >= 2 DISTINCT documents, and per doc
    the hit positions merge into maximal duplicated spans (interval union:
    windows all have length K, so sorted hits start a new span exactly when
    pos - lag(pos) >= K).  Output per qualifying doc: span count, duplicated
    token coverage, coverage fraction.

    Scale shape: windows explode to ~|tokens| skinny (h, doc, pos) rows;
    cross-doc detection is ONE groupBy on h with min/max partial aggregates
    (map-side combine collapses within-partition repeats); the hit join
    shuffles on h; span merging is a per-doc sort window (state = one lag
    row).  No token strings cross the wire after hashing, and nothing is
    quadratic in corpus size -- the property that lets ExactSubstr run at
    100 TB where a literal suffix array cannot."""
    t = catalog.load(spark, sf_dir)
    return substring_spans(t.documents)


def substring_spans(documents: DataFrame, K: int = SPAN_TOKENS) -> DataFrame:
    """Core of x_dedup_substring_spans over any (doc_id, text) relation
    (parameterized window width for the Python-model property test).
    Tokenization is the shared [a-z0-9]+ tokenizer (operators/dedup.tokens)
    like every other text entry -- a bare single-space split emitted
    empty-string tokens on consecutive whitespace that could hash into
    spuriously shared K-windows (ADVICE r8)."""
    from pyspark.sql import Window

    from ..operators.dedup import tokens

    tk = tokens(F.col("text"))
    docs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tk).cast("long").alias("n_tokens"),
        tk.alias("tk"),
    ).filter(F.col("n_tokens") >= K)
    # The window hash is ENGINE-INTERNAL (the output carries doc-level span
    # counts, never h): a window is duplicated iff >= 2 distinct docs share
    # its hash, which any collision-free hash decides identically -- so the
    # index shuffles 8-byte xxhash64 longs instead of 32-char md5 hex
    # strings (guide §2.3 narrower shuffle types, the edit_join treatment;
    # the oracle's md5 replays the same duplicate set).
    wins = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n_tokens") - K).cast("int")),
                lambda p: F.xxhash64(F.concat_ws(" ", F.slice(F.col("tk"), p + 1, K))),
            )
        ).alias("pos", "h"),
    )
    dup = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("h")
    )
    hits = wins.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = hits.withColumn(
        "new_span",
        (F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(-K)) >= K).cast("int"),
    )
    grp = marked.withColumn(
        "g", F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = grp.groupBy("doc_id", "g").agg(
        F.min("pos").alias("s"), F.max("pos").alias("e")
    )
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + K).alias("n_dup_tokens"),
    )
    return docs.drop("tk").join(perdoc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
        ratio(
            F.coalesce("n_dup_tokens", F.lit(0)), F.col("n_tokens")
        ).alias("dup_fraction"),
    )


@query("x_dedup_containment", oracle=dedup.containment_pairs_sql())
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT inter/min(|A|,|B|) over the
    same hashed inverted index as x_dedup_ngram_jaccard -- catches a short
    document quoted whole inside a long one (containment ~1.0) that
    symmetric Jaccard scores near zero (Broder's resemblance vs
    containment)."""
    t = catalog.load(spark, sf_dir)
    return dedup.containment_pairs(t.documents)


PR_ITERS = 3
PR_SCALE = 1_000_000          # rank unit (micro-ranks)
PR_TELEPORT = 150_000         # floor(0.15 * PR_SCALE)


@query(
    "x_dedup_pagerank",
    oracle="""
WITH strong AS (
  SELECT doc_a, doc_b FROM ({LSH}) WHERE jaccard >= 0.5
),
e AS (
  SELECT doc_a AS src, doc_b AS dst FROM strong
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM strong
),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
n AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
r0 AS (SELECT doc_id, CAST({S} AS BIGINT) AS r FROM n),
msg1 AS (
  SELECT e.dst, CAST(SUM(r0.r // d.deg) AS BIGINT) AS s
  FROM e JOIN r0 ON e.src = r0.doc_id JOIN deg d ON e.src = d.src GROUP BY 1
),
r1 AS (SELECT n.doc_id, {T} + (85 * COALESCE(m.s, 0)) // 100 AS r
       FROM n LEFT JOIN msg1 m ON n.doc_id = m.dst),
msg2 AS (
  SELECT e.dst, CAST(SUM(r1.r // d.deg) AS BIGINT) AS s
  FROM e JOIN r1 ON e.src = r1.doc_id JOIN deg d ON e.src = d.src GROUP BY 1
),
r2 AS (SELECT n.doc_id, {T} + (85 * COALESCE(m.s, 0)) // 100 AS r
       FROM n LEFT JOIN msg2 m ON n.doc_id = m.dst),
msg3 AS (
  SELECT e.dst, CAST(SUM(r2.r // d.deg) AS BIGINT) AS s
  FROM e JOIN r2 ON e.src = r2.doc_id JOIN deg d ON e.src = d.src GROUP BY 1
),
r3 AS (SELECT n.doc_id, {T} + (85 * COALESCE(m.s, 0)) // 100 AS r
       FROM n LEFT JOIN msg3 m ON n.doc_id = m.dst)
SELECT r3.doc_id, CAST(r3.r AS BIGINT) AS rank,
       CAST(COALESCE(deg.deg, 0) AS BIGINT) AS degree
FROM r3 LEFT JOIN deg ON r3.doc_id = deg.src
""".format(LSH=dedup.minhash_lsh_pairs_sql(), S=PR_SCALE, T=PR_TELEPORT),
)
def x_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup graph (PR_ITERS damped power iterations,
    edges = strong MinHash-LSH pairs, both directions): the link-analysis
    signal web-corpus curation uses to rank duplication mass / centrality
    -- the repo's FOURTH iterative algorithm (after Lloyd's, label
    propagation and BPE merges), same full-replay oracle discipline.

    Exact integer arithmetic end-to-end so both engines agree bit-for-bit:
    ranks live in micro-rank units (start PR_SCALE), each edge message is
    the floored quotient rank div degree, and the damped update is
    teleport + (85 * msg_sum) div 100 -- every operand non-negative, so
    integer division IS floor in both engines.

    Scale shape: the edge list persists once and each iteration is ONE
    equi-join plus a map-side-combined groupBy on dst (the dedup_clusters
    loop's shape); ranks are a skinny (doc_id, long) relation; isolated
    docs short-circuit to the teleport constant via the left join."""
    return pagerank(catalog.load(spark, sf_dir).documents)


def pagerank(t_docs: DataFrame) -> DataFrame:
    """Core of x_dedup_pagerank over any (doc_id, text) relation (probe
    it on K-fold multiplied data with `scripts/probe.py --scale K`).

    ADAPTIVE exact-copy cohort contraction, same trigger as the rest of
    the pair/graph family: members of an exact-copy cohort are structurally
    interchangeable in the expanded strong-pair graph (cohorts internally
    complete, adjacent cohorts completely bipartite -- pair status is a
    pure function of the two texts), so by symmetry they hold IDENTICAL
    ranks at every iteration and the power iteration can run on the
    contracted rep graph with closed-form per-member arithmetic
    (_pagerank_contracted).  Below CONTRACT_MIN_COHORT the direct path
    wins (the contraction's fixed extra stages are pure overhead at the
    gate corpora's max-cohort-2)."""
    if dedup.max_cohort_size(t_docs) < dedup.CONTRACT_MIN_COHORT:
        return _pagerank_direct(t_docs)
    return _pagerank_contracted(t_docs)


def _both_ways(strong: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Every (doc_a, doc_b) pair in both directions, as columns (a, b)."""
    return strong.union(
        strong.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias(a), F.col("doc_b").alias(b))


def _pagerank_direct(t_docs: DataFrame) -> DataFrame:
    pairs = dedup.minhash_lsh_pairs(t_docs)
    strong = pairs.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    # the loop references the edge list PR_ITERS times (x2: messages + deg);
    # materializing it runs the LSH pipeline ONCE and cuts the lineage so
    # each iteration plans one equi-join over stored blocks
    edges = materialize(_both_ways(strong), "pr_edges")
    # deg is read by every iteration's message join plus the final report
    # (PR_ITERS + 1 references); checkpoint the skinny (src, deg) relation
    # so each reference reads stored blocks instead of re-aggregating the
    # edge list (the contracted path already does this)
    deg = materialize(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "pr_degree")
    nodes = t_docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    ranks = nodes.select("doc_id", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        msgs = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .join(deg, "src")
            .select("dst", F.expr("r div deg").alias("m"))
        )
        s = msgs.groupBy("dst").agg(F.sum("m").alias("s"))
        ranks = nodes.join(s, nodes.doc_id == s.dst, "left").select(
            "doc_id",
            (
                F.lit(PR_TELEPORT) + F.expr("(85 * coalesce(s, 0)) div 100")
            ).cast("long").alias("r"),
        )
    return (
        ranks.join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("r").alias("rank"),
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
        )
    )


def _pagerank_contracted(t_docs: DataFrame) -> DataFrame:
    """Power iteration on the exact-copy cohort graph, bit-identical to
    _pagerank_direct on the expanded graph (test-pinned on >=8-copy
    corpora, like the rest of the contraction family).

    By symmetry every member of cohort A (size s_A) carries the same rank
    r_A and the same expanded degree

        deg_A = (s_A - 1) + W_A,   W_A = sum over adjacent cohorts B of s_B

    so with q_A = r_A div deg_A (the per-edge message every member of A
    emits), a member's incoming message sum is closed-form:

        msg(v in A) = (s_A - 1) * q_A            [the other copies in A]
                    + sum over B ~ A of s_B * q_B [all members of each B]

    and the damped update T + (85 * msg) div 100 runs once per COHORT.
    Every iteration is one broadcast-scale join over the contracted edge
    list + one map-side-combined groupBy -- the direct loop's shape, on
    distinct content only; the final expansion is a single mapping join
    (members inherit their rep's rank and degree, which is exact, not an
    approximation).  Integer arithmetic is unchanged, so the result is
    bit-for-bit the direct path's."""
    cohorts = dedup.exact_cohorts_shared(t_docs)
    sizes = cohorts.select(F.col("rep").alias("v"), "s").distinct()
    rep_docs = t_docs.join(
        cohorts.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    strong = (
        dedup.minhash_lsh_pairs(rep_docs)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    edges = materialize(_both_ways(strong), "pr_edges")
    w = (
        edges.join(
            sizes.select(F.col("v").alias("src"), F.col("s").alias("ss")), "src"
        )
        .groupBy(F.col("dst").alias("v"))
        .agg(F.sum("ss").alias("w"))
    )
    deg = (
        sizes.join(w, "v", "left")
        .select(
            "v",
            "s",
            ((F.col("s") - 1) + F.coalesce("w", F.lit(0))).cast("long").alias("deg"),
        )
        .transform(materialize, "pr_degree")
    )
    ranks = deg.select("v", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        q = (
            ranks.join(deg, "v")
            .filter(F.col("deg") > 0)
            .select("v", "s", F.expr("r div deg").alias("q"))
        )
        cross = (
            edges.join(
                q.select(
                    F.col("v").alias("src"), (F.col("s") * F.col("q")).alias("m")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("m").alias("cx"))
        )
        within = q.select("v", ((F.col("s") - 1) * F.col("q")).alias("wi"))
        ranks = (
            deg.select("v")
            .join(cross, "v", "left")
            .join(within, "v", "left")
            .select(
                "v",
                (
                    F.lit(PR_TELEPORT)
                    + F.expr("(85 * (coalesce(cx, 0) + coalesce(wi, 0))) div 100")
                )
                .cast("long")
                .alias("r"),
            )
        )
    return (
        cohorts.select("doc_id", F.col("rep").alias("v"))
        .join(deg.select("v", "deg"), "v")
        .join(ranks, "v")
        .select(
            "doc_id",
            F.col("r").alias("rank"),
            F.col("deg").cast("long").alias("degree"),
        )
    )


@query("x_dedup_winnowing", oracle=dedup.winnow_fingerprints_sql())
def x_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sketch (Schleimer et al. 2003, the MOSS
    algorithm): per-window minimum of K-token gram hashes -- a fixed-density
    (~2/(W+1)) position-aware sketch that, unlike MinHash, localizes where
    overlap occurs.  Per-doc summary: gram count, selected fingerprints,
    density.  Hash+position pack into one BIGINT so the window MIN is the
    whole selection rule (operators/dedup.py)."""
    t = catalog.load(spark, sf_dir)
    return dedup.winnow_fingerprints(t.documents)


@query("x_dedup_winnowing_pairs", oracle=dedup.winnow_overlap_pairs_sql())
def x_dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document overlap via shared winnowed fingerprints: postings
    inverted index with a document-frequency cutoff (the quadratic-blowup
    guard), containment-form score |shared| / min(|A|,|B|) >= 0.5.  The
    MOSS report shape, at corpus scale: the self-join is keyed on the
    36-bit fingerprint hash and sees only the ~2/(W+1)-density sketch,
    never the corpus text."""
    t = catalog.load(spark, sf_dir)
    return dedup.winnow_overlap_pairs(t.documents)


@query(
    "x_dedup_triangles",
    oracle="""
WITH strong AS (
  SELECT doc_a, doc_b FROM ({LSH}) WHERE jaccard >= 0.5
),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM strong
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM strong
),
deg AS (SELECT a AS v, COUNT(*) AS deg FROM und GROUP BY 1),
o AS (
  SELECT u.a AS src, u.b AS dst
  FROM und u JOIN deg da ON u.a = da.v JOIN deg db ON u.b = db.v
  WHERE da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
),
tri AS (
  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
  FROM o e1
  JOIN o e2 ON e1.dst = e2.src
  JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
pernode AS (
  SELECT v, COUNT(*) AS t FROM (
    SELECT x AS v FROM tri
    UNION ALL SELECT y AS v FROM tri
    UNION ALL SELECT z AS v FROM tri
  ) GROUP BY 1
)
SELECT d.v AS doc_id, CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(p.t, 0) AS BIGINT) AS n_triangles,
       FLOOR((CAST(2 * COALESCE(p.t, 0) AS DOUBLE)
             / CAST(d.deg * (d.deg - 1) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS clustering_coeff
FROM deg d LEFT JOIN pernode p ON d.v = p.v
WHERE d.deg >= 2
""".format(LSH=dedup.minhash_lsh_pairs_sql()),
)
def x_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the strong
    near-dup graph (the duplication-community density signal: high
    coefficient = mirror farms / template families, low = chains of
    borderline matches).

    The scale-canonical degree-orientation algorithm: orient every edge
    from the (degree, id)-smaller endpoint to the larger, so each triangle
    is enumerated EXACTLY once and the wedge join's fanout per node is
    bounded by its oriented out-degree, O(sqrt(m)) -- the property that
    keeps the two equi-joins feasible on a power-law dup graph at 100 TB
    where a naive neighbor self-join explodes on hub nodes.  The oriented
    edge list is materialized once (three joins reference it)."""
    t = catalog.load(spark, sf_dir)
    return dedup_triangles(t.documents)


def dedup_triangles(t_docs: DataFrame) -> DataFrame:
    """Core of x_dedup_triangles over any (doc_id, text) relation (probe
    it on K-fold multiplied data with `scripts/probe.py --scale K`).

    Exact-copy cohort CONTRACTION (the 100x fix -- 807.5 s of raw wedge
    joins at the all-copy smoke before this): docs with identical shingle
    sets form cliques whose members all share the same neighbor relation,
    so the expanded strong-pair graph is exactly the contracted graph with
    every cohort A (size s_A) internally complete and adjacent cohorts
    completely bipartite.  Per-member counts then have a closed form:

        deg(v in A)  = (s_A - 1) + W_A,           W_A  = sum_{B~A} s_B
        tri(v in A)  = C(s_A - 1, 2)                      [both in A]
                     + (s_A - 1) * W_A                    [one in A]
                     + sum_{B~A} C(s_B, 2)                [both in one B]
                     + T_A                                [two cohorts]
        T_A = sum over contracted triangles (A,B,C) of s_B * s_C

    so the wedge join -- the only super-linear stage -- runs on DISTINCT
    content only, and the expansion is a mapping join.

    ADAPTIVE: one 1-row aggregate reads the largest cohort size; below
    CONTRACT_MIN_COHORT the direct wedge join wins (a size-2 cohort adds
    one triangle row where the contraction adds ~12 fixed stages, ~4.5 s
    of pure overhead at sf0.1's max-s-2 corpus), above it the cohort
    cliques' C(s,3) wedge output dominates everything (807.5 s at s=100)
    -- the same runtime-statistics-decide-the-plan principle AQE applies
    to join strategies."""
    from ..functions import ratio as _ratio

    if dedup.max_cohort_size(t_docs) < dedup.CONTRACT_MIN_COHORT:
        strong = (
            dedup.minhash_lsh_pairs(t_docs)
            .filter(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b")
        )
        return _triangles_direct(strong, _ratio)
    cohorts = dedup.exact_cohorts_shared(t_docs)
    rep_docs = t_docs.join(
        cohorts.select(F.col("rep").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    pairs = dedup.minhash_lsh_pairs(rep_docs)
    strong = pairs.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    und = _both_ways(strong, "a", "b")
    sizes = cohorts.select(F.col("rep").alias("v"), F.col("s")).distinct()
    # per-cohort neighbor aggregates: W_A and sum of C(s_B, 2)
    sym = und.join(sizes.withColumnRenamed("v", "b").withColumnRenamed("s", "sb"), "b")
    neigh = sym.groupBy(F.col("a").alias("v")).agg(
        F.sum("sb").alias("w"),
        F.sum((F.col("sb") * (F.col("sb") - 1)) / 2).cast("long").alias("c2n"),
        F.count(F.lit(1)).alias("cdeg"),
    )
    # degree-oriented wedge join on the CONTRACTED graph; each triangle
    # (x, y, z) contributes s_y*s_z to x, s_x*s_z to y, s_x*s_y to z
    cdeg = neigh.select("v", "cdeg")
    o = (
        und.join(cdeg.withColumnRenamed("v", "a").withColumnRenamed("cdeg", "da"), "a")
        .join(cdeg.withColumnRenamed("v", "b").withColumnRenamed("cdeg", "db"), "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .transform(materialize, "tri_oriented_edges")
    )
    e1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .join(sizes.withColumnRenamed("v", "x").withColumnRenamed("s", "sx"), "x")
        .join(sizes.withColumnRenamed("v", "y").withColumnRenamed("s", "sy"), "y")
        .join(sizes.withColumnRenamed("v", "z").withColumnRenamed("s", "sz"), "z")
    )
    pernode = (
        tri.select(F.col("x").alias("v"), (F.col("sy") * F.col("sz")).alias("c"))
        .union(tri.select(F.col("y").alias("v"), (F.col("sx") * F.col("sz")).alias("c")))
        .union(tri.select(F.col("z").alias("v"), (F.col("sx") * F.col("sy")).alias("c")))
        .groupBy("v")
        .agg(F.sum("c").alias("t"))
    )
    per_cohort = (
        sizes.join(neigh.select("v", "w", "c2n"), "v", "left")
        .join(pernode, "v", "left")
        .select(
            F.col("v").alias("rep"),
            (
                (F.col("s") - 1) + F.coalesce("w", F.lit(0))
            ).cast("long").alias("degree"),
            (
                ((F.col("s") - 1) * (F.col("s") - 2) / 2).cast("long")
                + (F.col("s") - 1) * F.coalesce("w", F.lit(0))
                + F.coalesce("c2n", F.lit(0))
                + F.coalesce("t", F.lit(0))
            ).cast("long").alias("n_triangles"),
        )
    )
    return (
        cohorts.select("doc_id", "rep")
        .join(per_cohort, "rep")
        .filter(F.col("degree") >= 2)
        .select(
            "doc_id",
            "degree",
            "n_triangles",
            _ratio(
                2 * F.col("n_triangles"),
                F.col("degree") * (F.col("degree") - 1),
            ).alias("clustering_coeff"),
        )
    )


def _triangles_direct(strong: "DataFrame", _ratio) -> "DataFrame":
    """The raw degree-oriented wedge join (pre-contraction path): each
    triangle enumerated once, out-degree bounded O(sqrt(m)).  Taken when
    every exact-copy cohort is a singleton; shares output semantics with
    the contracted path (tests pin both against the same oracle)."""
    und = _both_ways(strong, "a", "b")
    deg = und.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    o = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .filter(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .transform(materialize, "tri_oriented_edges")
    )
    e1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    e2 = o.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    e3 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    pernode = (
        tri.select(F.col("x").alias("v"))
        .union(tri.select(F.col("y").alias("v")))
        .union(tri.select(F.col("z").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(pernode, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            _ratio(
                2 * F.coalesce("t", F.lit(0)),
                F.col("deg") * (F.col("deg") - 1),
            ).alias("clustering_coeff"),
        )
    )


@query("x_dedup_prefix_join", oracle=dedup.prefix_join_pairs_sql())
def x_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (PPJoin family): the EXACT
    Jaccard >= 0.5 pair set, with candidate generation bounded by ordering
    every document's shingles by ascending global document frequency and
    indexing only the |d| div 2 + 1 rarest -- plus the size filter
    max <= 2*min.  The exact-result alternative to x_dedup_ngram_jaccard's
    MAX_DF recall cutoff: hot shingles sort to the suffix and stay out of
    the inverted index instead of being dropped (operators/dedup.py)."""
    t = catalog.load(spark, sf_dir)
    return dedup.prefix_join_pairs(t.documents)


KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
deg{r} AS (SELECT src, COUNT(*) AS deg FROM e{r - 1} GROUP BY 1),
keep{r} AS (SELECT src AS v FROM deg{r} WHERE deg >= {KCORE_K}),
e{r} AS (
  SELECT e.src, e.dst FROM e{r - 1} e
  JOIN keep{r} a ON e.src = a.v JOIN keep{r} b ON e.dst = b.v
)""")
    return f"""
WITH strong AS (
  SELECT doc_a, doc_b FROM ({{LSH}}) WHERE jaccard >= 0.5
),
e0 AS (
  SELECT doc_a AS src, doc_b AS dst FROM strong
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM strong
),
deg0 AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY 1),{",".join(rounds)},
final AS (SELECT src, COUNT(*) AS deg FROM e{KCORE_ROUNDS} GROUP BY 1)
SELECT f.src AS doc_id,
       CAST(d0.deg AS BIGINT) AS degree_full,
       CAST(f.deg AS BIGINT) AS degree_core
FROM final f JOIN deg0 d0 ON f.src = d0.src
""".format(LSH=dedup.minhash_lsh_pairs_sql())


@query("x_dedup_kcore", oracle=_kcore_oracle())
def x_dedup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the strong near-dup graph via 3 peeling rounds
    (iteratively drop nodes with degree < KCORE_K and their edges): the
    dense-community extractor -- k-core membership separates genuine
    mirror/template FAMILIES from incidental pairwise matches, the signal
    curation uses to prioritize cluster-level review.  Fixed round count
    keeps the oracle a full replay (chained CTEs, the pagerank
    discipline); on the gate data 3 rounds reach the peeling fixpoint
    (test-pinned), and each round is one degree aggregate + two semi-join
    shaped edge filters over the checkpointed skinny edge list -- the
    dedup_clusters loop shape, O(|E|) per round at any corpus size."""
    t = catalog.load(spark, sf_dir)
    return dedup_kcore(t.documents)


def dedup_kcore(t_docs: DataFrame, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Core of x_dedup_kcore over any (doc_id, text) relation.

    Adaptive exact-copy cohort contraction, completing the pair/graph
    quartet (prefix join, triangles, bigstar CC): above
    CONTRACT_MIN_COHORT the peeling runs on the cohort graph with
    WEIGHTED degrees -- all members of a cohort are structurally
    identical, so they peel together, and deg(v in A) =
    (s_A - 1) + sum of alive neighbor cohort sizes reproduces the
    expanded-graph round semantics exactly."""
    if dedup.max_cohort_size(t_docs) < dedup.CONTRACT_MIN_COHORT:
        pairs = dedup.minhash_lsh_pairs(t_docs)
        strong = pairs.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
        return _kcore_direct(strong, rounds)
    cohorts = dedup.exact_cohorts_shared(t_docs)
    sizes = cohorts.select(F.col("rep").alias("v"), "s").distinct()
    rep_docs = t_docs.join(
        cohorts.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    strong = (
        dedup.minhash_lsh_pairs(rep_docs)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    edges = materialize(_both_ways(strong), "kcore_edges")

    def weighted_deg(e: DataFrame, alive: DataFrame) -> DataFrame:
        # deg(member of A) = (s_A - 1) + sum of alive neighbor sizes
        w = (
            e.join(alive.withColumnRenamed("v", "dst").withColumnRenamed("s", "sb"), "dst")
            .groupBy("src")
            .agg(F.sum("sb").alias("w"))
        )
        return alive.join(
            w.withColumnRenamed("src", "v"), "v", "left"
        ).select(
            "v",
            "s",
            ((F.col("s") - 1) + F.coalesce("w", F.lit(0))).alias("deg"),
        )

    deg0 = weighted_deg(edges, sizes)
    alive = sizes
    e = edges
    for _ in range(rounds):
        d = weighted_deg(e, alive)
        alive = materialize(d.filter(F.col("deg") >= KCORE_K).select("v", "s"), "kcore_alive")
        e = (
            e.join(alive.select(F.col("v").alias("src")), "src")
            .join(alive.select(F.col("v").alias("dst")), "dst")
            .select("src", "dst")
            .transform(materialize, "kcore_edges")
        )
    final = weighted_deg(e, alive).filter(F.col("deg") >= 1)
    per_cohort = final.select(F.col("v").alias("rep"), F.col("deg").alias("degree_core")).join(
        deg0.select(F.col("v").alias("rep"), F.col("deg").alias("degree_full")), "rep"
    )
    return (
        cohorts.select("doc_id", "rep")
        .join(per_cohort, "rep")
        .select(
            "doc_id",
            F.col("degree_full").cast("long").alias("degree_full"),
            F.col("degree_core").cast("long").alias("degree_core"),
        )
    )


def _kcore_direct(strong: DataFrame, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """The raw per-node peeling (pre-contraction path)."""
    edges = materialize(_both_ways(strong), "kcore_edges")
    deg0 = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree_full"))
    e = edges
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select(F.col("src").alias("v"))
        e = (
            e.join(keep.withColumnRenamed("v", "src"), "src")
            .join(keep.withColumnRenamed("v", "dst"), "dst")
            .select("src", "dst")
            .transform(materialize, "kcore_edges")
        )
    final = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree_core"))
    return (
        final.join(deg0, "src")
        .select(
            F.col("src").alias("doc_id"),
            F.col("degree_full").cast("long").alias("degree_full"),
            F.col("degree_core").cast("long").alias("degree_core"),
        )
    )


@query(
    "x_dedup_lsh_recall",
    oracle="""
WITH exact AS (
  SELECT doc_a, doc_b, jaccard FROM ({EXACT})
),
lsh AS (
  SELECT doc_a, doc_b FROM ({LSH}) WHERE jaccard >= 0.5
),
joined AS (
  SELECT exact.doc_a, exact.doc_b, exact.jaccard,
         lsh.doc_a IS NOT NULL AS found
  FROM exact LEFT JOIN lsh USING (doc_a, doc_b)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST(SUM(CASE WHEN found THEN 0 ELSE 1 END) AS BIGINT) AS n_missed,
       FLOOR((CAST(SUM(CASE WHEN found THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS recall,
       FLOOR(COALESCE(AVG(CASE WHEN NOT found THEN jaccard END), 0.0) * 10000.0 + 0.5) / 10000.0 AS avg_missed_jaccard
FROM joined
""".format(EXACT=dedup.prefix_join_pairs_sql(), LSH=dedup.minhash_lsh_pairs_sql()),
)
def x_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH banding against the EXACT Jaccard >= 0.5 pair
    set (which x_dedup_prefix_join makes computable): the index-quality
    measurement for the dedup family, exactly as x_sim_ann_recall measures
    the ANN index -- is the 8x4 banding s-curve (threshold ~0.59) actually
    catching the pairs the pipeline's 0.5 policy wants?  Reports the miss
    count and the mean Jaccard of missed pairs: misses concentrating just
    above 0.5 is the expected s-curve shape; misses at high Jaccard would
    flag a banding bug.  Both arms are exact and already oracled, so the
    evaluator is bit-exact by composition."""
    t = catalog.load(spark, sf_dir)
    exact = dedup.prefix_join_pairs(t.documents)
    lsh = (
        dedup.minhash_lsh_pairs(t.documents)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.lit(True).alias("found"))
    )
    joined = exact.join(lsh, ["doc_a", "doc_b"], "left").select(
        "jaccard", F.coalesce("found", F.lit(False)).alias("found")
    )
    from ..functions import fround as _fr

    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("found"), 1).otherwise(0)).cast("long").alias("n_found"),
        F.sum(F.when(F.col("found"), 0).otherwise(1)).cast("long").alias("n_missed"),
        _fr(
            F.sum(F.when(F.col("found"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("recall"),
        _fr(
            F.coalesce(
                F.avg(F.when(~F.col("found"), F.col("jaccard"))), F.lit(0.0)
            ),
            4,
        ).alias("avg_missed_jaccard"),
    )


SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@query(
    "x_dedup_threshold_sweep",
    oracle="""
WITH pairs AS (
  SELECT doc_a, doc_b, jaccard FROM ({LSH})
),
t AS (SELECT CAST(v.thr AS DOUBLE) AS thr FROM (VALUES {VALS}) v(thr)),
flagged AS (
  SELECT t.thr, p.doc_a, p.doc_b
  FROM pairs p JOIN t ON p.jaccard >= t.thr
),
docs AS (
  SELECT thr, doc_a AS doc_id FROM flagged
  UNION
  SELECT thr, doc_b AS doc_id FROM flagged
)
SELECT t.thr AS threshold,
       CAST(COALESCE(f.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(d.n_docs, 0) AS BIGINT) AS n_docs_flagged
FROM t
LEFT JOIN (SELECT thr, COUNT(*) AS n_pairs FROM flagged GROUP BY 1) f USING (thr)
LEFT JOIN (SELECT thr, COUNT(*) AS n_docs FROM docs GROUP BY 1) d USING (thr)
""".format(
        LSH=dedup.minhash_lsh_pairs_sql(),
        VALS=", ".join(f"({t})" for t in SWEEP_THRESHOLDS),
    ),
)
def x_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy sensitivity sweep: pair count and flagged-doc count at
    each candidate Jaccard threshold, from ONE pair relation -- the report
    a data team reads before fixing the near-dup policy (how much data
    does 0.6 vs 0.8 actually remove?).  The pair relation computes once
    (the LSH machinery); the sweep is a small broadcast threshold relation
    joined on an inequality against skinny (pair, jaccard) rows -- cost is
    |pairs| x |thresholds|, never a recompute per threshold."""
    t = catalog.load(spark, sf_dir)
    pairs = materialize(dedup.minhash_lsh_pairs(t.documents), "lsh_pairs")
    thr = spark.createDataFrame(
        [(float(x),) for x in SWEEP_THRESHOLDS], "thr double"
    )
    flagged = pairs.join(
        F.broadcast(thr), pairs.jaccard >= thr.thr
    ).select("thr", "doc_a", "doc_b")
    np = flagged.groupBy("thr").agg(F.count(F.lit(1)).alias("n_pairs"))
    nd = (
        flagged.select("thr", F.col("doc_a").alias("doc_id"))
        .union(flagged.select("thr", F.col("doc_b").alias("doc_id")))
        .distinct()
        .groupBy("thr")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        thr.join(np, "thr", "left")
        .join(nd, "thr", "left")
        .select(
            F.col("thr").alias("threshold"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs_flagged"),
        )
    )


ED_Q = 12           # q-gram width: sized to the corpus's gram diversity --
# the synthetic word-soup draws from a tiny vocabulary, so 5-grams have only
# ~2k distinct values (mean df ~500, prefix filtering defeated: 430k
# candidates / 16M join rows at sf0.1); 12-grams span ~2 words and reach
# ~131k distinct values (mean df ~11), cutting candidates to ~50k.  The
# prefix guarantee is q-agnostic (one edit destroys <= q grams, and the
# prefix grows to match); the cost is a (q*d+1)-row index per distinct
# content instead of (5d+1).
#
# TUNING POLICY (how to pick q for a different corpus): choose the smallest
# q whose mean gram document frequency (total gram occurrences / distinct
# grams, a one-row aggregate probe over a sample) is small -- of order tens,
# not hundreds.  Prefix filtering prunes in proportion to gram rarity, so a
# q that leaves mean df in the hundreds (this corpus at q=5) generates
# near-quadratic candidates; raising q multiplies distinct-gram diversity
# at a linear index-size cost (q*d+1 prefix rows).  Natural-language
# corpora with normal vocabulary diversity want the literature's q=5
# (Ed-Join, Xiao et al. 2008); this synthetic low-diversity corpus needs
# q=12 (measured, NOTES_round10.md).
ED_D = 10           # edit-distance threshold
ED_PREFIX = ED_Q * ED_D + 1  # one edit op destroys <= q grams
ED_SHORT_MAX = ED_Q + ED_D   # docs shorter than this enter the sentinel arm
ED_SENT_B = 2 * ED_D + 1     # sentinel length-bucket width

_ED_JOIN_ORACLE = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, md5(text) AS fp FROM documents
),
cohorts AS (SELECT fp, MIN(doc_id) AS rep, COUNT(*) AS s FROM d GROUP BY 1),
repdocs AS (
  SELECT c.rep AS doc_id, d.text, length(d.text) AS len, c.fp
  FROM cohorts c JOIN d ON d.doc_id = c.rep
),
grams AS (
  SELECT doc_id, len,
         unnest(list_distinct(list_transform(
           generate_series(1, len - {ED_Q - 1}),
           i -> substr(text, i, {ED_Q})))) AS g
  FROM repdocs
),
dfreq AS (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1),
pref AS (
  SELECT doc_id, len, g FROM (
    SELECT grams.doc_id, grams.len, grams.g,
           row_number() OVER (PARTITION BY grams.doc_id
                              ORDER BY dfreq.df ASC, grams.g ASC) AS rn
    FROM grams JOIN dfreq USING (g)
  ) WHERE rn <= {ED_PREFIX}
),
sent AS (
  SELECT doc_id, len, '#S' || CAST(b AS VARCHAR) AS g
  FROM (
    SELECT doc_id, len,
           unnest(generate_series(GREATEST(0, len - {ED_D}) // {ED_SENT_B},
                                  (len + {ED_D}) // {ED_SENT_B})) AS b
    FROM repdocs WHERE len < {ED_SHORT_MAX}
  )
),
idx AS (
  SELECT doc_id, len, g FROM pref
  UNION ALL
  SELECT doc_id, len, g FROM sent
),
cand AS (
  SELECT DISTINCT a.doc_id AS ra, b.doc_id AS rb
  FROM idx a JOIN idx b
    ON a.g = b.g AND a.doc_id < b.doc_id
  WHERE abs(a.len - b.len) <= {ED_D}
),
rpairs AS (
  SELECT c.ra, c.rb,
         CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
  FROM cand c
  JOIN repdocs da ON da.doc_id = c.ra
  JOIN repdocs db ON db.doc_id = c.rb
  WHERE levenshtein(da.text, db.text) <= {ED_D}
),
cross_pairs AS (
  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
         GREATEST(ma.doc_id, mb.doc_id) AS doc_b,
         r.edit_distance
  FROM rpairs r
  JOIN repdocs ca ON ca.doc_id = r.ra
  JOIN repdocs cb ON cb.doc_id = r.rb
  JOIN d ma ON ma.fp = ca.fp
  JOIN d mb ON mb.fp = cb.fp
),
within AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS edit_distance
  FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, edit_distance FROM cross_pairs
UNION ALL
SELECT doc_a, doc_b, edit_distance FROM within
"""


def edit_join_pairs(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """Core of x_dedup_edit_join over an arbitrary (doc_id, text) relation
    -- factored out so the short-doc completeness test can drive it with a
    constructed corpus (tests/test_selection_ops.py)."""
    from pyspark.sql.window import Window

    # `d` is referenced five times downstream (cohort build, rep join, the
    # two member-expansion sides, the within-cohort arm) and `repdocs` four
    # times (grams, sentinel arm, both text sides) — left lazy each
    # reference re-scanned the corpus and re-ran the md5/cohort shuffle
    d = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("text"),
        F.md5("text").alias("fp"),
    ).transform(materialize, "ed_docs")
    cohorts = d.groupBy("fp").agg(F.min("doc_id").alias("rep")).alias("c")
    repdocs = (
        cohorts.join(d.alias("dd"), F.col("c.rep") == F.col("dd.doc_id"))
        .select(
            F.col("c.rep").alias("doc_id"),
            F.col("dd.text").alias("text"),
            F.length(F.col("dd.text")).alias("len"),
            F.col("dd.fp").alias("fp"),
        )
        .transform(materialize, "ed_rep_docs")
    )
    # Candidate-index grams are ENGINE-INTERNAL: candidates are verified by
    # exact levenshtein below, and the prefix-filter completeness theorem
    # (two strings within distance d share one of the q*d+1 rarest grams
    # under ANY globally consistent ordering) survives hashing — collisions
    # only merge df counts consistently and add candidates the verify
    # rejects.  So the index shuffles 8-byte xxhash64 longs instead of
    # 10-char strings (guide §2.3: narrower types), and the gram relation
    # is checkpointed once instead of exploding twice (dfreq + pref).
    # The final output is unchanged: both engines emit exactly the pairs
    # within distance d, each from its own complete candidate set.
    # array_distinct runs on the HASHED longs (not the strings), so a
    # within-doc 64-bit collision cannot double-count dfreq or burn one of
    # the ED_PREFIX slots -- the prefix-filter completeness bound stays
    # airtight under ANY collision (ADVICE r16); per-row op, no extra shuffle
    grams = (
        repdocs.select(
            "doc_id",
            "len",
            F.explode(
                F.expr(
                    f"array_distinct(CASE WHEN length(text) >= {ED_Q} THEN"
                    f" transform(sequence(1, length(text) - {ED_Q - 1}),"
                    f" i -> xxhash64(substring(text, i, {ED_Q})))"
                    " ELSE array() END)"
                )
            ).alias("g"),
        )
        .transform(materialize, "ed_grams")
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("g").asc())
    pref = (
        grams.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ED_PREFIX)
        .select("doc_id", "len", "g")
    )
    # Short-doc sentinel arm: a doc with len < ED_Q emits ZERO q-grams, so
    # without this it would never enter the index -- yet any two short
    # strings are trivially within distance ED_D.  Every doc short enough
    # to PARTNER a gram-less doc (len < ED_Q + ED_D, the length filter's
    # reach) emits sentinel length-bucket grams covering [len-d, len+d]
    # (bucket width 2d+1, so a within-d pair always shares the bucket of
    # the shorter length); the buckets ride the existing equi-keyed
    # candidate join and the |len_a-len_b| <= d filter.  The pool is
    # bounded: distinct contents shorter than ED_SHORT_MAX chars, i.e. a
    # length-bucketed brute force over only the short tail of the corpus.
    # GREATEST(0, len-d) keeps the DIV arguments non-negative, where Spark
    # DIV (truncate) and DuckDB // (floor) agree.
    sent = (
        repdocs.filter(F.col("len") < ED_SHORT_MAX)
        .select(
            "doc_id",
            "len",
            F.explode(
                F.expr(
                    f"sequence(greatest(0, len - {ED_D}) div {ED_SENT_B},"
                    f" (len + {ED_D}) div {ED_SENT_B})"
                )
            ).alias("b"),
        )
        .select(
            "doc_id",
            "len",
            # same 8-byte key space as the content grams; a sentinel/content
            # hash collision only adds a candidate the verify rejects
            F.xxhash64(F.concat(F.lit("#S"), F.col("b").cast("string"))).alias("g"),
        )
    )
    idx = pref.unionByName(sent)
    a = idx.alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= ED_D),
        )
        .select(F.col("a.doc_id").alias("ra"), F.col("b.doc_id").alias("rb"))
        .distinct()
    )
    da = repdocs.select(
        F.col("doc_id").alias("ra"), F.col("text").alias("ta"), F.col("fp").alias("fa")
    )
    db = repdocs.select(
        F.col("doc_id").alias("rb"), F.col("text").alias("tb"), F.col("fp").alias("fb")
    )
    # Materialize the candidate pairs WITH their texts, partitioning pinned,
    # BEFORE the quadratic-DP levenshtein evaluates.  Two distinct scale
    # traps force this barrier:
    #  (1) parallelism: the threshold filter `edit_distance <= ED_D` pushes
    #      through any Project/Repartition down INTO the text join's
    #      condition, and the join's input exchanges are AQE-coalescible
    #      (two-long rows look tiny), so without a barrier the whole DP can
    #      land on ONE core -- measured 81.6 s vs 4.6 s for the identical
    #      125k-pair workload with the DP pinned above an explicit
    #      repartition (and 43 s vs 6.5 s for the gated entry when the
    #      sentinel union flipped the planner into exactly that shape).
    #  (2) re-evaluation: without the lineage cut, CollapseProject pushes
    #      the levenshtein expression into the expanded member-pair
    #      projection, re-running the DP once per MEMBER pair (the minhash
    #      md5 trap) -- measured 545 s at the 100x all-copy probe.
    # The checkpointed relation is bounded: one row per CANDIDATE rep pair
    # (never member pairs) x two texts.
    withtexts = (
        cand.join(da, "ra")
        .join(db, "rb")
        .repartition(spark.sparkContext.defaultParallelism, "ra", "rb")
        .transform(materialize, "ed_rep_pair_texts")
    )
    rpairs = (
        withtexts.select(
            "ra", "rb", "fa", "fb",
            F.levenshtein("ta", "tb").cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= ED_D)
        # drop the texts before expansion; skinny bounded rep-pair relation
        .transform(materialize, "ed_rep_pairs")
    )
    ma = d.alias("ma")
    mb = d.alias("mb")
    cross = (
        rpairs.alias("r")
        .join(ma, F.col("ma.fp") == F.col("r.fa"))
        .join(mb, F.col("mb.fp") == F.col("r.fb"))
        .select(
            F.least(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_a"),
            F.greatest(F.col("ma.doc_id"), F.col("mb.doc_id")).alias("doc_b"),
            F.col("r.edit_distance").alias("edit_distance"),
        )
    )
    w1 = d.alias("w1")
    w2 = d.alias("w2")
    within = (
        w1.join(
            w2,
            (F.col("w1.fp") == F.col("w2.fp"))
            & (F.col("w1.doc_id") < F.col("w2.doc_id")),
        )
        .select(
            F.col("w1.doc_id").alias("doc_a"),
            F.col("w2.doc_id").alias("doc_b"),
            F.lit(0).cast("long").alias("edit_distance"),
        )
    )
    return cross.unionByName(within)


@query("x_dedup_edit_join", oracle=_ED_JOIN_ORACLE)
def x_dedup_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join (the Ed-Join family, Xiao et al.
    2008): all document pairs within Levenshtein distance ED_D, the
    CHARACTER-level near-dup lane beside prefix_join's token-set Jaccard
    -- it catches small in-place edits (typo fixes, entity swaps) whose
    token sets still differ.  Candidate generation reuses the
    prefix-filtering discipline: every doc's q-grams sort by ascending
    global document frequency and only the ED_PREFIX = ED_Q*ED_D + 1
    rarest are indexed (one edit op destroys at most q grams, so two
    strings within distance d MUST collide inside any common
    (q*d+1)-sized prefix under a shared order); a length filter
    |len_a - len_b| <= d prunes before the verify; survivors verify with
    ONE exact levenshtein each -- identical unit-cost DP in both engines.
    Docs too short to emit q-grams (len < ED_Q) route through a
    length-bucketed sentinel arm (see edit_join_pairs) so short-short and
    short-long pairs are NOT silently missed.  Empirical completeness vs
    brute force is pinned in tests/test_selection_ops.py, including a
    dedicated short-doc corpus.

    The family's exact-copy cohort contraction is ALWAYS ON here (not
    probe-gated): identical texts share every edit distance by symmetry,
    so the gram index, candidate join, and the quadratic-cost levenshtein
    verify all run on distinct-CONTENT representatives only; member pairs
    re-expand closed-form (cross-cohort pairs inherit the rep distance,
    within-cohort pairs are distance 0) -- the 100x all-copy probe shape
    would otherwise spend ~25M levenshteins proving copies are copies.
    At gate scale the contraction is near-free (cohorts are tiny), so no
    adaptive trigger is needed.

    Scale shape: the inverted index holds ED_PREFIX (q*d+1) grams per
    distinct content regardless of document length; hot grams sort to the
    suffix and never enter the index (the PPJoin trick, not a
    recall-losing MAX_DF drop); the gram join is equi-keyed; expansion is
    equi-joins on the content fingerprint.  q itself is corpus-tuned by
    the documented policy rule above ED_Q (mean gram df of order tens)."""
    t = catalog.load(spark, sf_dir)
    return edit_join_pairs(spark, t.documents)


ED_DF_TARGET = 50   # policy threshold: mean gram df "of order tens"
ED_Q_CANDIDATES = (5, 8, 12)
# Deterministic 1/4 id-hash sample for the policy probe (round-12, VERDICT
# r11 item 7: the full scan cost 7 s on the gate to answer a 5-row
# diagnostic; its own docstring prescribed a sampled split at scale).
# mean df is then ESTIMATED as (sampled postings x 4) / sampled distinct
# grams: postings scale exactly linearly in a uniform doc sample (each doc
# contributes its own distinct grams), while sampled distinct grams
# UNDERCOUNT the full corpus -- so the estimate only ever overstates df,
# biasing toward LARGER q, the conservative direction for prefix
# filtering.  Measured decisions unchanged: sf0.01 gate corpus picks q=8
# sampled and full (est 54.4 vs true 51.7 at q=5, both over target);
# sf0.1 picks q=12 sampled and full (q=8 est 104 vs true 103.9).
QGRAM_SAMPLE_MOD = 4

_QGRAM_POLICY_ORACLE = f"""
WITH g AS (
  SELECT q, unnest(list_distinct(list_transform(
           generate_series(1, len(text) - CAST(q AS INT) + 1),
           i -> substr(text, i, CAST(q AS INT))))) AS gram
  FROM documents, unnest({list(ED_Q_CANDIDATES)}) AS qs(q)
  WHERE len(text) >= q
    AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % {QGRAM_SAMPLE_MOD} = 0
),
stats AS (
  SELECT q, COUNT(*) AS n_postings, COUNT(DISTINCT gram) AS n_distinct
  FROM g GROUP BY q
),
pick AS (
  SELECT MIN(q) AS chosen_q FROM stats
  WHERE CAST(n_postings AS DOUBLE) * {QGRAM_SAMPLE_MOD}
        / CAST(n_distinct AS DOUBLE) <= {ED_DF_TARGET}
)
SELECT CAST(q AS INT) AS q,
       CAST(n_postings AS BIGINT) AS n_postings,
       CAST(n_distinct AS BIGINT) AS n_distinct_grams,
       FLOOR((CAST(n_postings AS DOUBLE) * {QGRAM_SAMPLE_MOD}
             / CAST(n_distinct AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS mean_df_est,
       q = coalesce(chosen_q, {max(ED_Q_CANDIDATES)}) AS chosen
FROM stats, pick
"""


@query("x_dedup_qgram_policy", oracle=_QGRAM_POLICY_ORACLE)
def x_dedup_qgram_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The edit-join q-tuning policy (ED_Q docstring) as an EXECUTABLE
    probe instead of prose: for each candidate gram width q, one corpus
    pass measures the inverted index's mean gram document frequency
    (gram postings / distinct grams -- exactly the quantity prefix
    filtering's pruning power depends on), and `chosen` marks the
    smallest q whose mean df is at most ED_DF_TARGET (order tens; fall
    back to the largest candidate when none qualifies).  The answer is
    corpus-SIZE dependent by design -- gram diversity saturates while
    postings keep growing: at sf0.1 (the NOTES_round10 tuning corpus)
    q=5 measures df ~500 (prefix filtering defeated) and the rule picks
    ED_Q=12 (df ~11); at the sf0.01 gate corpus q=8 already qualifies.
    Rerunning this entry on a new corpus (or a new scale) is how ED_Q is
    re-derived.  Scale shape: the probe runs on a deterministic
    1/QGRAM_SAMPLE_MOD id-hash split (round 12 -- the full scan answered a
    5-row diagnostic at 7 s gate cost) with mean df estimated by linear
    postings scaling over sampled distinct grams, an overestimate that can
    only bias toward larger q (see QGRAM_SAMPLE_MOD; decisions verified
    unchanged at both gate and bench SFs); then one scan + exact-copy
    contraction (grams generated once per DISTINCT text,
    multiplicity-weighted -- positional substring extraction is O(len^2)
    bytes per doc, the 100x probe's 1251 s -> 12.6 s finding), a
    (q, gram)-keyed map-side-combined pre-agg, a |distinct grams|-row
    rollup."""
    from .x_pipeline import _bucket

    t = catalog.load(spark, sf_dir)
    # sample FIRST (on doc_id -- the shared md5-bucket recipe), THEN apply
    # the exact-copy contraction within the sample: grams are generated
    # ONCE per DISTINCT sampled text and weighted by multiplicity --
    # per-doc-distinct semantics are preserved exactly (copies contribute
    # identical distinct-gram sets).  The (q, gram) pre-agg then combines
    # map-side and the per-q rollup reads |distinct grams| rows instead of
    # pushing every posting through a count_distinct expand.  100x probe:
    # 1251 s -> 12.6 s (contraction), then /4 again (sampled split).
    dm = (
        t.documents.filter(
            _bucket(F.col("doc_id"), QGRAM_SAMPLE_MOD) == 0
        )
        .groupBy("text")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    g = (
        dm.select(F.explode(F.lit(list(ED_Q_CANDIDATES))).alias("q"), "text", "m")
        .filter(F.length("text") >= F.col("q"))
        .select(
            "q",
            "m",
            F.explode(
                F.expr(
                    "array_distinct(transform("
                    " sequence(1, length(text) - q + 1),"
                    " i -> substring(text, i, q)))"
                )
            ).alias("gram"),
        )
    )
    per_gram = g.groupBy("q", "gram").agg(F.sum("m").alias("cnt"))
    stats = per_gram.groupBy("q").agg(
        F.sum("cnt").cast("long").alias("n_postings"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
    )
    pick = stats.agg(
        F.min(
            F.when(
                F.col("n_postings").cast("double")
                * F.lit(float(QGRAM_SAMPLE_MOD))
                / F.col("n_distinct_grams").cast("double")
                <= F.lit(float(ED_DF_TARGET)),
                F.col("q"),
            )
        ).alias("chosen_q")
    )
    return stats.crossJoin(F.broadcast(pick)).select(
        F.col("q").cast("int").alias("q"),
        "n_postings",
        "n_distinct_grams",
        fround(
            F.col("n_postings").cast("double")
            * F.lit(float(QGRAM_SAMPLE_MOD))
            / F.col("n_distinct_grams").cast("double"),
            4,
        ).alias("mean_df_est"),
        (
            F.col("q")
            == F.coalesce(F.col("chosen_q"), F.lit(max(ED_Q_CANDIDATES)))
        ).alias("chosen"),
    )


# --- LSH banding planner (round 14) ---------------------------------------
# The datasketch-style optimal-(bands, rows) computation for the MinHash
# signature width, as an executable POLICY entry beside the empirical legs
# (x_dedup_lsh_recall measures recall, x_dedup_threshold_sweep the
# threshold sensitivity; this is the ANALYTIC planner both consult).
#
# For each factorization b*r = NUM_PERM, the s-curve P(s) = 1-(1-s^r)^b
# integrates into a false-positive mass below the target threshold and a
# false-negative mass above it; the chosen banding minimizes their sum.
# Cross-engine exactness discipline: powers are REPEATED LEFT-FOLD
# MULTIPLICATIONS (each a correctly-rounded IEEE op on identical inputs,
# so Spark and DuckDB agree bit-for-bit, where libm pow() would not be
# guaranteed to), and per-point error terms quantize to integer
# NANO-units before summation so the aggregate is order-free exact.

BANDING_T = 0.5          # the dedup family's near-dup Jaccard threshold
BANDING_GRID = 99        # s = i/100 for i in 1..99 (fixed midpoint grid)


def _banding_candidates(n: int = dedup.NUM_PERM) -> list[tuple[int, int]]:
    return [(b, n // b) for b in range(1, n + 1) if n % b == 0]


def _chain_mul_sql(base: str, k: int) -> str:
    """base^k as an explicit left-fold multiplication chain."""
    expr = base
    for _ in range(k - 1):
        expr = f"({expr} * {base})"
    return expr


def _banding_policy_oracle() -> str:
    arms = []
    for b, r in _banding_candidates():
        sr = _chain_mul_sql("s", r)
        p = f"(1.0 - {_chain_mul_sql(f'(1.0 - {sr})', b)})"
        arms.append(f"""
SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       CAST(SUM(CASE WHEN s <= {BANDING_T}
                     THEN CAST(FLOOR({p} * 1000000000.0 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS fp_nano,
       CAST(SUM(CASE WHEN s > {BANDING_T}
                     THEN CAST(FLOOR((1.0 - {p}) * 1000000000.0 + 0.5) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS fn_nano
FROM (SELECT i / 100.0 AS s FROM range(1, {BANDING_GRID + 1}) t(i))""")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH costs AS (
{body}
)
SELECT bands, rows_per_band, fp_nano, fn_nano,
       CAST(fp_nano + fn_nano AS BIGINT) AS cost_nano,
       (fp_nano + fn_nano) = (SELECT MIN(fp_nano + fn_nano) FROM costs)
         AND bands = (SELECT MIN(c2.bands) FROM costs c2
                      WHERE c2.fp_nano + c2.fn_nano =
                            (SELECT MIN(fp_nano + fn_nano) FROM costs))
         AS chosen
FROM costs
"""


@query("x_dedup_banding_policy", oracle=_banding_policy_oracle())
def x_dedup_banding_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding PLANNER: for every (bands, rows) factorization of
    the NUM_PERM MinHash width, integrate the s-curve's false-positive
    mass below the Jaccard-0.5 dedup threshold and false-negative mass
    above it on a fixed 99-point grid, and mark the factorization
    minimizing their sum -- the analytic computation (datasketch's
    optimal_param shape) behind the 8x4 production banding, made an
    executable policy entry beside the empirical evaluators
    (x_dedup_lsh_recall measures what the chosen banding actually
    recalls; x_dedup_threshold_sweep what moving the threshold costs).

    Exactness: s^r and (1-s^r)^b are explicit left-fold multiplication
    CHAINS (every step a correctly-rounded IEEE multiply on identical
    inputs, bit-equal across engines -- libm pow() carries no such
    guarantee), and each grid point's error quantizes to integer
    nano-units BEFORE the sum, so the aggregate is order-free exact and
    the chosen flag can never drift.  Pure plan-side arithmetic over a
    99-row range -- no corpus scan, one tiny aggregate per candidate;
    the decision is corpus-INDEPENDENT by design (it plans the index
    before the corpus exists; recall on the actual corpus is the gated
    empirical leg)."""
    from pyspark.sql.window import Window

    def chain(col, k: int):
        expr = col
        for _ in range(k - 1):
            expr = expr * col
        return expr

    pts = spark.range(1, BANDING_GRID + 1).select(
        (F.col("id") / F.lit(100.0)).alias("s")
    )
    arms = []
    for b, r in _banding_candidates():
        sr = chain(F.col("s"), r)
        p = F.lit(1.0) - chain(F.lit(1.0) - sr, b)
        nano = lambda c: F.floor(c * F.lit(1_000_000_000.0) + F.lit(0.5)).cast("long")  # noqa: E731
        arms.append(
            pts.agg(
                F.sum(
                    F.when(F.col("s") <= BANDING_T, nano(p)).otherwise(F.lit(0))
                ).cast("long").alias("fp_nano"),
                F.sum(
                    F.when(F.col("s") > BANDING_T, nano(F.lit(1.0) - p))
                    .otherwise(F.lit(0))
                ).cast("long").alias("fn_nano"),
            ).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                "fp_nano",
                "fn_nano",
            )
        )
    from functools import reduce

    costs = reduce(lambda a, c: a.unionByName(c), arms)
    w = Window.orderBy(
        (F.col("fp_nano") + F.col("fn_nano")).asc(), F.col("bands").asc()
    )
    return (
        costs.withColumn("cost_nano", (F.col("fp_nano") + F.col("fn_nano")).cast("long"))
        .withColumn("_rk", F.row_number().over(w))
        .withColumn("chosen", F.col("_rk") == 1)
        .drop("_rk")
    )
