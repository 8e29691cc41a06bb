"""Near-duplicate detection operators: MinHash-LSH, SimHash, n-gram Jaccard.

Design goal beyond the usual "approximate dedup at scale": every stage is
**cross-engine bit-exact**, so each operator has a full DuckDB value-hash
oracle instead of a weak rows-only check.  The trick is to build all hashing
from md5 (identical everywhere) and keep the permutation arithmetic inside
signed-64-bit range:

    h32(s)  = int(md5(s)[:8], 16)                      # 32-bit base hash
    h_j(s)  = (A_j * h32(s) + B_j) mod P               # P = 2^31 - 1
    A_j < 2^30, B_j < 2^30  =>  A_j*h32 + B_j < 2^62   # no BIGINT overflow

Scale notes (100 TB): signatures are computed **per-row with zero shuffle**
(array transforms inside whole-stage codegen); the only shuffles are the
LSH band self-join (keyed on (band, bucket) — data volume is #docs x #bands
rows of ~50 bytes, i.e. orders of magnitude below the corpus) and the n-gram
inverted-index join, which applies a document-frequency cutoff first so hot
shingles cannot create quadratic bucket blowup.

Reference scope: the reference exercise (assignment-5.sql) has no dedup; this
family is part of the BASELINE.json training-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import fround, ratio, sql_ratio
from ..session import materialize

# ---------------------------------------------------------------------------
# Shared parameters (Spark fns and SQL twins must agree on these literals).
# ---------------------------------------------------------------------------

SHINGLE_K = 3          # word-shingle width
NUM_PERM = 32          # MinHash permutations
BANDS = 8              # LSH bands
ROWS_PER_BAND = 4      # NUM_PERM / BANDS; s-curve threshold ~ (1/8)^(1/4) ~ 0.59
P = 2_147_483_647      # 2^31 - 1 (prime)
MAX_DF = 100           # n-gram inverted-index document-frequency cutoff
SIMHASH_BITS = 60      # bits of the simhash signature (fits signed 64)
SIMHASH_CHUNKS = 4     # banding chunks of 15 bits for candidate generation
SIMHASH_MAX_HAMMING = 3

TOKEN_RE = "[a-z0-9]+"


def _perm_params(n: int = NUM_PERM) -> list[tuple[int, int]]:
    """Fixed (A_j, B_j) for the universal-hash family, via a small LCG so the
    constants are reproducible from this source alone (no RNG state)."""
    out, x = [], 0x5DEECE66D
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x >> 16) % ((1 << 30) - 2) + 1          # 1 .. 2^30-2
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (x >> 16) % (1 << 30)                    # 0 .. 2^30-1
        out.append((a, b))
    return out


PERMS = _perm_params()


# ---------------------------------------------------------------------------
# Spark-side building blocks (all JVM expressions; no shuffle until stated).
# ---------------------------------------------------------------------------

def tokens(text: Column) -> Column:
    """Lower-cased alphanumeric word tokens."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


# Word-3-gram shingles over a token COLUMN named `t`.  Two performance rules
# learned by measurement (sf0.1, 5000 docs):
#   1. tokens must be materialized by a projection first — an inlined
#      regexp_extract_all under a Generate/transform re-evaluates per use
#      (8.5 s vs 0.66 s);
#   2. grams are built with slice+zip_with (row-level array ops), never
#      transform(sequence, i -> element_at(t, i+j)) whose per-element
#      indexing lambda dominated the profile.
_SHINGLES_OVER_T = """
array_distinct(CASE WHEN size(t) >= 3 THEN
  zip_with(
    zip_with(slice(t, 1, size(t) - 2), slice(t, 2, size(t) - 2),
             (x, y) -> concat(x, ' ', y)),
    slice(t, 3, size(t) - 2),
    (xy, z) -> concat(xy, ' ', z))
ELSE array(concat_ws(' ', t)) END)
"""


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Fan an unsplittable small scan across the cluster before CPU-heavy
    per-row work.  A parquet row group is one Spark split, so a compact
    documents file runs its whole tokenize/shingle map stage as ONE task no
    matter how many cores exist.  When the scan has fewer partitions than
    the cluster's parallelism, hash-repartition on the given keys
    (deterministic under retries, unlike round-robin); when the input
    already has enough splits -- every real 100 TB table -- this is a no-op
    and plans keep their scan-local pipelines.  Measured sf0.1/local[32]:
    minhash 1.3 -> 0.8 s, n-gram jaccard 2.4 -> 1.1 s.

    The split-count probe is PLAN-SIDE when the input is a bare scan chain
    (Project/Filter over a file relation -- every caller in this repo):
    estimated splits = optimizer sizeInBytes / files.maxPartitionBytes (how
    FilePartition packing sizes scan splits), avoiding the RDD lineage
    conversion the old df.rdd.getNumPartitions() probe forced per call.
    For any other shape the size estimate is NOT trustworthy (joins
    multiply child sizes; unknown-stats sources report defaultSizeInBytes),
    so the probe falls back to the exact RDD partition count rather than
    silently skipping the fan-out."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    def scan_chain_only(node) -> bool:
        if str(node.nodeName()) not in (
            "Project", "Filter", "SubqueryAlias", "Relation", "LogicalRelation"
        ):
            return False
        s = node.children()
        return all(scan_chain_only(s.apply(i)) for i in range(s.size()))

    jplan = df._jdf.queryExecution().optimizedPlan()
    if scan_chain_only(jplan):
        size = int(str(jplan.stats().sizeInBytes()))
        try:
            max_split = int(
                spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                    spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
                )
            )
        except Exception:
            max_split = 128 * 1024 * 1024
        enough = max(1, size // max_split) >= target
    else:
        enough = df.rdd.getNumPartitions() >= target
    if enough:
        return df
    return df.repartition(target, *keys)


def shingled(documents: DataFrame) -> DataFrame:
    """(doc_id BIGINT, sh ARRAY<STRING>): distinct word 3-gram shingles; a
    doc shorter than 3 words contributes its whole normalized text as one
    shingle (so no doc is dropped)."""
    return spread(documents, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tokens(F.col("text")).alias("t"),
    ).select("doc_id", F.expr(_SHINGLES_OVER_T).alias("sh"))


def h32(s: Column) -> Column:
    """32-bit base hash from the md5 hex prefix — identical in any engine."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def h60(s: Column) -> Column:
    """60-bit hash (15 md5 hex chars) for simhash bit sampling."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def minhash_signature_df(documents: DataFrame) -> DataFrame:
    """doc_id + the NUM_PERM minhash values s0..s{n-1} + a compact printable
    `signature` string.

    Implementation: explode shingle hashes, then ONE hash-aggregate with 32
    `min((a_j*h+b_j) % P)` columns.  The per-row formulation (32
    array_min(transform(hs,...)) projections) looks shuffle-free but is a
    trap: CollapseProject inlines the shingle-hash alias into every one of
    the 32 expressions, recomputing md5 32x per shingle (9.1 s at sf0.1 vs
    ~1 s for this form).  Here md5 runs exactly once per shingle, the 32
    mins combine map-side, and the shuffle carries only docs x 32 longs."""
    hashed = shingled(documents).select(
        "doc_id", F.explode(F.transform(F.col("sh"), h32)).alias("h")
    )
    sig_cols = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P)).alias(f"s{j}")
        for j, (a, b) in enumerate(PERMS)
    ]
    sigs = hashed.groupBy("doc_id").agg(*sig_cols)
    return sigs.withColumn(
        "signature", F.concat_ws(":", *[f"s{j}" for j in range(NUM_PERM)])
    )


def lsh_band_keys(sigs: DataFrame) -> DataFrame:
    """Explode each doc into BANDS (band, bucket) rows; bucket = md5 of the
    band's slice of the signature."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":", *[f"s{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)]
                    )
                ).alias("bucket"),
            )
            for b in range(BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket")
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate pairs from LSH banding, verified with **exact** Jaccard on
    the distinct shingle sets.  Output: (doc_a, doc_b, jaccard), all
    integer-derived => bit-exact across engines.

    Reuse shape (round 16, guide §5): `keys` feeds both sides of the band
    self-join and `sets_` both sides of the verify join, so without
    materialization the signature aggregation ran twice and the
    shingling twice more (4 corpus scans in the plan).  The signature
    relation (docs × 32 longs) and the distinct-shingle-set relation are
    each computed ONCE and materialized; every consumer — this
    operator, dedup_clusters, lsh_recall, threshold_sweep, the curation
    funnel — inherits the single-scan shape."""
    sigs = materialize(minhash_signature_df(documents), "lsh_signatures")
    keys = lsh_band_keys(sigs)
    cand = (
        keys.alias("x")
        .join(keys.alias("y"), on=["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets_ = materialize(shingled(documents), "lsh_shingle_sets")
    return (
        cand.join(sets_.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sha"), "doc_a")
        .join(sets_.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "shb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            fround(F.size(F.array_intersect("sha", "shb")).cast("double")
                / (
                    F.size("sha") + F.size("shb") - F.size(F.array_intersect("sha", "shb"))
                ).cast("double"),
                4, ).alias("jaccard"),
        )
    )


def simhash_df(documents: DataFrame) -> DataFrame:
    """60-bit SimHash per doc, computed with a single per-row fold (array
    accumulator of bit counters) — zero shuffle.

    bit_i(sig) = 1  iff  sum over distinct tokens of bit_i(h60(token))
                 strictly exceeds n_tokens/2.
    """
    toks = spread(documents, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.transform(F.array_distinct(tokens(F.col("text"))), h60).alias("hs"),
    )
    # SQL-expr form: the Python wrappers for shiftright/shiftleft demand int
    # literals, but in SQL both operands are expressions, which the lambda
    # variables require.
    powers = ", ".join(f"{1 << i}L" for i in range(SIMHASH_BITS))
    bit_counts = (
        f"aggregate(hs, array_repeat(0L, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, "
        f"transform(sequence(0, {SIMHASH_BITS - 1}), i -> shiftright(h, i) & 1L), "
        f"(c, b) -> c + b))"
    )
    simhash = (
        f"aggregate(zip_with({bit_counts}, array({powers}), "
        f"(c, p) -> IF(2 * c > size(hs), p, 0L)), 0L, (a, x) -> a + x)"
    )
    return toks.select("doc_id", F.expr(simhash).alias("simhash"))


def simhash_pairs(documents: DataFrame) -> DataFrame:
    """Near-dup pairs by SimHash banding: 4 chunks of 15 bits; any equal
    chunk makes a candidate; verified by hamming distance <= threshold
    (bit_count(xor) — JVM built-ins).

    Shape (round 16, guide §2.4/§5): the per-doc signature fold is the
    dominant cost and DataFrame branch reuse recomputes it — the old
    banding self-join plus the two verify joins evaluated simhash_df FOUR
    times (4 parquet scans in the plan).  Now the fold runs ONCE over a
    materialized (doc_id, simhash) relation — two longs per doc, the
    lightweight-proxy shape of guide §8 — and the signature RIDES the
    banding rows, so verification needs no join back at all: hamming is
    computed directly on the self-join output and the distinct runs on the
    already-filtered pairs.  Measured sf0.1/local[32]: 15.6 → 2.0 s warm;
    plan 4 scans/2 verify joins → 1 scan/0 verify joins."""
    sh = materialize(simhash_df(documents), "simhash")
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), 15 * c).bitwiseAND(F.lit(0x7FFF)).alias("key"),
            )
            for c in range(SIMHASH_CHUNKS)
        ]
    )
    keys = sh.select("doc_id", "simhash", F.explode(chunks).alias("ck")).select(
        "doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key")
    )
    return (
        keys.alias("x")
        .join(keys.alias("y"), on=["chunk", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


#: postings are packed (doc_id * PACK + n) so the bucket shuffle carries one
#: long per posting instead of a struct; requires n < PACK per document
#: (a doc with >2^20 DISTINCT word-3-grams is ~4 MB of unique text — cap
#: documents upstream if that is possible in a corpus).
PACK = 1 << 20


def ngram_jaccard_pairs(documents: DataFrame, min_jaccard: float = 0.1) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via an inverted index, with a
    document-frequency cutoff so that at 100 TB a stop-shingle cannot
    produce a quadratic bucket.

    Shuffle-volume engineering (measured 6.9 s -> 2.6 s at sf0.1):
    shingle strings are hashed to 60-bit longs (md5 prefix — identical in
    DuckDB, so the oracle stays bit-exact) and the (doc_id, n) posting is
    packed into one long, so the two shuffles (index groupBy, pair groupBy)
    carry only int64 keys and values.  Pairs are expanded IN the bucket
    (sorted posting list -> index-pair combos) instead of a shingle
    self-join — no second scan of the inverted index."""
    sets_ = shingled(documents)
    inv = sets_.select(
        F.explode(
            F.expr("transform(sh, g -> cast(conv(substring(md5(g),1,15),16,10) as bigint))")
        ).alias("g"),
        (F.col("doc_id") * F.lit(PACK) + F.size("sh")).alias("packed"),
    )
    buckets = (
        inv.groupBy("g")
        .agg(F.sort_array(F.collect_list("packed")).alias("docs"))
        .filter(F.size("docs").between(2, MAX_DF))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(docs) - 2), i -> "
                "transform(sequence(i + 1, size(docs) - 1), j -> "
                "struct(docs[i] AS pa, docs[j] AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb").filter(F.col("pa") < F.col("pb"))
    pair_inter = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("inter"))
    return (
        pair_inter.select(
            F.expr(f"pa div {PACK}").alias("doc_a"),
            F.expr(f"pb div {PACK}").alias("doc_b"),
            fround(F.col("inter").cast("double")
                / ((F.col("pa") % PACK) + (F.col("pb") % PACK) - F.col("inter")).cast("double"),
                4, ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins (same literals, same arithmetic — value-hash exact).
# ---------------------------------------------------------------------------

_SQL_TOKENS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

_SQL_SHINGLES = f"""
list_distinct(CASE WHEN len(t) >= {SHINGLE_K}
  THEN list_transform(range(1, len(t) - {SHINGLE_K - 2}),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  ELSE [array_to_string(t, ' ')] END)
"""

_SQL_H32 = "CAST(concat('0x', substr(md5({s}), 1, 8)) AS BIGINT)"


def minhash_signature_sql() -> str:
    sig_exprs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS s{j}"
        for j, (a, b) in enumerate(PERMS)
    )
    concat = ", ".join(f"s{j}" for j in range(NUM_PERM))
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
hs AS (SELECT doc_id, list_transform(sh, s -> {_SQL_H32.format(s='s')}) AS hs FROM sh),
sigs AS (SELECT doc_id, {sig_exprs} FROM hs)
SELECT CAST(doc_id AS BIGINT) AS doc_id, {concat},
       concat_ws(':', {concat}) AS signature
FROM sigs
"""


def _sql_band_keys() -> str:
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(':', {cols})) AS bucket FROM sigs".format(
            b=b,
            cols=", ".join(f"s{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)),
        )
        for b in range(BANDS)
    )
    return bands


def minhash_lsh_pairs_sql(src: str = "documents") -> str:
    """SQL twin; `src` names the (doc_id, text) relation to index --
    composed oracles (the curation funnel) run it over a filtered CTE."""
    sig_exprs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS s{j}"
        for j, (a, b) in enumerate(PERMS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM {src}),
sh AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_SHINGLES} AS sh FROM toks),
hs AS (SELECT doc_id, sh, list_transform(sh, s -> {_SQL_H32.format(s='s')}) AS hs FROM sh),
sigs AS (SELECT doc_id, {sig_exprs} FROM hs),
keys AS ({_sql_band_keys()}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keys x JOIN keys y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       FLOOR((CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM cand c
JOIN hs a ON a.doc_id = c.doc_a
JOIN hs b ON b.doc_id = c.doc_b
"""


def simhash_sql() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * SUM((h >> {i}) & 1) > COUNT(*) THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(list_distinct({_SQL_TOKENS})) AS tok
  FROM documents
),
hs AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks)
SELECT doc_id, {bit_terms} AS simhash
FROM hs GROUP BY doc_id
"""


def simhash_pairs_sql() -> str:
    chunk_keys = "\nUNION ALL\n".join(
        f"SELECT doc_id, {c} AS chunk, (simhash >> {15 * c}) & 32767 AS key FROM sh"
        for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH base AS ({simhash_sql()}),
sh AS (SELECT doc_id, simhash FROM base),
keys AS ({chunk_keys}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM keys x JOIN keys y ON x.chunk = y.chunk AND x.key = y.key
  WHERE x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def ngram_jaccard_pairs_sql(min_jaccard: float = 0.1) -> str:
    # mirrors the hashed-gram + packed-posting formulation exactly (same md5
    # prefix hash, same pack constant, same DF cutoff on hashed grams), so
    # the value-hash comparison stays bit-exact by construction.
    return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_TOKENS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
inv AS (
  SELECT doc_id * {PACK} + len(sh) AS packed,
         unnest(list_transform(sh, g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT))) AS g
  FROM sh
),
rare AS (SELECT g FROM inv GROUP BY g HAVING COUNT(*) <= {MAX_DF}),
inv2 AS (SELECT inv.* FROM inv JOIN rare USING (g)),
pair_inter AS (
  SELECT x.packed AS pa, y.packed AS pb, COUNT(*) AS inter
  FROM inv2 x JOIN inv2 y ON x.g = y.g AND x.packed < y.packed
  GROUP BY 1, 2
)
SELECT pa // {PACK} AS doc_a, pb // {PACK} AS doc_b,
       FLOOR((CAST(inter AS DOUBLE) / CAST((pa % {PACK}) + (pb % {PACK}) - inter AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS jaccard
FROM pair_inter
WHERE FLOOR((CAST(inter AS DOUBLE) / CAST((pa % {PACK}) + (pb % {PACK}) - inter AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 >= {min_jaccard}
"""


MIN_CONTAINMENT = 0.5


def containment_pairs(
    documents: DataFrame, min_containment: float = MIN_CONTAINMENT
) -> DataFrame:
    """Exact all-pairs shingle CONTAINMENT: inter / min(|A|, |B|) -- the
    asymmetric near-dup signal.  A short document quoted whole inside a
    long one scores containment ~1.0 while its Jaccard (inter / union) is
    tiny, so symmetric dedup never sees it; containment is how pipelines
    catch quote-inclusion / boilerplate-wrapping duplication (Broder's
    resemblance-vs-containment distinction).

    Same engineered shape as ngram_jaccard_pairs: 60-bit hashed grams,
    packed (doc, |sh|) postings, in-bucket pair expansion under the MAX_DF
    cutoff -- only the final scoring differs, so the scale argument carries
    over unchanged."""
    sets_ = shingled(documents)
    inv = sets_.select(
        F.explode(
            F.expr("transform(sh, g -> cast(conv(substring(md5(g),1,15),16,10) as bigint))")
        ).alias("g"),
        (F.col("doc_id") * F.lit(PACK) + F.size("sh")).alias("packed"),
    )
    buckets = (
        inv.groupBy("g")
        .agg(F.sort_array(F.collect_list("packed")).alias("docs"))
        .filter(F.size("docs").between(2, MAX_DF))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(docs) - 2), i -> "
                "transform(sequence(i + 1, size(docs) - 1), j -> "
                "struct(docs[i] AS pa, docs[j] AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb").filter(F.col("pa") < F.col("pb"))
    pair_inter = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("inter"))
    return (
        pair_inter.select(
            F.expr(f"pa div {PACK}").alias("doc_a"),
            F.expr(f"pb div {PACK}").alias("doc_b"),
            F.col("inter").cast("long").alias("inter"),
            fround(
                F.col("inter").cast("double")
                / F.least(F.col("pa") % PACK, F.col("pb") % PACK).cast("double"),
                4,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def containment_pairs_sql(min_containment: float = MIN_CONTAINMENT) -> str:
    return f"""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_TOKENS} AS t FROM documents),
sh AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM toks),
inv AS (
  SELECT doc_id * {PACK} + len(sh) AS packed,
         unnest(list_transform(sh, g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT))) AS g
  FROM sh
),
rare AS (SELECT g FROM inv GROUP BY g HAVING COUNT(*) <= {MAX_DF}),
inv2 AS (SELECT inv.* FROM inv JOIN rare USING (g)),
pair_inter AS (
  SELECT x.packed AS pa, y.packed AS pb, COUNT(*) AS inter
  FROM inv2 x JOIN inv2 y ON x.g = y.g AND x.packed < y.packed
  GROUP BY 1, 2
)
SELECT pa // {PACK} AS doc_a, pb // {PACK} AS doc_b,
       CAST(inter AS BIGINT) AS inter,
       FLOOR((CAST(inter AS DOUBLE) / CAST(least(pa % {PACK}, pb % {PACK}) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS containment
FROM pair_inter
WHERE FLOOR((CAST(inter AS DOUBLE) / CAST(least(pa % {PACK}, pb % {PACK}) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 >= {min_containment}
"""


DEDUP_CLUSTER_MIN_JACCARD = 0.5


def dedup_clusters(pairs: DataFrame, max_iterations: int = 15) -> DataFrame:
    """Connected components over near-dup pairs by min-label propagation:
    every doc in a component gets cluster_id = the component's smallest
    doc_id; `keep` marks the cluster representative.

    Each iteration is one join + groupBy (labels shuffle on doc_id);
    iterations needed = graph diameter in label-hops (near-dup components
    are tiny and dense, so a handful).  Convergence is checked with a
    1-row count per iteration -- the classic large-scale connected-
    components loop (no driver-side graph).

    Caveat: the default iteration budget assumes small-diameter
    components; a duplicate CHAIN longer than max_iterations hops will
    not fully converge (tests/test_cc_bigstar.py pins a 41-node path
    needing 40 rounds).  dedup_clusters_bigstar below computes the same
    labeling in O(log^2 n) rounds and is the safe choice when chain
    length is unbounded."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # The loop references `edges` every iteration; unmaterialized, each
    # join would re-run the WHOLE upstream lineage (minhash signatures +
    # LSH banding over the full corpus) per iteration.  Keep the skinny
    # (a, b) edge list once, and each round's labels, so the plan doesn't
    # grow with the iteration count -- the standard large-scale
    # connected-components loop shape.
    edges = materialize(edges, "cc_edges", eager=False)
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .transform(materialize, "cc_labels")
    )

    # Convergence test: labels only ever DECREASE (least of self and
    # neighbor minimum), so the label total is strictly monotone until the
    # fixpoint -- one aggregate over the materialized labels per iteration
    # instead of a join+shuffle diff.  decimal(38,0) keeps the total exact
    # at any doc_id magnitude.
    def label_total(df: DataFrame) -> int:
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_total = label_total(labels)
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
            .transform(materialize, "cc_labels")
        )
        total = label_total(labels)
        if total == prev_total:
            break
        prev_total = total
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )


def dedup_clusters_cte(min_jaccard: float = DEDUP_CLUSTER_MIN_JACCARD, src: str = "documents") -> str:
    """CTE list computing `clusters(doc_id, cluster_id, keep)` (recursive
    transitive closure, label = min reachable id); composable after a
    `WITH RECURSIVE` prefix so downstream oracles can build on the dedup
    decision (x_pipeline_canonical_docs)."""
    return f"""pairs AS ({minhash_lsh_pairs_sql(src)}),
strong AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= {min_jaccard}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM strong
  UNION
  SELECT doc_b AS a, doc_a AS b FROM strong
),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
clusters AS (
  SELECT src AS doc_id,
         LEAST(src, MIN(dst)) AS cluster_id,
         src = LEAST(src, MIN(dst)) AS keep
  FROM reach GROUP BY src
)"""


def dedup_clusters_sql(min_jaccard: float = DEDUP_CLUSTER_MIN_JACCARD) -> str:
    """Recursive-CTE twin: transitive closure, label = min reachable id."""
    return f"""
WITH RECURSIVE {dedup_clusters_cte(min_jaccard)}
SELECT doc_id, cluster_id, keep FROM clusters
"""


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup: the ingest-time variant.
# ---------------------------------------------------------------------------

INCR_BATCH_MOD = 5  # doc_id % 5 == 0 -> the incoming batch (~20% of docs)


def incremental_dedup(
    documents: DataFrame, threshold: float = DEDUP_CLUSTER_MIN_JACCARD
) -> DataFrame:
    """Ingest-time dedup: check an INCOMING BATCH of documents against the
    existing corpus without ever comparing corpus docs to each other.

    The batch's LSH band keys join the corpus's band keys on
    (band, bucket); candidates are confirmed with exact Jaccard on the
    shingle sets; a batch doc is kept iff no corpus near-dup exists
    (near_dup_of = smallest matching corpus id, NULL when kept).

    Scale design (100 TB): at production scale the corpus side of this
    join is a PERSISTED signature/band-key index (written once at corpus
    build, bucket-partitioned); each ingest batch shingles and hashes only
    its own rows and probes the index, so per-batch cost tracks
    |batch| x BANDS candidate rows -- never |corpus|^2 and never a corpus
    rescan.  Here both sides derive inline from the one documents table
    (the sf-dir is the only input); the split doc_id % INCR_BATCH_MOD == 0
    stands in for the batch boundary.
    """
    is_batch = (F.col("doc_id") % INCR_BATCH_MOD) == 0
    keys = lsh_band_keys(minhash_signature_df(documents))
    cand = (
        keys.filter(is_batch).alias("b")
        .join(keys.filter(~is_batch).alias("c"), on=["band", "bucket"])
        .select(
            F.col("b.doc_id").alias("doc_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    sets_ = shingled(documents)
    confirmed = (
        cand.join(
            sets_.select(F.col("doc_id"), F.col("sh").alias("sha")), "doc_id"
        )
        .join(
            sets_.select(
                F.col("doc_id").alias("corpus_id"), F.col("sh").alias("shb")
            ),
            "corpus_id",
        )
        .filter(
            fround(
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / (
                    F.size("sha")
                    + F.size("shb")
                    - F.size(F.array_intersect("sha", "shb"))
                ).cast("double"),
                4,
            )
            >= F.lit(threshold)
        )
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("near_dup_of"))
    )
    batch_docs = documents.filter(is_batch).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )
    return batch_docs.join(confirmed, "doc_id", "left").select(
        "doc_id",
        "near_dup_of",
        F.col("near_dup_of").isNull().alias("kept"),
    )


def incremental_dedup_sql(
    threshold: float = DEDUP_CLUSTER_MIN_JACCARD,
) -> str:
    sig_exprs = ",\n       ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {P})) AS s{j}"
        for j, (a, b) in enumerate(PERMS)
    )
    jac = (
        "FLOOR((CAST(len(list_intersect(a.sh, b2.sh)) AS DOUBLE)"
        " / CAST(len(a.sh) + len(b2.sh) - len(list_intersect(a.sh, b2.sh)) AS DOUBLE))"
        " * 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
sh AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_SHINGLES} AS sh FROM toks),
hs AS (SELECT doc_id, sh, list_transform(sh, s -> {_SQL_H32.format(s='s')}) AS hs FROM sh),
sigs AS (SELECT doc_id, {sig_exprs} FROM hs),
keys AS ({_sql_band_keys()}),
cand AS (
  SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS corpus_id
  FROM keys b JOIN keys c ON b.band = c.band AND b.bucket = c.bucket
  WHERE b.doc_id % {INCR_BATCH_MOD} = 0 AND c.doc_id % {INCR_BATCH_MOD} <> 0
),
confirmed AS (
  SELECT cand.doc_id, MIN(cand.corpus_id) AS near_dup_of
  FROM cand
  JOIN hs a ON a.doc_id = cand.doc_id
  JOIN hs b2 ON b2.doc_id = cand.corpus_id
  WHERE {jac} >= {threshold}
  GROUP BY cand.doc_id
)
SELECT d.doc_id, confirmed.near_dup_of,
       confirmed.near_dup_of IS NULL AS kept
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
      WHERE doc_id % {INCR_BATCH_MOD} = 0) d
LEFT JOIN confirmed USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03 -- the MOSS
# plagiarism fingerprinter): hash every overlapping K-token gram, then keep
# only each W-gram window's MINIMUM hash.  Guarantees any shared run of
# W + K - 1 tokens contributes at least one COMMON fingerprint while storing
# ~2/(W+1) of the gram hashes -- a fixed-density sketch that, unlike MinHash,
# localizes WHERE the overlap is and scales its fingerprint count with
# document length.
#
# Cross-engine determinism: gram hash = 36-bit md5 prefix, packed with the
# gram position as  pack = h36 * 2^WINNOW_POS_BITS + pos  (60 bits, signed-64
# safe), so a single integer MIN over the window frame IS "min hash, leftmost
# position on ties" in both engines.  The classic algorithm breaks ties
# RIGHTMOST to thin the sketch; leftmost keeps the same detection guarantee
# and needs no negation trick -- documented deviation.  pos caps at 2^24
# grams/doc (~a 100 MB document) before pack overflow; far beyond any real
# web document.
# ---------------------------------------------------------------------------

WINNOW_K = 4             # k-gram width (tokens)
WINNOW_W = 4             # winnowing window (grams per window)
WINNOW_POS_BITS = 24     # pack = h36 << 24 | pos
WINNOW_MAX_DF = 100      # postings document-frequency cutoff for the pair join
WINNOW_MIN_OVERLAP = 0.5


def h36(s: Column) -> Column:
    """36-bit hash (9 md5 hex chars) -- wide enough that within-window hash
    ties are ~never, small enough to pack with a 24-bit position."""
    return F.conv(F.substring(F.md5(s), 1, 9), 16, 10).cast("long")


def _winnow_selected(documents: DataFrame) -> DataFrame:
    """(doc_id, n_grams, pack) rows: every doc's DISTINCT selected
    fingerprints (pack = h36*2^24 + pos of the chosen gram).

    Scale shape: the gram hashing is a row-local projection (tokens
    materialized FIRST -- the CollapseProject re-evaluation trap); the only
    shuffle is the per-doc sort for the window min, which carries skinny
    (doc_id, pos, long) rows and holds W rows of frame state.  Window
    starts at the document tail clip to fewer than W grams (identical frame
    semantics in both engines): selection there is denser, never absent."""
    from pyspark.sql import Window

    tk = tokens(F.col("text"))
    docs = spread(documents, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), tk.alias("tk")
    ).withColumn("n", F.size("tk")).filter(F.col("n") >= WINNOW_K)
    wins = docs.select(
        "doc_id",
        (F.col("n") - WINNOW_K + 1).cast("long").alias("n_grams"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n") - WINNOW_K).cast("int")),
                lambda p: h36(F.concat_ws(" ", F.slice(F.col("tk"), p + 1, WINNOW_K))),
            )
        ).alias("pos", "h"),
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        (F.col("h") * F.lit(1 << WINNOW_POS_BITS) + F.col("pos")).alias("pack"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    return (
        wins.withColumn("sel", F.min("pack").over(w))
        .select("doc_id", "n_grams", F.col("sel").alias("pack"))
        .distinct()
    )


def winnow_fingerprints(documents: DataFrame) -> DataFrame:
    """Per-doc fingerprint summary: gram count, selected-fingerprint count,
    sketch density (~2/(W+1) by the winnowing theorem; higher on short docs
    where tail windows clip)."""
    sel = _winnow_selected(documents)
    return (
        sel.groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_fp"))
        .select(
            "doc_id",
            "n_grams",
            F.col("n_fp").cast("long").alias("n_fp"),
            ratio(F.col("n_fp"), F.col("n_grams")).alias("fp_density"),
        )
    )


def winnow_overlap_pairs(documents: DataFrame) -> DataFrame:
    """Document pairs sharing winnowed fingerprints: postings = distinct
    (h36, doc), document-frequency cutoff (boilerplate grams selected in
    > WINNOW_MAX_DF docs are dropped BEFORE the self-join -- the same
    quadratic-blowup guard as the n-gram inverted index), overlap =
    |shared| / min(|A|, |B|) (containment form: a short doc pasted into a
    long one still scores ~1).

    Adaptive exact-copy cohort contraction (the quartet pattern): above
    CONTRACT_MIN_COHORT the posting join runs on representatives with the
    DF cutoff computed on the WEIGHTED document frequency (sum of cohort
    sizes per hash == the expanded per-member df, so exactly the same
    hashes survive the cut), then pairs re-expand: cross-cohort members
    inherit the rep pair's counts, within-cohort pairs share the full
    kept fingerprint set (overlap exactly 1)."""
    if max_cohort_size(documents) >= CONTRACT_MIN_COHORT:
        return _winnow_pairs_contracted(documents)
    sel = _winnow_selected(documents)
    postings = sel.select(
        "doc_id", (F.col("pack") / F.lit(1 << WINNOW_POS_BITS)).cast("long").alias("h")
    ).distinct()
    df_ok = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("h")
    )
    kept = postings.join(df_ok, "h")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        kept.alias("x")
        .join(kept.alias("y"), "h")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "fp_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "fp_b"), "doc_b")
        .withColumn(
            "overlap", ratio(F.col("shared_fp"), F.least("fp_a", "fp_b"))
        )
        .filter(F.col("overlap") >= WINNOW_MIN_OVERLAP)
        .select("doc_a", "doc_b", "shared_fp", "fp_a", "fp_b", "overlap")
    )


def _winnow_pairs_contracted(documents: DataFrame) -> DataFrame:
    """Cohort-contracted arm of winnow_overlap_pairs (see its docstring)."""
    cohorts = exact_cohorts_shared(documents)
    rep_sizes = cohorts.select(F.col("rep").alias("doc_id"), "s").distinct()
    rep_docs = documents.join(
        rep_sizes.select("doc_id"), "doc_id", "left_semi"
    )
    sel = _winnow_selected(rep_docs)
    postings = sel.select(
        "doc_id", (F.col("pack") / F.lit(1 << WINNOW_POS_BITS)).cast("long").alias("h")
    ).distinct()
    # weighted df == the expanded per-member document frequency
    df_ok = (
        postings.join(rep_sizes, "doc_id")
        .groupBy("h")
        .agg(F.sum("s").alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("h")
    )
    kept = postings.join(df_ok, "h")
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        kept.alias("x")
        .join(kept.alias("y"), "h")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    rep_pairs = (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "fp_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "fp_b"), "doc_b")
        .withColumn("overlap", ratio(F.col("shared_fp"), F.least("fp_a", "fp_b")))
        .filter(F.col("overlap") >= WINNOW_MIN_OVERLAP)
        .select("doc_a", "doc_b", "shared_fp", "fp_a", "fp_b", "overlap")
    )
    rep_of = cohorts.select("doc_id", "rep")
    # cross-cohort expansion: members inherit the rep pair's counts, with
    # fp_a/fp_b following whichever member lands on the a/b side
    across = (
        rep_pairs.join(
            rep_of.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            rep_of.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("out_a"),
            F.greatest("ma", "mb").alias("out_b"),
            "shared_fp",
            F.when(F.col("ma") < F.col("mb"), F.col("fp_a")).otherwise(F.col("fp_b")).alias("out_fa"),
            F.when(F.col("ma") < F.col("mb"), F.col("fp_b")).otherwise(F.col("fp_a")).alias("out_fb"),
            "overlap",
        )
        .select(
            F.col("out_a").alias("doc_a"),
            F.col("out_b").alias("doc_b"),
            "shared_fp",
            F.col("out_fa").alias("fp_a"),
            F.col("out_fb").alias("fp_b"),
            "overlap",
        )
    )
    # within-cohort pairs: both sides share the full kept set (overlap 1),
    # present iff the cohort's rep kept >= 1 fingerprint
    rep_fp = sizes.select(F.col("doc_id").alias("rep"), "n_fp")
    members = rep_of.join(rep_fp, "rep")
    within = (
        members.alias("p")
        .join(members.alias("q"), F.col("p.rep") == F.col("q.rep"))
        .filter(F.col("p.doc_id") < F.col("q.doc_id"))
        .select(
            F.col("p.doc_id").alias("doc_a"),
            F.col("q.doc_id").alias("doc_b"),
            F.col("p.n_fp").alias("shared_fp"),
            F.col("p.n_fp").alias("fp_a"),
            F.col("p.n_fp").alias("fp_b"),
            ratio(F.col("p.n_fp"), F.col("p.n_fp")).alias("overlap"),
        )
    )
    return across.unionByName(within)


_SQL_WINNOW_SEL = f"""
toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_TOKENS} AS tk FROM documents),
docs AS (SELECT doc_id, len(tk) AS n, tk FROM toks WHERE len(tk) >= {WINNOW_K}),
wins AS (
  SELECT doc_id, CAST(n - {WINNOW_K} + 1 AS BIGINT) AS n_grams, u.pos,
         CAST(concat('0x', substr(md5(array_to_string(tk[(u.pos + 1):(u.pos + {WINNOW_K})], ' ')), 1, 9)) AS BIGINT)
           * {1 << WINNOW_POS_BITS} + u.pos AS pack
  FROM docs, unnest(generate_series(0, n - {WINNOW_K})) AS u(pos)
),
sel AS (
  SELECT DISTINCT doc_id, n_grams,
         MIN(pack) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS pack
  FROM wins
)"""


def winnow_fingerprints_sql() -> str:
    return f"""
WITH {_SQL_WINNOW_SEL}
SELECT doc_id, n_grams, CAST(COUNT(*) AS BIGINT) AS n_fp,
       {sql_ratio("COUNT(*)", "n_grams")} AS fp_density
FROM sel GROUP BY doc_id, n_grams
"""


def winnow_overlap_pairs_sql() -> str:
    return f"""
WITH {_SQL_WINNOW_SEL},
postings AS (SELECT DISTINCT doc_id, pack // {1 << WINNOW_POS_BITS} AS h FROM sel),
df_ok AS (SELECT h FROM postings GROUP BY h HAVING COUNT(*) <= {WINNOW_MAX_DF}),
kept AS (SELECT p.doc_id, p.h FROM postings p JOIN df_ok USING (h)),
sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY doc_id),
shared AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS shared_fp
  FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, CAST(s.shared_fp AS BIGINT) AS shared_fp,
       CAST(a.n_fp AS BIGINT) AS fp_a, CAST(b.n_fp AS BIGINT) AS fp_b,
       {sql_ratio("s.shared_fp", "least(a.n_fp, b.n_fp)")} AS overlap
FROM shared s
JOIN sizes a ON s.doc_a = a.doc_id
JOIN sizes b ON s.doc_b = b.doc_id
WHERE {sql_ratio("s.shared_fp", "least(a.n_fp, b.n_fp)")} >= {WINNOW_MIN_OVERLAP}
"""


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity join (Chaudhuri/Ganti/Kaushik ICDE'06 /
# PPJoin): the EXACT-result alternative to the MAX_DF candidate guard.  Order
# every document's shingles by ascending global document frequency; for
# Jaccard >= t two sets MUST share a token among their first
# |d| - ceil(t*|d|) + 1 rarest tokens, so only that prefix enters the
# inverted-index join -- hot (high-DF) shingles land at the END of the order
# and mostly stay out of the index entirely.  Where the MAX_DF cutoff trades
# recall for the quadratic-blowup guard, prefix filtering keeps EVERY
# qualifying pair and still bounds the join: candidate volume tracks the
# rare-token postings, not the hot-token squares.
# ---------------------------------------------------------------------------

PREFIX_MIN_JACCARD = 0.5

# contract exact-copy cohorts only once a cohort's clique work dominates the
# contraction's ~12 fixed extra stages (C(8,3)=56 triangles per clique; below
# this the direct formulations win -- measured at sf0.1's max-s-2 corpus)
CONTRACT_MIN_COHORT = 8


def prefix_join_pairs(
    documents: DataFrame, min_jaccard: float = PREFIX_MIN_JACCARD
) -> DataFrame:
    """(doc_a, doc_b, jaccard): ALL pairs with exact shingle Jaccard >=
    min_jaccard, found via prefix filtering + size filtering and verified
    on the full shingle sets.

    For t = 0.5 the prefix length is |d| - ceil(|d|/2) + 1 = |d| div 2 + 1.
    The size filter (max <= min/t) prunes candidates before verification.
    Scale shape: one DF aggregate (map-side combined), a per-doc ranking
    window over skinny (doc, hash, df) rows, a self-join on the PREFIX
    postings only, then the bounded exact-verify join -- same stages as the
    inverted-index entry, with the hot-key protection coming from ordering
    instead of dropping.  Measured price of exactness (30x all-duplicate
    smoke, the worst case): 260 s for the identical 2.4M-pair answer the
    winnowing sketch join finds in 29 s -- which is why a production
    pipeline runs the sketch join first and this exact join as the audit
    pass over flagged cohorts."""
    from pyspark.sql import Window

    # referenced by all_hsets AND the posting explode: shingle once
    sh = materialize(shingled(documents), "join_shingles")
    # EXACT-DUPLICATE COLLAPSE (the 100x-probe OOM fix): docs with identical
    # text are interchangeable w.r.t. Jaccard against ANY third doc, so the
    # pair join runs on one representative per cohort and the full pair
    # list is re-expanded afterwards.  Without it, a corpus with large
    # exact-copy cohorts makes every prefix hash's posting list grow with
    # the cohort size and the per-hash self-join buffers cohort^2 rows in
    # one task (OOM at the 100x all-copy smoke).  With it, join cost
    # tracks DISTINCT content; the expansion is the true answer size,
    # generated by two mapping joins, never held in one task.
    # ADAPTIVE (one 1-row aggregate over a cheap md5 projection): below
    # CONTRACT_MIN_COHORT the direct path wins -- same runtime-stats-decide
    # principle as AQE.
    all_hsets = sh.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.transform("sh", h32))).alias("hs"),
    )
    collapse = max_cohort_size(documents) >= CONTRACT_MIN_COHORT
    cohorts = exact_cohorts_shared(documents) if collapse else None
    if collapse:
        reps = cohorts.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
        sh = sh.join(reps, "doc_id", "left_semi")
    # skinny (doc_id, h) postings feed dfreq, sizes AND the prefix join —
    # three references; materialize the distinct once
    post = (
        sh.select("doc_id", F.explode("sh").alias("s"))
        .select("doc_id", h32(F.col("s")).alias("h"))
        .distinct()
        .transform(materialize, "join_postings")
    )
    dfreq = post.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    sizes = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    pref = (
        post.join(dfreq, "h")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rn") <= F.expr("sz div 2 + 1"))
        .select("doc_id", "h", "sz")
    )
    cand = (
        pref.alias("x")
        .join(pref.alias("y"), "h")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        # size filter: jaccard >= 0.5 forces max(|a|,|b|) <= 2 * min(|a|,|b|)
        .filter(
            F.greatest(F.col("x.sz"), F.col("y.sz"))
            <= 2 * F.least(F.col("x.sz"), F.col("y.sz"))
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # verification runs on SORTED HASH arrays, not shingle strings: BIGINT
    # array_intersect is ~3x cheaper than ~50-char string compares on the
    # K-copy worst case (76.7 -> 34.1 s at the 10x smoke), and both engines
    # derive the identical md5 hashes, so the Jaccard value is unchanged
    # up to the ~2^-32 within-doc collision probability (deterministically
    # identical on both sides either way)
    hsets = (
        all_hsets.join(reps, "doc_id", "left_semi") if collapse else all_hsets
    )
    rep_pairs = (
        cand.join(
            hsets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "ha"),
            "doc_a",
        )
        .join(
            hsets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hb"),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            fround(
                F.size(F.array_intersect("ha", "hb")).cast("double")
                / (
                    F.size("ha")
                    + F.size("hb")
                    - F.size(F.array_intersect("ha", "hb"))
                ).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_a", "doc_b", "jaccard")
    )
    if not collapse:
        return rep_pairs
    # expansion 1: pairs WITHIN an exact-copy cohort (jaccard exactly 1)
    rep_of = cohorts.select("doc_id", "rep")
    within = (
        rep_of.alias("p")
        .join(rep_of.alias("q"), F.col("p.rep") == F.col("q.rep"))
        .filter(F.col("p.doc_id") < F.col("q.doc_id"))
        .select(
            F.col("p.doc_id").alias("doc_a"),
            F.col("q.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # expansion 2: every member of cohort A x every member of cohort B
    # inherits the representatives' jaccard (identical sets)
    across = (
        rep_pairs.join(
            rep_of.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma")),
            "doc_a",
        )
        .join(
            rep_of.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb")),
            "doc_b",
        )
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            "jaccard",
        )
    )
    return across.unionByName(within)


def prefix_join_pairs_sql(min_jaccard: float = PREFIX_MIN_JACCARD) -> str:
    jac = (
        "FLOOR((CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)"
        " / CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS DOUBLE))"
        " * 10000.0 + 0.5) / 10000.0"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
sh AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_SHINGLES} AS sh FROM toks),
post AS (
  SELECT DISTINCT doc_id, {_SQL_H32.format(s='u.s')} AS h
  FROM sh, unnest(sh.sh) AS u(s)
),
dfreq AS (SELECT h, COUNT(*) AS df FROM post GROUP BY 1),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY 1),
pref AS (
  SELECT doc_id, h, sz FROM (
    SELECT post.doc_id, post.h, sizes.sz,
           row_number() OVER (PARTITION BY post.doc_id
                              ORDER BY dfreq.df, post.h) AS rn
    FROM post JOIN dfreq USING (h) JOIN sizes USING (doc_id)
  ) WHERE rn <= sz // 2 + 1
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM pref x JOIN pref y ON x.h = y.h AND x.doc_id < y.doc_id
  WHERE greatest(x.sz, y.sz) <= 2 * least(x.sz, y.sz)
),
hsets AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(sh, s -> {_SQL_H32.format(s='s')}))) AS hs
  FROM sh
)
SELECT cand.doc_a, cand.doc_b, {jac} AS jaccard
FROM cand
JOIN hsets a ON a.doc_id = cand.doc_a
JOIN hsets b ON b.doc_id = cand.doc_b
WHERE {jac} >= {min_jaccard}
"""


# Probe memo, keyed by (session identity, analyzed-plan semantic hash): six
# family entries (winnowing pairs, prefix join, triangles, kcore, bigstar CC,
# pagerank) run the SAME 1-row probe on the same documents relation inside one
# bench/gate session -- one job instead of six.  A stale hit after an
# in-place file swap only re-picks the arm (both arms are result-identical by
# construction and test-pinned against each other), never the answer.
_COHORT_PROBE_CACHE: dict[tuple[int, int], int] = {}


def max_cohort_size(documents: DataFrame) -> int:
    """Largest exact-copy cohort (raw-text md5 grain): the 1-row adaptive
    probe the contraction callers run before deciding to collapse.  One
    md5 projection + one count aggregate -- no join, no wide state; 0 on an
    empty input (max over zero rows is NULL) so empty relations take the
    direct path and return empty like every other arm."""
    try:
        key = (id(documents.sparkSession), documents.semanticHash())
    except Exception:  # pragma: no cover - plan types without a semantic hash
        key = None
    if key is not None and key in _COHORT_PROBE_CACHE:
        return _COHORT_PROBE_CACHE[key]
    size = (
        documents.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(F.max("s"))
        .collect()[0][0]
        or 0
    )
    if key is not None:
        _COHORT_PROBE_CACHE[key] = size
    return size


def exact_cohorts(documents: DataFrame) -> DataFrame:
    """(doc_id, rep, s): exact-duplicate cohorts by raw-text md5.

    Docs with identical text have identical shingle sets and therefore
    identical Jaccard against any third doc, so every pair/graph operator
    over the near-dup relation can contract each cohort to its min-id
    representative (rep), run on distinct content only, and re-expand with
    the cohort size s -- the blowup-proof trick behind prefix_join_pairs'
    100x fix and the weighted triangle contraction.  Text-identity is a
    CONSERVATIVE subset of shingle-set identity (a reordered-shingle dup
    with different text stays uncontracted -- only the optimization is
    lost, never correctness), and it is what storage-level duplication
    actually produces (mirrors, re-crawls, retries).  Cost: ONE md5 per
    document over the raw text -- no tokenize/shingle pass, so the
    adaptive probe the callers run first is a cheap projection (an
    earlier shingle-set-fingerprint formulation cost ~75% of the whole
    triangles entry at sf0.1)."""
    hs = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.col("text")).alias("fp"),
    )
    cohorts = hs.groupBy("fp").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("s")
    )
    return hs.join(cohorts, "fp").select("doc_id", "rep", "s")


# Cohort RELATION memo, same key discipline as _COHORT_PROBE_CACHE: the six
# contraction call sites each used to recompute exact_cohorts() (an md5
# projection + groupBy + join) on the contracted path; within one
# bench/gate session they all see the same documents plan, so the skinny
# (doc_id, rep, s) relation computes and checkpoints ONCE.  Same staleness
# caveat bound: the cache key is the analyzed plan's semantic hash, which
# tracks the PATHS read, not file bytes -- the testdata dirs are immutable
# and the 100x probe dirs are distinct paths, so a stale hit cannot occur
# in any supported flow.
_COHORT_REL_CACHE: dict[tuple[int, int], DataFrame] = {}


def exact_cohorts_shared(documents: DataFrame) -> DataFrame:
    """exact_cohorts(), materialized and memoized per (session,
    input-plan semantic hash) -- what the contraction call sites use so a
    session computes the cohort relation once, not once per entry."""
    try:
        key = (id(documents.sparkSession), documents.semanticHash())
    except Exception:  # pragma: no cover - plan types without a semantic hash
        key = None
    if key is not None and key in _COHORT_REL_CACHE:
        return _COHORT_REL_CACHE[key]
    rel = materialize(exact_cohorts(documents), "exact_cohorts")
    if key is not None:
        _COHORT_REL_CACHE[key] = rel
    return rel


# ---------------------------------------------------------------------------
# Connected components, round-efficient variant: alternating large-star /
# small-star (Kiveris et al., "Connected Components in MapReduce and
# Beyond", SoCC 2014).  Same canonical labeling as dedup_clusters (label =
# component minimum) by a different distributed algorithm: min-label
# propagation needs diameter-many rounds and its per-round messages follow
# the raw adjacency, while the star operations contract the graph toward
# stars in O(log^2 n) rounds with per-round work proportional to the
# CURRENT edge set (which shrinks as components collapse) -- the right
# trade at web-graph scale where near-dup chains can be long.
# ---------------------------------------------------------------------------


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + one small-star over an undirected edge set stored
    once per edge as (u, v) with u > v.  Each phase is a per-center MIN
    aggregate joined back to the edge rows on the SAME key -- never a
    collect_set: the component minimum's neighborhood grows to the whole
    component as contraction proceeds, so an array-building formulation
    would put an entire giant component into one task's memory, while
    min + same-key join keeps per-row state constant (and the join reuses
    the groupBy's hash partitioning on the center)."""
    # large-star: process every edge at BOTH endpoints (symmetric view);
    # for each center u, every strictly-larger neighbor re-attaches to
    # m = min(N(u) + {u}).  Every edge is re-emitted from its smaller
    # endpoint's view, so connectivity is preserved (Kiveris et al. 2014).
    sym = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    large_min = sym.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("m")
    )
    large = (
        sym.join(large_min, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # small-star: each edge once at its LARGER endpoint (large-star output
    # is already oriented u > v); the center and all smaller neighbors
    # re-attach to the group's minimum.
    small_min = large.groupBy("u").agg(F.min("v").alias("m"))
    small = (
        large.join(small_min, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(small_min.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def dedup_clusters_bigstar(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs by alternating large-star /
    small-star contraction; output schema and values identical to
    dedup_clusters (doc_id, cluster_id = component min, keep = is-min).

    Convergence: a round that changes nothing has reached the star
    fixpoint (every surviving edge points a node at its component
    minimum).  The check is exact -- count equality plus an exceptAll
    emptiness probe on the (u, v) set, both O(|E|) with |E| shrinking
    every round -- not a hash-total heuristic, because star rounds are
    not label-monotone the way min-propagation is.  Each round's edge set
    is materialized so the plan does not grow with the iteration
    count (the same discipline as dedup_clusters)."""
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize, "star_edges")
    )
    prev_count = edges.count()
    unchanged = prev_count == 0
    for _ in range(max_iterations):
        if unchanged:
            break
        new_edges = materialize(_star_round(edges), "star_edges")
        new_count = new_edges.count()
        unchanged = (
            new_count == prev_count
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges = new_edges
        prev_count = new_count
    if not unchanged:
        # The final left join assumes every surviving edge is
        # (member, component_min); emitting labels off a non-fixpoint edge
        # set would silently produce duplicate rows / wrong components, so
        # fail loudly instead.  Star contraction converges in O(log^2 n)
        # rounds -- 20 covers any graph this engine can hold -- so reaching
        # here means the input or the round logic is broken, not that more
        # patience was needed.
        raise RuntimeError(
            f"dedup_clusters_bigstar: star fixpoint not reached within "
            f"{max_iterations} rounds ({prev_count} edges remain)"
        )
    # At the star fixpoint every edge is (member, component_min).
    return (
        nodes.join(edges, nodes.doc_id == edges.u, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("v"), F.col("doc_id")).alias("cluster_id"),
            F.coalesce(F.col("v"), F.col("doc_id")).eqNullSafe(F.col("doc_id")).alias("keep"),
        )
    )


def dedup_clusters_bigstar_contracted(
    documents: DataFrame, threshold: float = DEDUP_CLUSTER_MIN_JACCARD
) -> DataFrame:
    """dedup_clusters_bigstar over the strong near-dup relation of a
    documents table, with the exact-copy cohort contraction in front: all
    members of a cohort share their rep's neighbor relation, so the star
    rounds run on the rep graph only and each member inherits its rep's
    component label (reps are cohort minima, so the component min over
    reps IS the global min).  Same adaptive trigger as the prefix join and
    triangle counting: below CONTRACT_MIN_COHORT the direct path wins.

    Output semantics identical to the direct path: every doc with at
    least one strong pair (cross-cohort via the rep graph, within-cohort
    whenever s >= 2), cluster_id = component min, keep = is-min."""
    if max_cohort_size(documents) < CONTRACT_MIN_COHORT:
        pairs = minhash_lsh_pairs(documents).filter(
            F.col("jaccard") >= threshold
        )
        return dedup_clusters_bigstar(pairs)
    cohorts = exact_cohorts_shared(documents)
    rep_docs = documents.join(
        cohorts.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    pairs = minhash_lsh_pairs(rep_docs).filter(F.col("jaccard") >= threshold)
    rep_labels = dedup_clusters_bigstar(pairs).select(
        F.col("doc_id").alias("rep"), F.col("cluster_id").alias("rep_cluster")
    )
    return (
        cohorts.join(rep_labels, "rep", "left")
        # in the expanded graph a doc has an edge iff its rep has a
        # cross-cohort strong pair OR its cohort has >= 2 members
        .filter(F.col("rep_cluster").isNotNull() | (F.col("s") >= 2))
        .select(
            "doc_id",
            F.coalesce("rep_cluster", F.col("rep")).alias("cluster_id"),
            (
                F.col("doc_id") == F.coalesce("rep_cluster", F.col("rep"))
            ).alias("keep"),
        )
    )
