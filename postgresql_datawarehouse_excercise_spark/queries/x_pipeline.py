"""Extension: training-data pipeline utilities (sampling, profiling, CDC).

Three operator families a 100 TB corpus pipeline needs around the core
dedup/similarity/text stack:

  * deterministic stratified sampling -- per-stratum rates keyed on a
    content-independent id hash (reproducible under task retries and across
    engines, unlike rand()-based sampleBy);
  * table profiling -- per-column null/distinct statistics in one scan (the
    ANALYZE/data-quality primitive; drives skew and join planning decisions);
  * CDC upsert -- key-based merge of a change batch into a base table
    without Delta (anti-join + union), the incremental-refresh primitive.

Scale design: the sample is a pure per-row filter (no shuffle); the profiler
is ONE full scan with all statistics computed in a single aggregate (not a
per-column loop over the table); the upsert shuffles each side once on the
merge key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog, session
from ..functions import dec, fround, money, sql_dec, sql_money
from ..operators import dedup as dedup_ops
from . import query

# per-language sampling rates (percent): heavier on the head language
SAMPLE_RATES = {"en": 50, "de": 20, "fr": 20, "es": 20, "zh": 20}
_DEFAULT_RATE = 10


def _bucket(col: F.Column, modulus: int = 100) -> F.Column:
    """Deterministic 0..modulus-1 bucket from the md5 prefix -- identical
    in any engine (operators/dedup.py h32 recipe).  The ONE home of this
    hash recipe in the sampling entries: every sampler must share it, or a
    recipe change silently changes which rows a 'deterministic' sample
    keeps."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        % modulus
    )


@query(
    "x_pipeline_stratified_sample",
    oracle=f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())}
             ELSE {_DEFAULT_RATE} END
""",
)
def x_pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sample with per-language rates, keyed on the id
    hash: a pure filter (no shuffle, no state), so the same rows survive on
    any cluster, any partitioning, any retry -- the property rand()-based
    `sampleBy` cannot give."""
    t = catalog.load(spark, sf_dir)
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return t.documents.filter(_bucket(F.col("doc_id")) < rate).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority")


@query(
    "x_pipeline_profile_columns",
    oracle=" UNION ALL ".join(
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,"
        f" COUNT(*) - COUNT({c}) AS n_nulls,"
        f" COUNT(DISTINCT {c}) AS n_distinct FROM orders"
        for c in _PROFILE_COLS
    ),
)
def x_pipeline_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile (rows / nulls / distinct) of `orders` in ONE scan:
    all per-column statistics are expressions of a single aggregate, then the
    1-row result unpivots to the long shape.  The naive per-column loop would
    scan the table N times; this is the ANALYZE-TABLE primitive (SURVEY.md
    section 2 A9) as a query."""
    t = catalog.load(spark, sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    one = t.orders.agg(*aggs)
    stack = ", ".join(f"'{c}', {c}__nulls, {c}__distinct" for c in _PROFILE_COLS)
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS (column_name, n_nulls, n_distinct)",
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


@query(
    "x_pipeline_upsert_orders",
    oracle=f"""
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
),
merged AS (
  SELECT * FROM changes
  UNION ALL
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes)
)
SELECT o_orderstatus, COUNT(*) AS n_orders,
       {sql_money(f"SUM({sql_dec('o_totalprice')})")} AS total_price
FROM merged GROUP BY o_orderstatus
""",
)
def x_pipeline_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert without Delta: change batch (here: every 7th order key,
    repriced) replaces matching base rows via left-anti join + union, then a
    per-status aggregate proves the merge content.  Both sides shuffle once
    on the merge key; at 100 TB the anti join is the same exchange a MERGE
    INTO would plan."""
    t = catalog.load(spark, sf_dir)
    changes = t.orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    kept = t.orders.join(changes.select("o_orderkey"), "o_orderkey", "left_anti")
    merged = changes.unionByName(kept)
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum(dec("o_totalprice"))).alias("total_price"),
    )


@query(
    "x_pipeline_quality_gate",
    oracle=r"""
WITH scored AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         CAST(length(text) AS BIGINT) AS n_chars,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents WHERE lang = 'en'
), kept AS (
  SELECT * FROM scored WHERE n_tokens >= 20 AND n_punct * 20 <= n_chars
), canonical AS (
  SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept JOIN canonical USING (doc_id)
GROUP BY source ORDER BY source
""",
)
def x_pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning gate: language filter -> quality
    thresholds (min length, max punctuation density as the exact integer
    test n_punct * 20 <= n_chars -- no double ratios) -> exact near-dup
    collapse on the normalized fingerprint (keep lowest doc_id) -> per-source
    survival report.  One scan computes every signal; the only shuffles are
    the fingerprint group and the tiny per-source aggregate -- the shape of
    a full training-data cleaning pass at 100 TB."""
    t = catalog.load(spark, sf_dir)
    scored = t.documents.filter(F.col("lang") == "en").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]")).cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))).alias("fp"),
    )
    from pyspark.sql import Window

    kept = scored.filter(
        (F.col("n_tokens") >= 20) & (F.col("n_punct") * 20 <= F.col("n_chars"))
    )
    # keep-lowest-doc_id dedup as a window min over the fingerprint
    # partitioning: ONE scan of documents and one shuffle (the join-back
    # formulation scans and shuffles twice for the same result)
    min_doc = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        kept.withColumn("min_doc", min_doc)
        .filter(F.col("doc_id") == F.col("min_doc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


PACK_BLOCK = 2048  # tokens per packed training sequence


@query(
    "x_pipeline_pack_sequences",
    oracle=rf"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS end_offset
  FROM tok
)
SELECT doc_id, source, n_tokens,
       CAST(end_offset - n_tokens AS BIGINT) AS start_offset,
       CAST(floor((end_offset - n_tokens) / {PACK_BLOCK}.0) AS BIGINT) AS first_block,
       CAST(floor((end_offset - 1) / {PACK_BLOCK}.0) AS BIGINT) AS last_block
FROM cum
""",
)
def x_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): lay every document's
    tokens onto one contiguous stream per source, then map each doc to the
    fixed {PACK_BLOCK}-token blocks it lands in (first_block..last_block --
    the doc->training-sample index a dataloader needs).  One window cumsum
    per source computes all offsets; block ids are pure per-row arithmetic.
    Scale: packing is per-source (parallel across sources); at 100 TB add a
    shard key (xxhash64(doc_id) % K) to the partition so each window holds
    ~1/K of a source and block ids stay unique as (source, shard, block)."""
    t = catalog.load(spark, sf_dir)
    tok = t.documents.select(
        "doc_id",
        "source",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    cum = tok.withColumn("end_offset", F.sum("n_tokens").over(w))
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        (F.col("end_offset") - F.col("n_tokens")).alias("start_offset"),
        F.floor((F.col("end_offset") - F.col("n_tokens")) / float(PACK_BLOCK))
        .cast("long")
        .alias("first_block"),
        F.floor((F.col("end_offset") - 1) / float(PACK_BLOCK)).cast("long").alias("last_block"),
    )


@query(
    "x_pipeline_salted_hot_keys",
    oracle="""
SELECT event_type,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
)
def x_pipeline_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: events has ~5 hot group keys, the exact
    shape where one reducer per key becomes the straggler at 100 TB.
    salted_sum (operators/skew.py) pre-aggregates on (key, deterministic
    xxhash64 salt) so each hot key fans out over 16 reducers, then combines
    partials -- bit-identical to the plain GROUP BY because the measure is
    exact decimal (the oracle IS the unsalted form)."""
    from ..operators.skew import salted_sum

    t = catalog.load(spark, sf_dir)
    out = salted_sum(t.events, ["event_type"], dec("value"), "total")
    return out.select("event_type", money(F.col("total")).alias("total_value"))


SALT_HOT_SHARE = 0.05   # keys owning > 5% of the big side get salted
SALT_BUCKETS = 16


@query(
    "x_pipeline_salted_join",
    oracle="""
WITH dim AS (
  SELECT DISTINCT event_type, CAST(length(event_type) AS INT) AS type_weight
  FROM events
)
SELECT e.event_type, d.type_weight,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events e JOIN dim d USING (event_type)
GROUP BY 1, 2
""",
)
def x_pipeline_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted JOIN (operators/skew.salted_join) -- the missing
    sibling of x_pipeline_salted_hot_keys, closing the loop the
    x_pipeline_skew_report diagnostic opens: events joins its event_type
    dimension on a key with FIVE distinct values (~20% of the fact per
    key -- every key hot by the share rule), the exact shape where an
    unsalted shuffle join tops out at 5 reducers no matter how many
    executors exist.  The hot-key set derives in-plan from a
    map-side-combined frequency pass (keys owning > SALT_HOT_SHARE of the
    fact), the fact side salts those keys deterministically over
    SALT_BUCKETS reducers, the dim side replicates its hot rows
    SALT_BUCKETS ways, and the join runs shuffle_hash on (key, salt) --
    so parallelism is keys x buckets instead of keys.  Cold keys keep
    salt 0 and pay nothing.

    The oracle is the PLAIN unsalted join: salting is row-identical by
    construction (every key match meets on exactly one salt), which is
    the entry's correctness claim; the plan shape (ShuffledHashJoin on
    (key, _salt), no broadcast on the fact) is pinned in
    tests/test_plans.py and the equivalence is property-tested on a
    synthetic hot-key corpus in tests/test_selection_ops.py.

    Why AQE does not cover this case (measured at the 100x probe): AQE
    skew-join splits partitions that are LARGE RELATIVE TO THE MEDIAN --
    with five equally-hot keys, median == max and ZERO partitions are
    marked skewed (verified in the executed plan), yet the join still
    runs on at most 5 reducers.  Low key CARDINALITY is not "skew" by
    AQE's definition; pre-shuffle salting is the only fix.  The 100x
    wall-clock on local[32] is an honest negative result: 23.7 s salted
    vs 9.6 s unsalted, because this fact is 20M NARROW rows whose
    per-row join work (one 5-row hash probe + a partial-agg update) is
    cheaper than the salting extras (the diagnostic scan, two broadcast
    marker probes, xxhash64, the wider shuffle key).  The plan property
    is what scales: max rows per join task drops 4.1M -> ~640k (5 ->
    80 (key, salt) groups), and on a 1000-executor cluster the unsalted
    form strands 99.5% of the cluster while salting's extras stay
    linear and fully parallel.  Salt when (per-key rows x per-row cost)
    dominates a linear scan -- wide rows, expensive residuals, or
    downstream per-pair work -- or when parallelism >> key count."""
    from ..operators.skew import salted_join

    t = catalog.load(spark, sf_dir)
    big = t.events.select("event_type", dec("value").alias("_val"))
    dim = (
        t.events.select("event_type")
        .distinct()
        .withColumn("type_weight", F.length("event_type").cast("int"))
    )
    # hot-key diagnostic on a deterministic 1/16 id-hash sample: the hot
    # set only shapes the PLAN (any hot set yields identical rows -- the
    # oracle is the plain join), so the share rule runs on the sample and
    # a >5%-share key cannot hide from a uniform 1/16 split.  The full
    # freq pass cost as much as the straggler it removed at the 100x
    # probe (a third scan of the fact); sampling makes the pre-flight
    # near-free, which is also how skew_report prescribes running it.
    freq = (
        t.events.filter(_bucket(F.col("event_id"), 16) == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    total = freq.agg(F.sum("_cnt").alias("_total"))
    hot = (
        freq.crossJoin(F.broadcast(total))
        .filter(
            F.col("_cnt").cast("double")
            > F.col("_total").cast("double") * F.lit(SALT_HOT_SHARE)
        )
        .select("event_type")
    )
    joined = salted_join(big, dim, "event_type", hot, SALT_BUCKETS)
    return joined.groupBy("event_type", "type_weight").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        money(F.sum("_val")).alias("total_value"),
    )


# --- eval-set decontamination -----------------------------------------------

TRAIN_PCT = 90          # same id-hash split as x_text_train_test_split
_BUCKET_SQL = "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"


def _decontaminate_oracle() -> str:
    from ..operators.dedup import _SQL_SHINGLES, _SQL_TOKENS

    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {_BUCKET_SQL} AS bucket,
         {_SQL_TOKENS} AS t
  FROM documents
),
sh AS (SELECT doc_id, bucket, {_SQL_SHINGLES} AS sh FROM toks),
grams AS (
  SELECT doc_id, bucket,
         CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
  FROM sh, unnest(sh) AS u(g)
),
eval_grams AS (SELECT DISTINCT h FROM grams WHERE bucket >= {TRAIN_PCT}),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM grams JOIN eval_grams USING (h)
  WHERE bucket < {TRAIN_PCT}
  GROUP BY doc_id
)
SELECT s.doc_id, len(s.sh) AS n_shingles,
       COALESCE(h.n_contaminated, 0) AS n_contaminated,
       COALESCE(h.n_contaminated, 0) > 0 AS contaminated
FROM sh s LEFT JOIN hits h USING (doc_id)
WHERE s.bucket < {TRAIN_PCT}
"""


@query("x_pipeline_decontaminate", oracle=_decontaminate_oracle())
def x_pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag every TRAIN document that shares a
    word n-gram shingle with any EVAL document (the overlap check run before
    every pretraining job so benchmark answers don't leak into the corpus).

    Spark plan: shingle the corpus (operators/dedup machinery, word 3-grams
    here; production uses 13-grams -- same plan), collapse the eval side to
    a DISTINCT set of 60-bit gram hashes which is tiny relative to the
    corpus (eval suites are fixed-size) and BROADCAST it; every TRAIN gram
    then probes it via a broadcast LEFT join, and ONE aggregate per doc
    counts the hits -- so the corpus is tokenized/shingled exactly once and
    the train side never shuffles before its final per-doc count (the
    naive inner-join-then-backfill form shingles twice; measured 2.7 s ->
    1.6 s at sf0.1).  At 100 TB swap the broadcast for a bloom filter
    pushed into the scan if the eval gram set outgrows memory."""
    from ..operators.dedup import h60, shingled

    t = catalog.load(spark, sf_dir)
    grams = (
        shingled(t.documents)
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .select(
            "doc_id",
            "bucket",
            F.size("sh").alias("n_shingles"),
            F.explode("sh").alias("g"),
        )
        .withColumn("h", h60(F.col("g")))
        .drop("g")
    )
    eval_grams = (
        grams.filter(F.col("bucket") >= TRAIN_PCT)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        grams.filter(F.col("bucket") < TRAIN_PCT)
        .join(F.broadcast(eval_grams), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated") > 0).alias("contaminated"),
        )
    )


# --- domain mixture weights -------------------------------------------------

MAX_EPOCHS = 4.0        # cap on per-source repetition when upsampling


@query(
    "x_pipeline_mixture_weights",
    oracle=f"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_source
)
SELECT source, n_docs, n_tokens,
       FLOOR((CAST(n_tokens AS DOUBLE) / total_tokens) * 1000000.0 + 0.5) / 1000000.0 AS token_share,
       FLOOR((LEAST(CAST(total_tokens AS DOUBLE) / n_sources / n_tokens,
                   {MAX_EPOCHS})) * 1000000.0 + 0.5) / 1000000.0 AS sample_weight
FROM per_source, tot
""",
)
def x_pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: given per-source token counts, the
    sampling weight that moves the corpus to a UNIFORM token mixture at the
    same total budget, with upsampling capped at {MAX_EPOCHS} epochs (the
    repetition limit data-constrained scaling work recommends).  Plan: one
    scan -> per-source aggregate (|sources| rows) -> crossJoin against the
    1-row grand total, which Spark broadcasts; everything after the first
    aggregate is driver-trivial.  The weights feed the stratified sampler
    (x_pipeline_stratified_sample) as its per-stratum rates."""
    t = catalog.load(spark, sf_dir)
    per_source = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long")).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        fround(F.col("n_tokens").cast("double") / F.col("total_tokens"), 6).alias("token_share"),
        fround(F.least(
                F.col("total_tokens").cast("double") / F.col("n_sources") / F.col("n_tokens"),
                F.lit(MAX_EPOCHS),
            ),
            6, ).alias("sample_weight"),
    )


@query(
    "x_pipeline_alpha_sampling",
    oracle=r"""
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per_source),
w AS (
  SELECT source, n_docs, n_tokens, total_tokens,
         CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS w_micro
  FROM per_source, tot
),
sw AS (SELECT SUM(w_micro) AS sum_w FROM w)
SELECT source, n_docs, n_tokens,
       FLOOR((CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS token_share,
       FLOOR((CAST(w_micro AS DOUBLE) / CAST(sum_w AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS alpha_share,
       FLOOR(((CAST(w_micro AS DOUBLE) / CAST(sum_w AS DOUBLE))
              / (CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS boost
FROM w, sw
""",
)
def x_pipeline_alpha_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential (alpha) mixture smoothing -- the multilingual sampling
    rule of mC4/mT5 (Xue et al. 2021) and XLM (Lample & Conneau 2019):
    sample source s with probability proportional to (token share)^alpha,
    flattening the head and boosting the tail without going all the way to
    the uniform mixture x_pipeline_mixture_weights computes.  alpha = 0.5
    here DELIBERATELY: the exponent is then IEEE sqrt, correctly rounded
    in every engine, so no libm pow enters the oracle contract.  `boost`
    (alpha_share / raw share) is the per-source up/down-sampling factor a
    sampler applies.

    Float discipline: each source's sqrt-share quantizes to integer
    micro-units BEFORE the normalizing sum (the repo rule: never sum raw
    doubles across rows), so normalization is exact int64 arithmetic and
    partition-order independent.  Plan: one scan -> per-source aggregate
    (|sources| rows) -> two 1-row broadcasts; everything after the first
    aggregate is constant-size no matter the corpus."""
    t = catalog.load(spark, sf_dir)
    per_source = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long")).alias(
            "n_tokens"
        ),
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total_tokens"))
    w = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "w_micro",
        F.floor(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double"))
            * 1000000.0
            + 0.5
        ).cast("long"),
    )
    sw = w.agg(F.sum("w_micro").alias("sum_w"))
    return w.crossJoin(F.broadcast(sw)).select(
        "source",
        "n_docs",
        "n_tokens",
        fround(
            F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double"), 6
        ).alias("token_share"),
        fround(F.col("w_micro").cast("double") / F.col("sum_w").cast("double"), 6).alias(
            "alpha_share"
        ),
        fround(
            (F.col("w_micro").cast("double") / F.col("sum_w").cast("double"))
            / (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")),
            6,
        ).alias("boost"),
    )


# --- deterministic global shuffle into shards -------------------------------

NUM_SHARDS = 64
SHUFFLE_SALT = "epoch-0"


@query(
    "x_pipeline_shuffle_shards",
    oracle=f"""
WITH keyed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SALT}'), 1, 8))
              AS BIGINT) AS k
  FROM documents
)
SELECT doc_id, CAST(k % {NUM_SHARDS} AS BIGINT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY k % {NUM_SHARDS} ORDER BY k, doc_id) AS BIGINT)
         AS pos_in_shard
FROM keyed
""",
)
def x_pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training: every doc gets a
    pseudo-random 32-bit key from md5(doc_id:salt), lands in shard
    key%{NUM_SHARDS}, and takes its position from a row_number ordered by the
    key WITHIN the shard.  Reading shards in order replays one epoch in a
    reproducible random order (new salt = new epoch permutation).  Unlike a
    single global ORDER BY rand(), the window is partitioned by shard --
    {NUM_SHARDS} independent sorts of n/{NUM_SHARDS} rows each, no global
    sort, no driver bottleneck, stable under retries."""
    t = catalog.load(spark, sf_dir)
    k = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SALT}"))), 1, 8),
        16,
        10,
    ).cast("long")
    keyed = t.documents.select(F.col("doc_id").cast("long").alias("doc_id"), k.alias("k"))
    w = Window.partitionBy(F.col("k") % NUM_SHARDS).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        (F.col("k") % NUM_SHARDS).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


# --- incremental MV maintenance ---------------------------------------------

INCR_SPLIT_DATE = "1998-07-01"  # batch 1 = orders before, batch 2 = from
# (driver orders span 1995-01-01 .. 2001-08-01; median ~1998-04)


def _incremental_sales_oracle() -> str:
    from ..etl.sales_fact import ORACLE_SALES_CTE

    return f"""
WITH {ORACLE_SALES_CTE}
SELECT customerid, timeid, partkey, CAST(ROUND(amnt, 2) AS DOUBLE) AS amnt
FROM sales
"""


@query("x_pipeline_incremental_sales", oracle=_incremental_sales_oracle())
def x_pipeline_incremental_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance, end to end: build the sales fact from
    orders before {INCR_SPLIT_DATE} only, then apply the remaining orders
    as a DELTA batch via MVRegistry.refresh_incremental -- time dimension
    extended append-only (ids continue, existing ids never move), delta
    fact rows aggregated at the grain and merged into the persisted MV by
    re-summing.  The returned DataFrame is the MERGED fact; the oracle is
    the FULL single-shot rebuild, so the value-hash gate proves
    incremental == rebuild.  This is the REFRESH MATERIALIZED VIEW a
    100 TB warehouse actually runs: per-batch cost is |delta| joined +
    |MV| rewritten, never a rescan of full history."""

    from ..etl.time_dim import build_time_dim
    from ..mv.definitions import _sales, _time, default_registry

    t = catalog.load(spark, sf_dir)
    cutoff = F.col("o_orderdate").cast("date") >= F.lit(INCR_SPLIT_DATE).cast("date")
    orders1 = t.orders.filter(~cutoff)
    orders2 = t.orders.filter(cutoff)
    keys2 = orders2.select("o_orderkey")
    batch1 = catalog.delta_tables(
        spark, sf_dir,
        orders=orders1,
        lineitem=t.lineitem.join(keys2, t.lineitem.l_orderkey == keys2.o_orderkey, "left_anti"),
    )
    delta = catalog.delta_tables(
        spark, sf_dir,
        orders=orders2,
        lineitem=t.lineitem.join(keys2, t.lineitem.l_orderkey == keys2.o_orderkey, "left_semi"),
    )
    reg = default_registry(session.scratch("pdwx-incr-"))
    try:
        # initial state: time + sales materialized from batch 1 only
        # (builder swap on this registry instance; restored before the delta)
        reg.defs["time"].builder = lambda tt, dep: build_time_dim(batch1.orders)
        reg.defs["sales"].builder = lambda tt, dep: batch1.sales()
        reg.build(spark, sf_dir, "time")
        reg.build(spark, sf_dir, "sales")
        reg.defs["time"].builder = _time
        reg.defs["sales"].builder = _sales
        reg.refresh_incremental(spark, sf_dir, "sales", delta)
        merged = reg.read(spark, "sales")
        return merged.select(
            "customerid", "timeid", "partkey", money(F.col("amnt")).alias("amnt")
        ).transform(session.materialize, "result")
    finally:
        reg.drop_all()


@query(
    "x_pipeline_canonical_docs",
    oracle=rf"""
WITH RECURSIVE {dedup_ops.dedup_clusters_cte()},
docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
merged AS (
  SELECT d.doc_id, CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id, d.n_tokens
  FROM docs d LEFT JOIN clusters c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id, n_tokens,
       (row_number() OVER (PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id ASC)) = 1
         AS is_canonical
FROM merged
""",
)
def x_pipeline_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: compose the near-dup cluster decision
    (MinHash-LSH -> connected components) with a quality signal and keep the
    BEST document per cluster (longest, doc_id tie-break) instead of the
    smallest-id representative -- the real dedup pass of a training
    pipeline.  Singletons form their own cluster.  Scale shape: the window
    partitions by cluster_id (tiny, dense clusters; singletons partition
    alone), so no global sort and no skewed key."""
    t = catalog.load(spark, sf_dir)
    pairs = dedup_ops.minhash_lsh_pairs(t.documents).filter(
        F.col("jaccard") >= dedup_ops.DEDUP_CLUSTER_MIN_JACCARD
    )
    clusters = dedup_ops.dedup_clusters(pairs).select("doc_id", "cluster_id")
    docs = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
    )
    merged = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).cast("long").alias("cluster_id"),
        "n_tokens",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return merged.select(
        "doc_id",
        "cluster_id",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


# --- SCD2 dimension history (operators/scd.py) ----------------------------

_SCD2_SNAP_SQL = """
snap AS (
  SELECT o_custkey AS customerid, o_orderdate AS observed_at,
         arg_max(o_orderpriority, o_orderkey) AS priority
  FROM orders GROUP BY 1, 2
)"""

_SCD2_HISTORY_SQL = f"""WITH {_SCD2_SNAP_SQL},
marked AS (
  SELECT customerid, priority, observed_at,
         lag(priority) OVER (PARTITION BY customerid ORDER BY observed_at) AS prev
  FROM snap
),
kept AS (
  SELECT customerid, priority, observed_at FROM marked
  WHERE prev IS DISTINCT FROM priority
)
SELECT customerid, priority,
       observed_at AS valid_from,
       lead(observed_at) OVER (PARTITION BY customerid ORDER BY observed_at) AS valid_to,
       lead(observed_at) OVER (PARTITION BY customerid ORDER BY observed_at) IS NULL
         AS is_current
FROM kept
"""


def _scd2_snapshots(t: catalog.Tables) -> DataFrame:
    """Per (customer, day) attribute snapshot: the priority of that day's
    max order (deterministic arg-max, identical in the oracle)."""
    return (
        t.orders.groupBy(
            F.col("o_custkey").alias("customerid"),
            F.col("o_orderdate").alias("observed_at"),
        )
        .agg(F.max(F.struct("o_orderkey", "o_orderpriority")).alias("m"))
        .select("customerid", F.col("m.o_orderpriority").alias("priority"), "observed_at")
    )


@query("x_pipeline_scd2_history", oracle=_SCD2_HISTORY_SQL)
def x_pipeline_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (operators/scd.py): full attribute
    history with validity intervals from a pile of dated snapshots -- one
    window pass does change detection AND interval assembly.  The
    warehouse-standard treatment of the reference's overwrite-in-place
    customer cleanup (assignment-5.sql:13-15): history is kept, facts can
    join AS OF event time."""
    from ..operators import scd

    t = catalog.load(spark, sf_dir)
    return scd.scd2_from_snapshots(
        _scd2_snapshots(t), ["customerid"], ["priority"], "observed_at"
    ).select("customerid", "priority", "valid_from", "valid_to", "is_current")


@query("x_pipeline_scd2_incremental", oracle=_SCD2_HISTORY_SQL)
def x_pipeline_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance == full rebuild, on the driver's own
    gate: history built from pre-1997 snapshots, then the 1997+ batch
    applied with scd2_apply (closed rows untouched, open rows of affected
    keys re-assembled, new keys bootstrapped) -- the result must hash-match
    the one-shot full-history oracle."""
    from ..operators import scd

    t = catalog.load(spark, sf_dir)
    snaps = _scd2_snapshots(t)
    cutoff = F.lit("1997-01-01").cast("timestamp")
    history = scd.scd2_from_snapshots(
        snaps.filter(F.col("observed_at") < cutoff),
        ["customerid"], ["priority"], "observed_at",
    )
    applied = scd.scd2_apply(
        history,
        snaps.filter(F.col("observed_at") >= cutoff),
        ["customerid"], ["priority"], "observed_at",
    )
    return applied.select("customerid", "priority", "valid_from", "valid_to", "is_current")


@query("x_pipeline_decontaminate_bloom", oracle=_decontaminate_oracle())
def x_pipeline_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the BLOOM-FILTER scale path (the swap the plain
    entry documents for when the eval gram set outgrows broadcast memory):

      1. build a fixed-size Bloom over the eval grams (operators/
         bloomfilter.py: one numpy partial per partition, driver OR --
         traffic independent of eval cardinality, no false negatives);
      2. probe every TRAIN gram with the broadcast bit array (vectorized
         pandas UDF) -- false positives only;
      3. EXACT-confirm just the bloom-positive survivors against the
         distinct eval grams (a join whose left side is already thinned to
         ~the contaminated grams + fp-rate noise).

    No false negatives + exact confirm => output is bit-identical to the
    pure-exact formulation, so this entry shares ITS oracle -- the driver
    gate proves the scale path loses nothing.

    At bench scale this runs ~2x the plain entry (the bloom build is an
    extra pass over the shingle lineage and the probe is an Arrow UDF hop);
    the trade only pays off when the eval gram set no longer broadcasts --
    which is exactly when the plain entry stops working at all.  The
    shingled grams persist across the build/probe/confirm passes so the
    corpus is tokenized once."""
    from ..operators import bloomfilter
    from ..operators.dedup import h60, shingled

    t = catalog.load(spark, sf_dir)
    grams = (
        shingled(t.documents)
        .withColumn("bucket", _bucket(F.col("doc_id")))
        .select(
            "doc_id", "bucket", F.size("sh").alias("n_shingles"),
            F.explode("sh").alias("g"),
        )
        .withColumn("h", h60(F.col("g")))
        .drop("g")
        # the gram set feeds three passes (bloom build, probe, confirm):
        # materialize so shingling runs once
        .transform(session.materialize, "bloom_grams", eager=False)
    )
    eval_grams = grams.filter(F.col("bucket") >= TRAIN_PCT).select("h").distinct()
    bloom = bloomfilter.build(eval_grams, "h")
    might_contain = bloomfilter.probe_col(spark, bloom)
    train = grams.filter(F.col("bucket") < TRAIN_PCT)
    survivors = train.filter(might_contain(F.col("h")))
    confirmed = (
        survivors.join(eval_grams.withColumn("hit", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"))
    )
    return (
        train.groupBy("doc_id")
        .agg(F.max("n_shingles").alias("n_shingles"))
        .join(confirmed, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "x_pipeline_cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op, value
  FROM events
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_ops
  FROM log
)
SELECT user_id, event_type,
       FLOOR(value * 100.0 + 0.5) / 100.0 AS last_value,
       n_ops
FROM ranked WHERE rn = 1 AND op = 'U'
""",
)
def x_pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction (CDC apply): fold an ordered upsert/tombstone
    log into its final snapshot -- the last operation per key wins, and a
    trailing delete removes the key entirely.

    This replaces per-row MERGE with ONE shuffle: partition by key, rank by
    the total order (ts, op sequence id), keep rank 1, drop tombstones --
    the snapshot-compaction step of a Debezium-style CDC ingest.  At 100 TB
    the log shuffles once on the key hash and the window state per task is
    one row (rank-1 retention), regardless of how many ops a key received.
    Ops are derived deterministically from the events table (every 10th
    event id is a tombstone) so both engines fold the identical log."""

    t = catalog.load(spark, sf_dir)
    log = t.events.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(F.col("event_id") % 10 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "value",
    )
    key = Window.partitionBy("user_id", "event_type")
    ranked = log.select(
        "*",
        F.row_number()
        .over(key.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn"),
        F.count(F.lit(1)).over(key).alias("n_ops"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("op") == "U")).select(
        "user_id",
        "event_type",
        (F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("double") / 100.0).alias("last_value"),
        "n_ops",
    )


@query(
    "x_pipeline_weighted_sample",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       CAST(LEAST(10000, length(text) * 5) AS DOUBLE) / 10000.0 AS weight
FROM documents
WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
      < LEAST(10000, length(text) * 5)
""",
)
def x_pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a PER-DOCUMENT acceptance probability
    (here a length proxy capped at 1; any quality score slots in): accept
    iff the id-hash uniform falls below the weight, in integer basis
    points -- deterministic on any cluster, any partitioning, any retry
    (the property rand() cannot give), and a pure filter in the scan
    stage.  The mixture-weights entry reweights strata; this samples at
    row grain with a continuous weight."""
    t = catalog.load(spark, sf_dir)
    wbp = F.least(F.lit(10000), F.length("text") * 5)
    u = _bucket(F.col("doc_id"), modulus=10000)
    return t.documents.filter(u < wbp).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        (wbp.cast("double") / 10000.0).alias("weight"),
    )


_SCD2_PIT_SQL = f"""WITH hist AS ({_SCD2_HISTORY_SQL})
SELECT o.o_orderkey AS orderkey,
       o.o_custkey AS customerid,
       o.o_orderdate AS orderdate,
       h.priority AS effective_priority,
       h.valid_from
FROM orders o
JOIN hist h
  ON h.customerid = o.o_custkey
 AND h.valid_from <= o.o_orderdate
 AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
"""


@query("x_pipeline_scd2_pointintime", oracle=_SCD2_PIT_SQL)
def x_pipeline_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment against the SCD2 dimension: every
    order joins the customer-history row in effect AT ITS ORDER DATE
    (valid_from <= ts < valid_to, open row unbounded) -- the join that
    makes SCD2 histories useful.  Plan shape: an EQUI hash join on the
    dimension key with the interval predicate as a residual filter, so the
    fact shuffles once on customerid and no range/theta join ever forms;
    at 100 TB both sides hash-partition on the key and the per-key
    interval scan is bounded by that customer's change count."""
    from ..operators import scd

    t = catalog.load(spark, sf_dir)
    hist = scd.scd2_from_snapshots(
        _scd2_snapshots(t), ["customerid"], ["priority"], "observed_at"
    )
    o = t.orders
    return (
        o.join(
            hist,
            (hist.customerid == o.o_custkey)
            & (hist.valid_from <= o.o_orderdate)
            & (hist.valid_to.isNull() | (o.o_orderdate < hist.valid_to)),
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("customerid"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("priority").alias("effective_priority"),
            F.col("valid_from"),
        )
    )


CURRICULUM_SHARDS = 8


@query(
    "x_pipeline_curriculum_shards",
    oracle=f"""
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
  FROM documents
),
t AS (SELECT COUNT(*) AS n FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(((rnk - 1) * {CURRICULUM_SHARDS}) // n AS INT) AS shard
FROM r, t
""",
)
def x_pipeline_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered shard assignment: every document's EXACT global
    rank by (length, doc_id) and its equal-frequency shard -- the
    "train short-to-long" data-ordering step -- computed WITHOUT a global
    ranking window.  The scalable exact-ranking pattern: a per-length
    histogram (one aggregate), prefix sums over that SMALL relation (its
    size is the number of distinct lengths, bounded regardless of corpus
    size -- the one single-partition window, on purpose), broadcast back
    as per-length base ranks, then row_number only WITHIN each length
    partition.  rank = base + within-length position reproduces the
    global row_number exactly; shard = floor((rank-1)*S/N).  The DuckDB
    oracle states the same thing with one global window."""

    t = catalog.load(spark, sf_dir)
    docs = t.documents.select(F.col("doc_id").cast("long"), F.col("n_chars").cast("long"))
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    wpre = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    base = hist.select(
        "n_chars", F.coalesce(F.sum("c").over(wpre), F.lit(0)).alias("base")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy("n_chars").orderBy("doc_id")
    return (
        docs.join(F.broadcast(base), "n_chars")
        .withColumn("rnk", F.col("base") + F.row_number().over(win))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_chars",
            "rnk",
            F.expr(f"CAST(((rnk - 1) * {CURRICULUM_SHARDS}) div n AS INT)").alias(
                "shard"
            ),
        )
    )


DECON_SEM_THRESHOLD = 0.30  # max-cosine-vs-eval cut (NEARDUP_THRESHOLD - margin)


@query(
    "x_pipeline_decontaminate_semantic",
    oracle=f"""
WITH base AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM embeddings
),
ev AS (SELECT e FROM base WHERE bucket >= {TRAIN_PCT})
SELECT tr.vec_id,
       MAX(FLOOR((list_cosine_similarity(tr.e, ev.e)) * 1000000.0 + 0.5) / 1000000.0) AS max_cos_eval,
       MAX(FLOOR((list_cosine_similarity(tr.e, ev.e)) * 1000000.0 + 0.5) / 1000000.0)
         >= {DECON_SEM_THRESHOLD} AS contaminated
FROM base tr CROSS JOIN ev
WHERE tr.bucket < {TRAIN_PCT}
GROUP BY tr.vec_id
""",
)
def x_pipeline_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: flag every TRAIN vector whose cosine
    against ANY EVAL vector reaches the near-dup band (paraphrased benchmark
    answers that the n-gram decontaminator, x_pipeline_decontaminate, cannot
    see).  Same deterministic id-hash split as the n-gram twin (bucket >=
    TRAIN_PCT = eval).

    Scale shape: a production eval suite is fixed-size, so the eval side
    (vectors + norms) broadcasts and the train side is one embarrassingly-
    parallel scan -- per-row cost |eval| x dim, no shuffle until the
    per-vector max (map-side combined).  NO static broadcast hint, though:
    this entry's id-hash split makes the eval slice a constant FRACTION of
    a scaling relation, so strategy is left to AQE's runtime sizing (the
    registry-wide fact_broadcast_hints guard enforces exactly this
    discipline); cosines ride the engine-portable sequential-fold dot
    product (operators/similarity.dot), 6-dp quantized BEFORE the max so
    the aggregate compares equal across engines."""
    from ..operators.similarity import _norms

    t = catalog.load(spark, sf_dir)
    base = _norms(t.embeddings).withColumn("bucket", _bucket(F.col("vec_id")))
    ev = base.filter(F.col("bucket") >= TRAIN_PCT).select(
        F.col("e").alias("ev_e"), F.col("n").alias("ev_n")
    )
    train = base.filter(F.col("bucket") < TRAIN_PCT)
    # production kernel on the gate (the x_sim_cosine_neardup precedent:
    # blocked GEMM vs the fold-replay oracle, equal under the 6-dp rounding
    # -- pinned pairwise vs semantic_decontaminate at sf0.01/sf0.1 and by
    # the GEMM-margin tests); semantic_decontaminate below stays the
    # engine-portable exact-fold reference
    from ..operators.similarity import cosine_max_vs_set_blocked

    return cosine_max_vs_set_blocked(train, ev).select(
        "vec_id",
        "max_cos_eval",
        (F.col("max_cos_eval") >= F.lit(DECON_SEM_THRESHOLD)).alias("contaminated"),
    )


def semantic_decontaminate(train: DataFrame, ev: DataFrame) -> DataFrame:
    """Core of x_pipeline_decontaminate_semantic: `train` carries
    (vec_id, e, n) from operators/similarity._norms, `ev` carries the eval
    suite as (ev_e, ev_n).  Cost is |train| x |eval| x dim: linear in the
    corpus when the eval suite is fixed, the production shape.  The entry's
    hash split makes eval a constant fraction, so `scripts/probe.py --scale
    K` grows both sides and measures the quadratic worst case."""
    from ..operators.similarity import dot

    cos = dot(F.col("e"), F.col("ev_e")) / (F.col("n") * F.col("ev_n"))
    return (
        train.crossJoin(ev)
        .select("vec_id", fround(cos, 6).alias("c"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_cos_eval"))
        .select(
            "vec_id",
            "max_cos_eval",
            (F.col("max_cos_eval") >= F.lit(DECON_SEM_THRESHOLD)).alias("contaminated"),
        )
    )


@query(
    "x_pipeline_dataset_card",
    oracle=r"""
WITH d AS (
  SELECT source, lang,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
  FROM documents
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
       FLOOR((CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dup_rate,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM d GROUP BY source, lang
""",
)
def x_pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup every released corpus ships: per (source,
    lang) cell -- doc/token/char totals, unique-content count and
    within-cell duplicate rate (normalized fingerprint), token-length
    extremes.  ONE scan computes every signal (all measures are
    expressions of a single aggregate over a pruned 3-column projection);
    the only shuffle is the group-cell aggregate with map-side partials --
    the shape that summarizes a 100 TB corpus in one pass."""
    t = catalog.load(spark, sf_dir)
    d = t.documents.select(
        "source",
        "lang",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(
            F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
        ).alias("fp"),
    )
    cnt = F.count(F.lit(1))
    return d.groupBy("source", "lang").agg(
        cnt.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("fp").alias("n_unique"),
        fround(
            (cnt - F.count_distinct("fp")).cast("double") / cnt.cast("double"), 4
        ).alias("dup_rate"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


FUNNEL_DECON_GRAM = 8  # decontamination window width (PaLM used 8-grams)


def _curation_funnel_oracle() -> str:
    from ..operators.dedup import _SQL_TOKENS, dedup_clusters_cte

    return rf"""
WITH RECURSIVE base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,
         {_BUCKET_SQL} AS bucket
  FROM documents
),
s1 AS (SELECT doc_id, text, bucket FROM base WHERE lang = 'en'),
q AS (
  SELECT doc_id, text, bucket,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM s1
),
s2 AS (SELECT doc_id, text, bucket FROM q WHERE n_tokens >= 20 AND n_punct * 20 <= n_chars),
fp AS (
  SELECT doc_id, text, bucket,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
  FROM s2
),
canon AS (SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f),
s3 AS (SELECT fp.doc_id, fp.text, fp.bucket FROM fp JOIN canon ON fp.doc_id = canon.keep_id),
{dedup_clusters_cte(src="s3")},
s4 AS (
  SELECT s3.doc_id, s3.text, s3.bucket FROM s3
  LEFT JOIN clusters USING (doc_id)
  WHERE clusters.doc_id IS NULL OR clusters.keep
),
ev_toks AS (SELECT doc_id, {{TOKENS}} AS t FROM base WHERE bucket >= {TRAIN_PCT}),
ev_grams AS (
  SELECT DISTINCT md5(array_to_string(t[(u.pos + 1):(u.pos + {FUNNEL_DECON_GRAM})], ' ')) AS h
  FROM ev_toks, unnest(generate_series(0, len(t) - {FUNNEL_DECON_GRAM})) AS u(pos)
  WHERE len(t) >= {FUNNEL_DECON_GRAM}
),
tr_toks AS (SELECT doc_id, {{TOKENS}} AS t FROM s4 WHERE bucket < {TRAIN_PCT}),
tr_grams AS (
  SELECT doc_id, md5(array_to_string(t[(u.pos + 1):(u.pos + {FUNNEL_DECON_GRAM})], ' ')) AS h
  FROM tr_toks, unnest(generate_series(0, len(t) - {FUNNEL_DECON_GRAM})) AS u(pos)
  WHERE len(t) >= {FUNNEL_DECON_GRAM}
),
contaminated AS (SELECT DISTINCT doc_id FROM tr_grams JOIN ev_grams USING (h)),
s5 AS (
  SELECT t.doc_id FROM tr_toks t
  LEFT JOIN contaminated c USING (doc_id)
  WHERE c.doc_id IS NULL
)
SELECT * FROM (
  SELECT '1_lang' AS stage,
         (SELECT COUNT(*) FROM base) AS docs_in,
         (SELECT COUNT(*) FROM s1) AS docs_out
  UNION ALL
  SELECT '2_quality', (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
  UNION ALL
  SELECT '3_exact_dedup', (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
  UNION ALL
  SELECT '4_near_dedup', (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM s4)
  UNION ALL
  SELECT '5_decontaminate', (SELECT COUNT(*) FROM s4), (SELECT COUNT(*) FROM s5)
)
""".replace("{TOKENS}", _SQL_TOKENS)


@query("x_pipeline_curation_funnel", oracle=_curation_funnel_oracle())
def x_pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pass as one plan: language filter ->
    quality gate -> exact dedup -> LSH near-dedup (connected components,
    keep lowest id) -> eval-split decontamination, reporting per-stage
    attrition (stage, docs_in, docs_out) -- the funnel report every
    dataset release publishes next to its dataset card.  Every stage is
    the SAME operator the standalone entries gate (quality thresholds of
    x_pipeline_quality_gate, the LSH + label-propagation machinery of
    x_dedup_clusters over the stage-3 survivors, the gram-probe of
    x_pipeline_decontaminate's gram-probe shape), so the composition is
    bit-exact by construction; the five counts assemble as a union of
    1-row aggregates -- in-plan, nothing through the driver.

    Decontamination runs at FUNNEL_DECON_GRAM = 8-token windows (the
    PaLM-style overlap width) rather than the standalone entry's
    3-gram shingles: on this synthetic corpus's 31-word vocabulary,
    3-grams saturate (~every train doc shares one with eval, r8 measured
    420/439) and the stage reported nothing; at 8 tokens a hit means a
    real duplicated phrase and the stage-5 attrition is informative
    (4/439 at the gate SF) while production semantics stay honest."""
    from ..operators import dedup as dd

    t = catalog.load(spark, sf_dir)
    base = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text", "lang", _bucket(F.col("doc_id")).alias("bucket")
    )
    s1 = base.filter(F.col("lang") == "en").select("doc_id", "text", "bucket")
    n_tokens = F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long")
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]")).cast("long")
    # Stage frames feed BOTH the next stage and the attrition counts below;
    # left lazy, every count re-ran the whole funnel above it (the union of
    # ten 1-row aggregates held 74 Exchanges; 38 after).  Each surviving-docs
    # frame is materialized once — what a production curation pipeline does
    # by writing per-stage datasets.
    s2 = (
        s1.filter((n_tokens >= 20) & (n_punct * 20 <= F.length("text")))
        .select("doc_id", "text", "bucket")
        .transform(session.materialize, "funnel_quality")
    )
    fp = s2.withColumn(
        "f", F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
    )
    canon = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
    s3 = (
        fp.join(canon.select("doc_id"), "doc_id")
        .select("doc_id", "text", "bucket")
        .transform(session.materialize, "funnel_exact_dedup")
    )
    pairs = dd.minhash_lsh_pairs(s3.select("doc_id", "text"))
    strong = pairs.filter(F.col("jaccard") >= dd.DEDUP_CLUSTER_MIN_JACCARD)
    clusters = dd.dedup_clusters(strong)
    s4 = s3.join(
        clusters.filter(~F.col("keep")).select("doc_id"), "doc_id", "left_anti"
    ).transform(session.materialize, "funnel_near_dedup")
    K = FUNNEL_DECON_GRAM

    def windows(df: DataFrame) -> DataFrame:
        # overlapping K-token window hashes (the substring_spans idiom:
        # tokens materialized by a projection, windows via slice under
        # transform); docs shorter than K emit none in both engines.
        # The hash is engine-internal (contamination = sharing ANY window
        # with the eval split, decided identically by any collision-free
        # hash; the output carries only attrition counts), so the probe
        # shuffles xxhash64 longs instead of md5 hex strings (guide §2.3).
        toked = df.select("doc_id", dd.tokens(F.col("text")).alias("t")).filter(
            F.size("t") >= K
        )
        return toked.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), (F.size("t") - K).cast("int")),
                    lambda p: F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), p + 1, K))),
                )
            ).alias("h"),
        )

    ev_grams = (
        windows(base.filter(F.col("bucket") >= TRAIN_PCT).select("doc_id", "text"))
        .select("h")
        .distinct()
    )
    tr_grams = windows(
        s4.filter(F.col("bucket") < TRAIN_PCT).select("doc_id", "text")
    )
    contaminated = tr_grams.join(ev_grams, "h").select("doc_id").distinct()
    tr = s4.filter(F.col("bucket") < TRAIN_PCT).select("doc_id")
    s5 = tr.join(contaminated, "doc_id", "left_anti")

    def stage(name: str, df_in: DataFrame, df_out: DataFrame) -> DataFrame:
        a = df_in.agg(F.count(F.lit(1)).alias("docs_in"))
        b = df_out.agg(F.count(F.lit(1)).alias("docs_out"))
        return a.crossJoin(b).select(
            F.lit(name).alias("stage"), "docs_in", "docs_out"
        )

    return (
        stage("1_lang", base, s1)
        .unionByName(stage("2_quality", s1, s2))
        .unionByName(stage("3_exact_dedup", s2, s3))
        .unionByName(stage("4_near_dedup", s3, s4))
        .unionByName(stage("5_decontaminate", s4, s5))
    )


# ---------------------------------------------------------------------------
# DSIR: Data Selection via Importance Resampling (Xie et al., NeurIPS 2023).
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256   # hashed-bigram feature space (paper: 10k; scaled down)
DSIR_LANG = "en"     # target-domain sample = the en-labelled slice
DSIR_FRACTION = 10   # select top |raw|/10 (floor), min 16

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
big AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
),
model AS (
  SELECT bucket,
         SUM(CASE WHEN lang = '{DSIR_LANG}' THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN lang IS DISTINCT FROM '{DSIR_LANG}' THEN 1 ELSE 0 END) AS c_r
  FROM big GROUP BY 1
),
scal AS (SELECT SUM(c_t) AS t_t, SUM(c_r) AS t_r FROM model),
lp AS (
  SELECT bucket,
         CAST(FLOOR((ln((c_t + 1.0) / (t_t + {DSIR_BUCKETS}.0))
                    - ln((c_r + 1.0) / (t_r + {DSIR_BUCKETS}.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS delta_micro
  FROM model CROSS JOIN scal
),
scores AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         SUM(lp.delta_micro) AS logw
  FROM big b JOIN lp USING (bucket)
  WHERE b.lang IS DISTINCT FROM '{DSIR_LANG}'
  GROUP BY 1
),
raw AS (
  SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(s.logw, 0) AS BIGINT) AS logw_micro
  FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
  WHERE d.lang IS DISTINCT FROM '{DSIR_LANG}'
),
k AS (SELECT GREATEST(16, COUNT(*) // {DSIR_FRACTION}) AS k FROM raw)
SELECT doc_id, n_bigrams, logw_micro,
       row_number() OVER (ORDER BY logw_micro DESC, doc_id) <= (SELECT k FROM k)
         AS selected
FROM raw
"""


@query("x_pipeline_dsir", oracle=_DSIR_ORACLE)
def x_pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR -- Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023): score every RAW-pool document (lang != 'en') by its
    importance log-weight under hashed-bigram bag-of-words models of the
    target slice vs the raw pool, and select a top-|raw|/10 budget.

    What distinguishes this from x_text_moore_lewis: the feature space is
    a FIXED-SIZE hashed bigram table (256 buckets here, 10k in the paper),
    not the open vocabulary -- model size is constant no matter the corpus,
    which is what lets the two n-gram models broadcast at 100 TB.  Both
    models are add-one smoothed over the bucket table; per-bucket
    delta = ln p_target - ln p_raw quantizes to integer micro-nats BEFORE
    the per-doc sum (partition-order independent; the repo's float
    discipline), and the paper's Gumbel-noised sampling is replaced by the
    deterministic top-k of the same weights (tie-break doc_id) so the
    selection replays bit-identically in both engines.

    Scale shape: one grouped aggregate over hashed buckets builds BOTH
    models (map-side combined, 256 rows out); scoring is a broadcast join
    of that 256-row table onto the bigram stream + one per-doc aggregate.
    The top-k selection uses sort-limit (TakeOrderedAndProject: per-
    partition top-k, driver merges k rows); at a 100 TB raw pool you would
    swap the driver merge for the two-pass threshold search on the weight
    histogram -- the budget fraction, not the mechanism, is the parameter
    that matters."""
    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("tk"),
    )
    big = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> concat(x, ' ', tk[i + 1]))"
            )
        ).alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("bg")), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    # the md5-bucket bigram stream has TWO full-pass consumers (model
    # aggregate, then scoring against the broadcast model); checkpoint the
    # skinny (doc_id, lang, bucket) rows so the per-bigram md5 runs once,
    # not once per consumer (100x probe: 172 s -> the hash was ~half).  At
    # 100 TB the same move is a scratch-table write of the ~17-byte rows.
    big = session.materialize(big, "dsir_bigrams", eager=False)
    # null-safe target test: NULL lang is raw-pool on BOTH sides (the oracle
    # uses IS DISTINCT FROM) -- a plain != would silently DROP NULL-lang rows
    # from the scoring/raw filters while the model's otherwise(1) counted them
    is_t = F.col("lang").eqNullSafe(F.lit(DSIR_LANG))
    model = big.groupBy("bucket").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("c_r"),
    )
    scal = model.agg(F.sum("c_t").alias("t_t"), F.sum("c_r").alias("t_r"))
    lp = model.crossJoin(F.broadcast(scal)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("c_t") + 1.0) / (F.col("t_t") + float(DSIR_BUCKETS)))
                - F.log((F.col("c_r") + 1.0) / (F.col("t_r") + float(DSIR_BUCKETS)))
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("delta_micro"),
    )
    scores = (
        big.filter(~is_t)
        .join(F.broadcast(lp), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("delta_micro").alias("logw"),
        )
    )
    raw = (
        t.documents.filter(~F.col("lang").eqNullSafe(F.lit(DSIR_LANG)))
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("logw", F.lit(0)).cast("long").alias("logw_micro"),
        )
    )
    # raw (doc-grain, skinny) feeds three consumers: the budget count, the
    # top-k, and the final join -- checkpoint so the scoring join runs once
    raw = session.materialize(raw, "dsir_scores", eager=False)
    n_raw = raw.count()
    k = max(16, n_raw // DSIR_FRACTION)
    top = (
        raw.orderBy(F.col("logw_micro").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", F.lit(True).alias("sel"))
    )
    return raw.join(F.broadcast(top), "doc_id", "left").select(
        "doc_id",
        "n_bigrams",
        "logw_micro",
        F.coalesce("sel", F.lit(False)).alias("selected"),
    )


SKEW_TOP = 10


@query(
    "x_pipeline_skew_report",
    oracle=f"""
WITH freq AS (
  SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_key_rows
  FROM freq
),
top AS (
  SELECT key, cnt FROM freq ORDER BY cnt DESC, key LIMIT {SKEW_TOP}
),
topagg AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top_rows FROM top)
SELECT total_rows, n_keys, max_key_rows,
       FLOOR((CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
             / CAST(total_rows AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS skew_factor,
       FLOOR((CAST(top_rows AS DOUBLE) / CAST(total_rows AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
         AS top{SKEW_TOP}_share
FROM stats CROSS JOIN topagg
""",
)
def x_pipeline_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the decide-before-you-salt primitive that
    pairs with x_pipeline_salted_hot_keys.  skew_factor = hottest key's
    rows relative to the mean key (1.0 = uniform; AQE's skew-join kicks in
    around 5x median partition size), plus the share of rows owned by the
    top-{SKEW_TOP} keys.  One map-side-combined key aggregate; the top-k
    is a sort-limit over key-grain rows (never row-grain); two 1-row
    relations cross-join into the report.  At 100 TB this is the cheap
    pre-flight that tells you whether the fact-fact join needs salting,
    AQE skew handling, or nothing."""
    t = catalog.load(spark, sf_dir)
    freq = t.orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = freq.agg(
        F.sum("cnt").cast("long").alias("total_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("cnt").cast("long").alias("max_key_rows"),
    )
    topagg = (
        freq.orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(SKEW_TOP)
        .agg(F.sum("cnt").cast("long").alias("top_rows"))
    )
    return (
        stats.crossJoin(F.broadcast(topagg))
        .select(
            "total_rows",
            "n_keys",
            "max_key_rows",
            fround(
                F.col("max_key_rows").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total_rows").cast("double"),
                4,
            ).alias("skew_factor"),
            fround(
                F.col("top_rows").cast("double") / F.col("total_rows").cast("double"),
                4,
            ).alias(f"top{SKEW_TOP}_share"),
        )
    )


RESERVOIR_K = 100

_RESERVOIR_SQL = f"""
WITH keyed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         CAST(n_chars AS BIGINT) AS weight,
         CAST(FLOOR(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) + 1.0) / 4294967296.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS lnu_micro
  FROM documents
),
ranked AS (
  SELECT doc_id, source, weight,
         CAST(lnu_micro AS DOUBLE) / CAST(weight AS DOUBLE) AS priority,
         ROW_NUMBER() OVER (
           ORDER BY CAST(lnu_micro AS DOUBLE) / CAST(weight AS DOUBLE) DESC,
                    doc_id ASC) AS rank
  FROM keyed
)
SELECT doc_id, source, weight,
       FLOOR(priority * 1000000.0 + 0.5) / 1000000.0 AS priority,
       rank
FROM ranked WHERE rank <= {RESERVOIR_K}
"""


@query("x_pipeline_reservoir_sample", oracle=_RESERVOIR_SQL)
def x_pipeline_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-Res key): each document draws a deterministic
    md5-uniform u and is ranked by u^(1/w) -- equivalently ln(u)/w, the
    form used here -- and the global top-k IS an exact-size weighted
    sample without replacement.  This is the primitive behind "sample
    exactly k documents with probability proportional to length/quality"
    in data-mixing pipelines, where x_pipeline_weighted_sample's
    Bernoulli acceptance can only target an EXPECTED size.  Deterministic
    on any cluster, partitioning, or retry: u comes from the shared
    id-hash recipe (_bucket's md5 prefix, +1 so u > 0), not rand().

    Float discipline: ONE ln per row, quantized to integer micro-nats
    (the unigram_logprob pattern); the ranking key is then a single
    correctly-rounded division of two int64s -- identical in both engines
    -- and the reported priority re-quantizes at 1e-6.  Scale shape: the
    key is row-local in the scan stage and ORDER BY + LIMIT k compiles to
    TakeOrderedAndProject (per-partition k-heaps + one k-row merge, never
    a global sort); the k-row ranking window runs on the bounded result."""
    from pyspark.sql.window import Window

    t = catalog.load(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    lnu_micro = F.floor(
        F.log((h.cast("double") + F.lit(1.0)) / F.lit(4294967296.0))
        * 1000000.0
        + 0.5
    ).cast("long")
    keyed = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.col("n_chars").cast("long").alias("weight"),
        lnu_micro.alias("lnu_micro"),
    ).withColumn(
        "priority", F.col("lnu_micro").cast("double") / F.col("weight").cast("double")
    )
    top = keyed.orderBy(F.col("priority").desc(), F.col("doc_id").asc()).limit(
        RESERVOIR_K
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id",
        "source",
        "weight",
        fround(F.col("priority"), 6).alias("priority"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


PACK_L = 2048        # context-window length in tokens
PACK_BUCKETS = 32    # ordered id-range buckets for the two-phase prefix sum

_PACK_ORACLE = f"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM tok
)
SELECT doc_id, n_tokens, start_tok,
       start_tok // {PACK_L} AS first_chunk,
       CASE WHEN n_tokens > 0
            THEN (start_tok + n_tokens - 1) // {PACK_L}
            ELSE start_tok // {PACK_L} END AS last_chunk,
       CASE WHEN n_tokens > 0
            THEN (start_tok + n_tokens - 1) // {PACK_L} - start_tok // {PACK_L} + 1
            ELSE 0 END AS n_chunks,
       start_tok % {PACK_L} AS chunk_offset
FROM c
"""


@query("x_pipeline_sequence_packing", oracle=_PACK_ORACLE)
def x_pipeline_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing -- the concat-then-chunk context-window layout LLM
    pretraining uses (documents concatenated in a deterministic order,
    the token stream cut into fixed {PACK_L}-token windows): per document,
    its global token offset, the first/last context window it lands in,
    how many windows it spans, and its offset inside its first window --
    the layout table a packing dataloader reads.

    The operator is a GLOBAL cumulative sum over doc-grain rows, which is
    exactly the thing a naive single window cannot do at 100 TB (one
    unpartitioned WindowExec = every row through one task).  This runs
    the textbook TWO-PHASE distributed prefix sum instead: (1) documents
    bucket into {PACK_BUCKETS} ORDERED doc_id ranges whose boundaries are
    the doc_id QUANTILES from one exact interpolated-percentile aggregate
    (the RFM/ccnet_buckets discipline: a 1-row bounded collect) -- rank
    boundaries, not value-range boundaries, so a skewed id space (99% of
    ids in one range after an upstream filter) still yields ~equal-count
    buckets instead of collapsing phase 3 toward the single-partition
    window this entry exists to avoid (VERDICT r13); (2) one map-side
    aggregate computes per-bucket token totals, and the driver folds the
    <= {PACK_BUCKETS}-row result into per-bucket prefix OFFSETS (a
    bounded collect, the kcenter/bloom discipline); (3) each bucket's
    rows get bucket-local running sums under a bucket-PARTITIONED window
    plus their bucket's broadcast offset.  No global sort, no
    single-partition window; the per-bucket windows run in parallel and
    the cross-bucket dependency is {PACK_BUCKETS} integers through the
    driver.  The DuckDB oracle is the plain global-window formulation --
    the semantics -- which the bucketed decomposition must reproduce
    exactly (bucketing affects only the decomposition, never the values),
    empty-document edge included (n_chunks = 0, first = last = the window
    the boundary falls in).

    Token counts use the BM25 lexicon ([a-z0-9]+ runs, = the dl
    definition), so the packing table composes with the retrieval index
    entries over the same corpus."""
    t = catalog.load(spark, sf_dir)
    tok = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(dedup_ops.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return _pack_layout(spark, tok)


def _pack_layout(spark: SparkSession, tok: DataFrame) -> DataFrame:
    """The two-phase distributed prefix sum over tok(doc_id, n_tokens) --
    factored out of x_pipeline_sequence_packing so the skewed-id probe
    (tests/test_selection_ops.py) can drive the decomposition on a
    deliberately pathological id space; see the entry docstring for the
    phase-by-phase design."""
    # phase 1: ordered id-range buckets with QUANTILE boundaries (one
    # exact interpolated-percentile aggregate = a 1-row bounded collect);
    # bucket = count of boundaries strictly below doc_id, monotone in
    # doc_id, so buckets remain ordered id-ranges whatever the id density
    # -- duplicate boundaries (heavy skew) just leave some buckets empty
    qs = [i / PACK_BUCKETS for i in range(1, PACK_BUCKETS)]
    bounds = tok.agg(
        F.percentile(F.col("doc_id").cast("double"), F.lit(qs)).alias("q")
    ).first()["q"] or []
    bexpr = F.lit(0)
    for bb in bounds:
        bexpr = bexpr + F.when(
            F.col("doc_id").cast("double") > F.lit(float(bb)), 1
        ).otherwise(0)
    b = tok.withColumn("_b", bexpr.cast("long"))
    # phase 2: per-bucket totals -> driver-side prefix offsets
    # (<= PACK_BUCKETS rows, bounded by construction)
    totals = sorted(
        (r["_b"], r["_t"])
        for r in b.groupBy("_b").agg(F.sum("n_tokens").alias("_t")).collect()
    )
    offsets, acc = [], 0
    for bb, s in totals:
        offsets.append((bb, acc))
        acc += s
    poff = spark.createDataFrame(offsets, "_b long, _boff long")
    # phase 3: bucket-partitioned running sums + the broadcast offset
    w = Window.partitionBy("_b").orderBy("doc_id")
    c = (
        b.join(F.broadcast(poff), "_b")
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn(
            "start_tok", F.col("_boff") + F.col("_cum") - F.col("n_tokens")
        )
    )
    first_chunk = F.expr(f"start_tok DIV {PACK_L}")
    last_chunk = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(start_tok + n_tokens - 1) DIV {PACK_L}"),
    ).otherwise(first_chunk)
    return c.select(
        "doc_id",
        "n_tokens",
        "start_tok",
        first_chunk.alias("first_chunk"),
        last_chunk.alias("last_chunk"),
        F.when(F.col("n_tokens") > 0, last_chunk - first_chunk + 1)
        .otherwise(F.lit(0)).cast("long").alias("n_chunks"),
        F.pmod(F.col("start_tok"), F.lit(PACK_L)).cast("long").alias("chunk_offset"),
    )
