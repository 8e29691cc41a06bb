"""Extension: text analysis over the `documents` table (training-data
pipeline operators -- BASELINE.json north star; not part of reference parity).

All hot-path expressions are JVM-side built-ins (regexp_count / md5 /
length) -- no Python UDFs -- so they whole-stage-codegen and scale linearly
with input splits at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog, session
from ..functions import floor_div, fround, ratio, sql_ratio
from ..operators import textlang
from ..operators.dedup import TOKEN_RE, tokens
from . import query


@query(
    "x_text_token_stats",
    oracle=r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS n_punct
FROM documents
""",
)
def x_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + punctuation counting per document."""
    t = catalog.load(spark, sf_dir)
    return t.documents.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]")).cast("long").alias("n_punct"),
    )


@query(
    "x_text_quality",
    oracle=r"""
SELECT doc_id,
       FLOOR((CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
             / CAST(greatest(length(text), 1) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       FLOOR((CAST(len(regexp_extract_all(text, '\d')) AS DOUBLE)
             / CAST(greatest(length(text), 1) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS digit_ratio,
       FLOOR((CAST(length(text) AS DOUBLE)
             / CAST(greatest(len(regexp_extract_all(text, '\S+')), 1) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS chars_per_token
FROM documents
""",
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score signals: punctuation/digit density, mean token length."""
    t = catalog.load(spark, sf_dir)
    n_chars = F.greatest(F.length("text"), F.lit(1))
    n_tokens = F.greatest(F.regexp_count(F.col("text"), F.lit(r"\S+")), F.lit(1))
    return t.documents.select(
        "doc_id",
        ratio(F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]")), n_chars).alias("punct_ratio"),
        ratio(F.regexp_count(F.col("text"), F.lit(r"\d")), n_chars).alias("digit_ratio"),
        ratio(F.length("text"), n_tokens).alias("chars_per_token"),
    )


@query(
    "x_text_fingerprint",
    oracle=r"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
FROM documents
""",
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case-normalized md5 document fingerprint (exact near-dup
    key; basis of x_dedup_normalized)."""
    t = catalog.load(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return t.documents.select("doc_id", F.md5(norm).alias("fingerprint"))


@query("x_text_lang_id", oracle=textlang.lang_id_sql())
def x_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-profile scoring (JVM regexp_count per profile,
    argmax with fixed tie-break) -- operators/textlang.py."""
    t = catalog.load(spark, sf_dir)
    return textlang.lang_id_df(t.documents)


@query(
    "x_text_tfidf_top5",
    oracle=r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df_docs FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
         FLOOR((tf.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df_docs AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df_docs, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= 5
""",
)
def x_text_tfidf_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per document.  tf and df are exact integers; the
    single floating step (tf * ln(N/df), rounded 6dp) agrees across engines,
    and the per-doc top-k is a row_number window with a term tie-break (the
    distributed per-group top-k idiom -- no global sort)."""
    from pyspark.sql import Window

    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_docs = (
        toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    )
    n_docs = t.documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_docs, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df_docs",
            fround(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df_docs").cast("double")),
                6, ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "x_text_vocab_top50",
    oracle="""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
)
SELECT term, COUNT(*) AS tf, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs
FROM toks GROUP BY term
ORDER BY tf DESC, term LIMIT 50
""",
)
def x_text_vocab_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 terms by total frequency with document
    frequency (the vocab-building pass of a tokenizer-training pipeline).
    Explode -> one hash aggregate; term cardinality (vocab), not corpus
    size, bounds the shuffle, and the top-50 is TakeOrderedAndProject."""
    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct(F.col("doc_id")).alias("df_docs"),
        )
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(50)
    )


@query(
    "x_text_bigram_top50",
    oracle="""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens FROM documents
), bi AS (
  SELECT unnest(list_transform(range(1, greatest(len(tokens), 1)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n FROM bi GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 50
""",
)
def x_text_bigram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent token pairs (LM n-gram statistics).  The bigram list
    is built row-level as zip_with(slice, slice) -- NOT transform over an
    index sequence, which CollapseProject would rewrite into a per-element
    re-tokenization (engine lesson #1) -- then exploded into one counting
    aggregate."""
    t = catalog.load(spark, sf_dir)
    toks = tokens(F.col("text"))
    docs = t.documents.select(toks.alias("tokens"))
    n1 = F.greatest(F.size("tokens") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("tokens", 1, n1),
        F.slice(F.col("tokens"), 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(50)
    )


@query(
    "x_text_train_test_split",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
            THEN 'train' ELSE 'test' END AS split
FROM documents
""",
)
def x_text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by content-independent id hash
    (md5 mod 100): reproducible across engines, machines, and re-runs --
    the pipeline-split primitive rand()-based sampling cannot give (task
    retries would resample)."""
    t = catalog.load(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long") % 100
    return t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(bucket < 90, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )


@query(
    "x_text_bpe_pretokens",
    oracle=r"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pretokens,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_whitespace_tokens
FROM documents
""",
)
def x_text_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization count (letter runs | single digits |
    punctuation marks -- the GPT-style pre-token shape) next to the
    whitespace count, for tokens-per-document budgeting."""
    t = catalog.load(spark, sf_dir)
    return t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
        .cast("long")
        .alias("n_pretokens"),
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_whitespace_tokens"),
    )


@query(
    "x_text_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens
  FROM documents
), bi AS (
  SELECT doc_id, tokens,
         list_transform(range(1, greatest(len(tokens), 1)),
                        i -> tokens[i] || ' ' || tokens[i+1]) AS bigrams
  FROM toks
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct_tokens,
       CASE WHEN len(tokens) = 0 THEN 0.0
            ELSE FLOOR((1 - CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens)) * 10000.0 + 0.5) / 10000.0
       END AS dup_token_frac,
       CASE WHEN len(bigrams) = 0 THEN 0.0
            ELSE FLOOR((1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)) * 10000.0 + 0.5) / 10000.0
       END AS dup_bigram_frac
FROM bi
""",
)
def x_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the C4/Gopher-style quality
    rules): duplicate-token fraction and duplicate-bigram fraction.  All
    row-level JVM array expressions (regexp tokenize -> array_distinct /
    zip_with-of-slices bigrams) -- one narrow scan, no shuffle, no Python;
    the shape that holds at 100 TB because each row is independent."""
    t = catalog.load(spark, sf_dir)
    toks = tokens(F.col("text"))
    docs = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), toks.alias("tokens")
    )
    n1 = F.greatest(F.size("tokens") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("tokens", 1, n1),
        F.slice(F.col("tokens"), 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    n_tok = F.size("tokens")
    n_dis = F.size(F.array_distinct("tokens"))
    n_bi = F.size(bigrams)
    n_bi_dis = F.size(F.array_distinct(bigrams))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        n_dis.cast("long").alias("n_distinct_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(fround(1 - n_dis.cast("double") / n_tok, 4))
        .alias("dup_token_frac"),
        F.when(n_bi == 0, F.lit(0.0))
        .otherwise(fround(1 - n_bi_dis.cast("double") / n_bi, 4))
        .alias("dup_bigram_frac"),
    )


CHUNK_TOKENS = 64   # chunk size in whitespace tokens
CHUNK_STRIDE = 48   # overlap = CHUNK_TOKENS - CHUNK_STRIDE = 16 tokens


@query(
    "x_text_chunk_overlap",
    oracle=rf"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents
),
s AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS start
  FROM d WHERE len(t) > 0
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       array_to_string(t[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text,
       CAST(len(t[start + 1 : start + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens
FROM s
""",
)
def x_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap (context-window prep
    for training/RAG): fixed-size token chunks advancing by a stride, so
    consecutive chunks share CHUNK_TOKENS - CHUNK_STRIDE tokens of context.
    Pure per-row array ops (split -> sequence of starts -> explode ->
    slice) -- no shuffle at all, embarrassingly parallel over scan splits;
    output rows ~ tokens/stride per document."""
    t = catalog.load(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    return (
        t.documents.select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(CHUNK_STRIDE))
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice("t", F.col("start") + 1, F.lit(CHUNK_TOKENS))
            ).alias("chunk_text"),
            F.size(F.slice("t", F.col("start") + 1, F.lit(CHUNK_TOKENS)))
            .cast("long")
            .alias("n_tokens"),
        )
    )


# PII patterns shared by the Spark and DuckDB sides: restricted to the
# RE2-and-Java-regex COMMON subset (no lookaround, no backrefs) so both
# engines match identically.  The corpus is letters-and-spaces only, so the
# injected markers (derived deterministically from doc_id on BOTH engines)
# are the sole matches -- giving the redactor a real, verifiable signal.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE = r"\+\d[\d-]{7,}"


@query(
    "x_text_pii_redact",
    oracle=rf"""
WITH dirty AS (
  SELECT doc_id,
         'user' || doc_id || '@mail.example.com ' || substr(text, 1, 120)
         || ' ip 10.1.' || (doc_id % 256) || '.7 call +1555-0' || (doc_id % 100000)
         AS payload
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(payload, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(payload, '{PII_IPV4}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(payload, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       substr(
         regexp_replace(
           regexp_replace(
             regexp_replace(payload, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g'),
         1, 160) AS redacted_prefix
FROM dirty
""",
)
def x_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: match emails / IPv4s / phone
    numbers, count them, and replace with typed placeholder tokens.

    All JVM-side (regexp_count / regexp_replace chain inside one codegen
    stage) -- a pure map over input splits, no shuffle, embarrassingly
    parallel at 100 TB.  The PII occurrences are injected deterministically
    from doc_id (the synthetic corpus carries none), so the oracle verifies
    actual redactions, not a no-op."""
    t = catalog.load(spark, sf_dir)
    payload = F.concat(
        F.lit("user"), F.col("doc_id"), F.lit("@mail.example.com "),
        F.substring("text", 1, 120),
        F.lit(" ip 10.1."), F.col("doc_id") % 256, F.lit(".7 call +1555-0"),
        F.col("doc_id") % 100000,
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(payload, PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>"),
        PII_PHONE, "<PHONE>")
    return t.documents.select(
        "doc_id",
        F.regexp_count(payload, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(payload, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(payload, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.substring(redacted, 1, 160).alias("redacted_prefix"),
    )


BLOCK_TOKENS = 16  # span size for intra-corpus block dedup


@query(
    "x_text_block_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
),
spans AS (
  SELECT doc_id, tk,
         unnest(generate_series(
           0, CAST(ceil(len(tk) / {BLOCK_TOKENS}.0) AS BIGINT) - 1)) AS block_idx
  FROM toks
),
blocks AS (
  SELECT doc_id, block_idx,
         array_to_string(
           tk[(block_idx*{BLOCK_TOKENS}+1):(block_idx*{BLOCK_TOKENS}+{BLOCK_TOKENS})],
           ' ') AS block
  FROM spans
),
ranked AS (
  SELECT doc_id, block_idx,
         row_number() OVER (PARTITION BY md5(block)
                            ORDER BY doc_id, block_idx) AS rn
  FROM blocks
)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupe_blocks,
       {{ratio}} AS keep_ratio
FROM ranked GROUP BY doc_id
""".format(ratio=sql_ratio("SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)", "COUNT(*)")),
)
def x_text_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus span deduplication (the C4/Dolma pattern): documents
    split into 16-token blocks, only the globally FIRST occurrence of
    each block survives (total order: doc_id, position), and each document
    reports its surviving fraction.

    Scale shape: blocks explode to |tokens|/16 skinny (hash, doc, pos)
    rows; first-occurrence selection is one shuffle on the block hash with
    a rank-1 window (per-task state bounded by one hash's occurrence
    count); the per-doc rollup re-shuffles aggregate-sized rows only.  No
    strings cross the wire after hashing."""
    from pyspark.sql.window import Window

    t = catalog.load(spark, sf_dir)
    tk = F.split(F.trim(F.col("text")), " ")
    nblk = F.ceil(F.size(tk) / F.lit(float(BLOCK_TOKENS))).cast("int")
    blocks = t.documents.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(tk, i * BLOCK_TOKENS + 1, BLOCK_TOKENS)
                ),
            )
        ).alias("block_idx", "block"),
    )
    w = Window.partitionBy(F.md5("block")).orderBy("doc_id", "block_idx")
    ranked = blocks.select(
        "doc_id", "block_idx", F.row_number().over(w).alias("rn")
    )
    keep = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dupe_blocks"),
        ratio(keep, F.count(F.lit(1))).alias("keep_ratio"),
    )


@query(
    "x_text_udtf_runs",
    oracle="""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS token FROM toks
),
isl AS (
  SELECT doc_id, pos, token,
         pos - row_number() OVER (PARTITION BY doc_id, token ORDER BY pos) AS grp
  FROM pos
),
runs AS (
  SELECT doc_id, MIN(pos) AS run_start, token, COUNT(*) AS run_len
  FROM isl GROUP BY doc_id, token, grp
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(run_start AS INT) AS run_start,
       token, CAST(run_len AS INT) AS run_len
FROM runs WHERE run_len >= 2
""",
)
def x_text_udtf_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4, Arrow-optimized): per-document run-length
    extraction of consecutively repeated tokens -- the one imperative
    row-generator in the engine, completing the SURVEY SSI UDF surface
    (pandas UDFs cover the vectorized side).  The UDTF streams each doc
    once executor-side and yields only len>=2 runs; the DuckDB oracle
    derives identical runs declaratively (gaps-and-islands over token
    positions).  Everything else text-side stays JVM expressions -- this
    entry exists to pin the UDTF lane (LATERAL correlated table function),
    not to replace codegen paths."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="run_start int, token string, run_len int", useArrow=True)
    class TokenRuns:
        def eval(self, text: str):
            toks = re.findall(TOKEN_RE, (text or "").lower())
            i, n = 0, len(toks)
            while i < n:
                j = i
                while j < n and toks[j] == toks[i]:
                    j += 1
                if j - i >= 2:
                    yield (i + 1, toks[i], j - i)
                i = j

    spark.udtf.register("pdwx_token_runs", TokenRuns)
    t = catalog.load(spark, sf_dir)
    t.documents.createOrReplaceTempView("udtf_docs")
    return spark.sql("""
      SELECT d.doc_id, s.run_start, s.token, s.run_len
      FROM udtf_docs d, LATERAL pdwx_token_runs(d.text) s
    """)


@query(
    "x_text_unigram_logprob",
    oracle=r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tc AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM tc),
lp AS (
  SELECT term,
         CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
  FROM tc CROSS JOIN tot
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lp.lp_micro) AS BIGINT) AS sum_logprob_micro,
       FLOOR((CAST(-SUM(lp.lp_micro) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_neg_logprob
FROM toks t JOIN lp USING (term)
GROUP BY t.doc_id
""",
)
def x_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity-proxy quality score (the CCNet filter shape:
    there a KenLM 5-gram, here the corpus's own unigram model): p(term) =
    count/total over the whole corpus, each document scored by its mean
    negative log-likelihood -- low = head-heavy boilerplate, high = rare-
    token noise; pipelines keep the middle band.

    Float discipline: the ONE cross-engine float op per term is
    ln(cnt/total), immediately quantized to integer MICRO-NATS (floor
    half-up at 1e-6) -- per-doc summation then runs in exact int64, so the
    result is independent of Spark's partition-order summation (a raw
    double SUM would hash-mismatch the oracle).  Scale shape: the term
    model is one groupBy (map-side combined) over the token explosion; the
    scalar total broadcasts; docs re-join the model on term (shuffle keyed
    by term, never by doc pair) and aggregate once per doc."""
    t = catalog.load(spark, sf_dir)
    return unigram_logprob(t.documents)


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """Core of x_text_unigram_logprob over any (doc_id, text) relation
    (probe it on K-fold multiplied data with `scripts/probe.py --scale K`)."""
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = tc.agg(F.sum("cnt").alias("total"))
    lp = tc.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("lp_micro"),
    )
    return (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").cast("long").alias("sum_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_logprob_micro",
            fround(
                (-F.col("sum_logprob_micro")).cast("double")
                / 1000000.0
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("avg_neg_logprob"),
        )
    )


_SB_ORACLE = r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
bg AS (
  SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
),
tr_uni AS (
  SELECT u.term, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) u
  WHERE u.doc_id % 2 = 0 GROUP BY 1
),
tr_tot AS (SELECT SUM(cnt) AS total FROM tr_uni),
tr_bg AS (
  SELECT prev, cur, COUNT(*) AS cnt FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2
),
ev AS (SELECT doc_id, prev, cur FROM bg WHERE doc_id % 2 = 1),
scores AS (
  SELECT d.prev, d.cur,
         CAST(FLOOR(CASE
           WHEN b.cnt IS NOT NULL THEN
             ln(CAST(b.cnt AS DOUBLE) / CAST(up.cnt AS DOUBLE))
           ELSE
             ln(0.4 * CAST(GREATEST(COALESCE(uc.cnt, 0), 1) AS DOUBLE)
                / CAST(t.total AS DOUBLE))
         END * 1000000.0 + 0.5) AS BIGINT) AS lp_micro,
         CASE WHEN b.cnt IS NULL THEN 1 ELSE 0 END AS backed_off
  FROM (SELECT DISTINCT prev, cur FROM ev) d
  LEFT JOIN tr_bg b ON d.prev = b.prev AND d.cur = b.cur
  LEFT JOIN tr_uni up ON d.prev = up.term
  LEFT JOIN tr_uni uc ON d.cur = uc.term
  CROSS JOIN tr_tot t
)
SELECT ev.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s.backed_off) AS BIGINT) AS n_backoff,
       CAST(SUM(s.lp_micro) AS BIGINT) AS sum_logprob_micro,
       FLOOR((CAST(-SUM(s.lp_micro) AS DOUBLE) / 1000000.0
             / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
         AS avg_neg_logprob
FROM ev JOIN scores s ON ev.prev = s.prev AND ev.cur = s.cur
GROUP BY ev.doc_id
"""


@query("x_text_stupid_backoff", oracle=_SB_ORACLE)
def x_text_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff bigram LM scoring (Brants et al., EMNLP 2007 -- the
    'Large Language Models in Machine Translation' distributed-LM recipe):
    a bigram model trained on the even-doc_id half of the corpus scores
    every odd-doc_id document;
    S(cur|prev) = count(prev cur)/count(prev) when the bigram was seen in
    training, else alpha * count(cur)/total with alpha = 0.4 (unseen
    unigrams floor at count 1).  Brants' point -- kept here -- is that the
    scores are raw count RATIOS, no discounting or normalization, which is
    what makes the model embarrassingly distributable: training is two
    counting aggregates, scoring is a join.

    The held-out split is what makes backoff REAL: scoring a corpus
    against itself never backs off (every bigram has count >= 1); n_backoff
    reports how often the eval half actually fell through to the unigram.

    Float discipline (the unigram_logprob pattern): each DISTINCT
    (prev, cur) computes one ln, immediately quantized to integer
    micro-nats; per-doc summation is exact int64, partition-order
    independent.  Scale shape: bigrams build map-side from the token array
    (zero shuffle), both model aggregates map-side combine, the scalar
    total broadcasts, and scoring joins eval bigrams to the model keyed by
    (prev, cur) -- never by doc pair."""
    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("tk"),
    )
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
                " (x, i) -> named_struct('prev', x, 'cur', tk[i + 1]))"
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    is_train = F.col("doc_id") % 2 == 0
    tr_uni = (
        toks.filter(is_train)
        .select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tr_tot = tr_uni.agg(F.sum("cnt").alias("total"))
    tr_bg = (
        bg.filter(is_train)
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("bg_cnt"))
    )
    ev = bg.filter(~is_train)
    scores = (
        ev.select("prev", "cur")
        .distinct()
        .join(tr_bg, ["prev", "cur"], "left")
        .join(
            tr_uni.select(F.col("term").alias("prev"), F.col("cnt").alias("up_cnt")),
            "prev",
            "left",
        )
        .join(
            tr_uni.select(F.col("term").alias("cur"), F.col("cnt").alias("uc_cnt")),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(tr_tot))
        .select(
            "prev",
            "cur",
            F.floor(
                F.when(
                    F.col("bg_cnt").isNotNull(),
                    F.log(F.col("bg_cnt").cast("double") / F.col("up_cnt").cast("double")),
                ).otherwise(
                    F.log(
                        F.lit(0.4)
                        * F.greatest(F.coalesce("uc_cnt", F.lit(0)), F.lit(1)).cast("double")
                        / F.col("total").cast("double")
                    )
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("lp_micro"),
            F.when(F.col("bg_cnt").isNull(), 1).otherwise(0).alias("backed_off"),
        )
    )
    return (
        ev.join(scores, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("backed_off").cast("long").alias("n_backoff"),
            F.sum("lp_micro").cast("long").alias("sum_logprob_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_backoff",
            "sum_logprob_micro",
            fround(
                (-F.col("sum_logprob_micro")).cast("double")
                / 1000000.0
                / F.col("n_bigrams").cast("double"),
                4,
            ).alias("avg_neg_logprob"),
        )
    )


BPE_ROUNDS = 4


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    """DuckDB replay of the full BPE training loop (every round's pair
    counts, argmax and merge re-derived in SQL -- the kmeans-oracle
    discipline for the third iterative algorithm in the repo)."""
    ctes = [
        """words0 AS (
  SELECT '|' || array_to_string(list_transform(range(1, len(w) + 1),
                                               i -> substr(w, CAST(i AS INT), 1)), '||') || '|' AS sym,
         freq
  FROM (SELECT w, COUNT(*) AS freq FROM (
          SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
        GROUP BY w)
)"""
    ]
    selects = []
    for r in range(1, rounds + 1):
        prev = f"words{r - 1}"
        ctes.append(f"""arr{r} AS (
  SELECT freq, string_split(substr(sym, 2, len(sym) - 2), '||') AS s FROM {prev}
),
pairs{r} AS (
  SELECT p.a, p.b, SUM(freq) AS cnt FROM (
    SELECT freq, s[i] AS a, s[i + 1] AS b
    FROM arr{r}, unnest(range(1, len(s))) AS u(i)
  ) p GROUP BY 1, 2
),
best{r} AS (
  SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
words{r} AS (
  SELECT replace(sym, '|' || a || '||' || b || '|', '|' || a || b || '|') AS sym, freq
  FROM {prev}, best{r}
),
stat{r} AS (
  SELECT CAST(SUM(freq * len(string_split(substr(sym, 2, len(sym) - 2), '||'))) AS BIGINT)
         AS symbols_after
  FROM words{r}
)""")
        selects.append(
            f"SELECT {r} AS round, a || ' ' || b AS pair, a || b AS merged,"
            f" CAST(cnt AS BIGINT) AS cnt, symbols_after FROM best{r}, stat{r}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("x_text_bpe_merges", oracle=_bpe_oracle())
def x_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (the merge loop itself, not just the
    pre-tokenization of x_text_bpe_pretokens): BPE_ROUNDS rounds of
    count-adjacent-symbol-pairs -> merge the argmax pair corpus-wide --
    the repo's third iterative algorithm after Lloyd's (clustering.py) and
    label propagation (dedup_clusters), with the same full-replay oracle
    discipline (every round's counts, argmax and merge re-derived in SQL).

    Determinism: ties break (count DESC, a ASC, b ASC); the merge is
    greedy leftmost non-overlapping via string replace() on a
    DOUBLE-DELIMITED symbol encoding ('|h||e||l||l||o|', pair search
    '|a||b|' -> '|ab|') -- each symbol carries both its own delimiters, so
    consecutive matches share no characters (replace() gets them all) and
    a pair can never false-match across a merged symbol's interior.

    Scale shape: training runs on the DISTINCT-word frequency table (the
    classic BPE trainer input -- vocabulary-sized, not corpus-sized, and
    it only shrinks as merges apply); each round is one explode + one
    map-side-combined groupBy + a 1-row argmax to the driver (bounded,
    like init_centroids) + one map over the word table.  Output: one row
    per round (pair, merged symbol, count, corpus symbols after)."""
    t = catalog.load(spark, sf_dir)
    return bpe_merge_rounds(t.documents)


def bpe_merge_rounds(documents: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Core of x_text_bpe_merges over any (doc_id, text) relation
    (parameterized rounds for the greedy-merge property test)."""
    return documents.sparkSession.createDataFrame(
        _bpe_train(documents, rounds),
        "round int, pair string, merged string, cnt long, symbols_after long",
    )


def _bpe_train(documents: DataFrame, rounds: int = BPE_ROUNDS) -> list[tuple]:
    """Run the merge loop; return [(round, pair, merged, cnt,
    symbols_after)] -- the learned merge table, in application order (the
    encoder, x_text_bpe_encode, replays it verbatim)."""
    words = (
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "concat('|', array_join(transform(sequence(1, length(w)),"
                " i -> substring(w, i, 1)), '||'), '|')"
            ).alias("sym"),
            "freq",
        )
    )
    out = []
    for r in range(1, rounds + 1):
        arr = F.split(F.expr("substring(sym, 2, length(sym) - 2)"), r"\|\|")
        pairs = words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.slice(arr, 2, F.size(arr) - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        ).select("freq", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()[0]
        )
        a, b, cnt = best["a"], best["b"], int(best["cnt"])
        words = words.select(
            F.expr(f"replace(sym, '|{a}||{b}|', '|{a}{b}|')").alias("sym"), "freq"
        )
        arr2 = F.split(F.expr("substring(sym, 2, length(sym) - 2)"), r"\|\|")
        symbols_after = int(
            words.agg(F.sum(F.col("freq") * F.size(arr2)).alias("s")).collect()[0]["s"]
        )
        out.append((r, f"{a} {b}", f"{a}{b}", cnt, symbols_after))
    return out


def _bpe_encode_oracle(rounds: int = BPE_ROUNDS) -> str:
    """Encode oracle: replay the training chain (shared CTE builder), then
    apply the learned merges IN ORDER to every document via nested
    replace() on the double-delimited encoding."""
    train = _bpe_oracle(rounds)
    # _bpe_oracle is "WITH <ctes>\n<selects>"; keep only the CTE block
    ctes = train[len("WITH "):train.index("\nSELECT 1 AS round")]
    sym = "sym0"
    for r in range(1, rounds + 1):
        sym = (
            f"replace({sym}, '|' || b{r}.a || '||' || b{r}.b || '|',"
            f" '|' || b{r}.a || b{r}.b || '|')"
        )
    bests = ", ".join(f"best{r} b{r}" for r in range(1, rounds + 1))
    return f"""WITH {ctes},
docw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
),
docsym AS (
  SELECT doc_id, len(w) AS n_chars,
         '|' || array_to_string(list_transform(range(1, len(w) + 1),
                                               i -> substr(w, CAST(i AS INT), 1)), '||') || '|' AS sym0
  FROM docw
),
enc AS (
  SELECT doc_id, n_chars,
         len(string_split(substr(s2, 2, len(s2) - 2), '||')) AS n_sym
  FROM (SELECT doc_id, n_chars, {sym} AS s2 FROM docsym, {bests})
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
       FLOOR((CAST(SUM(n_sym) AS DOUBLE) / CAST(SUM(n_chars) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS compression
FROM enc GROUP BY doc_id
"""


@query("x_text_bpe_encode", oracle=_bpe_encode_oracle())
def x_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the TRAINED BPE merge table to every document (the encode half
    of the tokenizer: train on the word-frequency table, then tokenize the
    corpus).  The learned merges apply IN TRAINING ORDER as chained
    replace() over the double-delimited symbol encoding -- after the
    driver-side training collect (bounded: one row per merge round), the
    corpus encode is a pure JVM map, no shuffle until the per-doc rollup.
    Output per doc: word/char counts, BPE token count, compression ratio
    (= tokens/chars, the fertility metric tokenizer teams track)."""
    t = catalog.load(spark, sf_dir)
    merges = _bpe_train(t.documents)
    docw = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("w"),
    )
    sym = (
        "concat('|', array_join(transform(sequence(1, length(w)),"
        " i -> substring(w, i, 1)), '||'), '|')"
    )
    for _, pair, merged, _, _ in merges:
        a, b = pair.split(" ")
        sym = f"replace({sym}, '|{a}||{b}|', '|{merged}|')"
    enc = docw.select(
        "doc_id",
        F.length("w").cast("long").alias("n_chars"),
        F.size(F.split(F.expr(f"substring({sym}, 2, length({sym}) - 2)"), r"\|\|"))
        .cast("long")
        .alias("n_sym"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("n_sym").alias("n_bpe_tokens"),
        ratio(F.sum("n_sym"), F.sum("n_chars")).alias("compression"),
    )


NB_TRAIN_PCT = 90  # same md5 id-hash split as the other train/eval entries


@query(
    "x_text_nb_langid",
    oracle=f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tr AS (SELECT lang, unnest(toks) AS term FROM d WHERE bucket < {NB_TRAIN_PCT}),
cnts AS (SELECT lang, term, COUNT(*) AS cnt FROM tr GROUP BY 1, 2),
tot AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total FROM cnts GROUP BY 1),
voc AS (SELECT COUNT(DISTINCT term) AS v FROM tr),
lp AS (
  SELECT c.lang, c.term,
         CAST(FLOOR(ln(CAST(c.cnt + 1 AS DOUBLE) / CAST(t.total + voc.v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
  FROM cnts c JOIN tot t USING (lang) CROSS JOIN voc
),
dflt AS (
  SELECT t.lang,
         CAST(FLOOR(ln(1.0 / CAST(t.total + voc.v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lp0
  FROM tot t CROSS JOIN voc
),
prior AS (
  SELECT lang,
         CAST(FLOOR(ln(CAST(COUNT(*) AS DOUBLE)
                       / CAST((SELECT COUNT(*) FROM d WHERE bucket < {NB_TRAIN_PCT}) AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS pr
  FROM d WHERE bucket < {NB_TRAIN_PCT} GROUP BY lang
),
evtok AS (
  SELECT doc_id, lang AS actual_lang, unnest(toks) AS term
  FROM d WHERE bucket >= {NB_TRAIN_PCT}
),
scored AS (
  SELECT e.doc_id, e.actual_lang, p.lang,
         p.pr + CAST(SUM(COALESESCE_PLACEHOLDER) AS BIGINT) AS score
  FROM evtok e
  CROSS JOIN prior p
  JOIN dflt ON dflt.lang = p.lang
  LEFT JOIN lp ON lp.lang = p.lang AND lp.term = e.term
  GROUP BY e.doc_id, e.actual_lang, p.lang, p.pr
)
SELECT doc_id, actual_lang, lang AS predicted_lang,
       actual_lang = lang AS correct
FROM (
  SELECT doc_id, actual_lang, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
  FROM scored
) WHERE rn = 1
""".replace("COALESESCE_PLACEHOLDER", "COALESCE(lp.lp_micro, dflt.lp0)"),
)
def x_text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language identification: multinomial Naive Bayes fit on the
    id-hash train split's own (lang, text) labels and evaluated on the
    held-out eval split (the fastText-style classifier every corpus
    pipeline runs, next to x_text_lang_id's zero-shot n-gram heuristic).

    Exactness: counts/vocab/priors are exact integers; the one float op
    per (term, lang) -- the add-one-smoothed ln probability -- quantizes
    to integer micro-nats BEFORE the per-doc sum (the unigram_logprob
    discipline), so scores and the (score DESC, lang ASC) argmax agree
    bit-for-bit across engines.

    Honesty note: the driver's synthetic corpus draws every document from
    ONE shared vocabulary regardless of its lang label, so held-out
    accuracy sits near chance (~0.3) -- the entry verifies the
    train/infer machinery and its bit-exact replay, not linguistic
    signal (exactly as the PQ recall entries verify the index machinery
    on near-orthogonal synthetic vectors).

    Scale shape: the model is a (vocab x langs) relation -- bounded by the
    vocabulary, broadcastable at any corpus size; training is one
    map-side-combined groupBy over the train token explosion; inference
    joins eval tokens against the model on term (shuffle keyed by term,
    never by doc pair) and folds one aggregate per (doc, lang)."""
    t = catalog.load(spark, sf_dir)
    return nb_langid(t.documents)


def nb_langid(documents: DataFrame) -> DataFrame:
    """Core of x_text_nb_langid over any (doc_id, lang, text) relation
    (probe it on K-fold multiplied data with `scripts/probe.py --scale K`)."""
    from .x_pipeline import _bucket

    d = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        _bucket(F.col("doc_id")).alias("bucket"),
        tokens(F.col("text")).alias("toks"),
    )
    tr = d.filter(F.col("bucket") < NB_TRAIN_PCT).select(
        "lang", F.explode("toks").alias("term")
    )
    cnts = tr.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnts.groupBy("lang").agg(F.sum("cnt").alias("total"))
    voc = tr.agg(F.count_distinct("term").alias("v"))
    lp = (
        cnts.join(tot, "lang")
        .crossJoin(F.broadcast(voc))
        .select(
            "lang",
            "term",
            F.floor(
                F.log(
                    (F.col("cnt") + 1).cast("double")
                    / (F.col("total") + F.col("v")).cast("double")
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    dflt = tot.crossJoin(F.broadcast(voc)).select(
        "lang",
        F.floor(
            F.log(F.lit(1.0) / (F.col("total") + F.col("v")).cast("double"))
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("lp0"),
    )
    n_train = d.filter(F.col("bucket") < NB_TRAIN_PCT).agg(
        F.count(F.lit(1)).alias("n")
    )
    prior = (
        d.filter(F.col("bucket") < NB_TRAIN_PCT)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.floor(
                F.log(F.col("nd").cast("double") / F.col("n").cast("double"))
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("pr"),
        )
    )
    evtok = d.filter(F.col("bucket") >= NB_TRAIN_PCT).select(
        "doc_id", F.col("lang").alias("actual_lang"), F.explode("toks").alias("term")
    )
    model = prior.join(dflt, "lang")
    scored = (
        evtok.crossJoin(F.broadcast(model))
        .join(F.broadcast(lp), ["lang", "term"], "left")
        .groupBy("doc_id", "actual_lang", "lang", "pr")
        .agg(F.sum(F.coalesce("lp_micro", "lp0")).alias("s"))
        .select(
            "doc_id", "actual_lang", "lang", (F.col("pr") + F.col("s")).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual_lang",
            F.col("lang").alias("predicted_lang"),
            (F.col("actual_lang") == F.col("lang")).alias("correct"),
        )
    )


PMI_MIN_COUNT = 5
PMI_TOP = 50


@query(
    "x_text_pmi_bigrams",
    oracle=f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS tokens FROM documents
),
uni AS (
  SELECT unnest(tokens) AS term FROM toks
),
c1 AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY 1),
tot1 AS (SELECT SUM(c) AS t FROM c1),
bi AS (
  SELECT unnest(list_transform(range(1, greatest(len(tokens), 1)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
  FROM toks
),
c2 AS (SELECT bigram, COUNT(*) AS c_xy FROM bi GROUP BY 1 HAVING COUNT(*) >= {PMI_MIN_COUNT}),
tot2 AS (SELECT CAST(SUM(len(tokens) - 1) AS BIGINT) AS b FROM toks WHERE len(tokens) >= 2),
scored AS (
  SELECT c2.bigram, c2.c_xy, ca.c AS n_x, cb.c AS n_y,
         CAST(FLOOR(ln(((CAST(c2.c_xy AS DOUBLE) * t) * t)
                       / ((CAST(b AS DOUBLE) * ca.c) * cb.c)) * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
  FROM c2
  JOIN c1 ca ON ca.term = string_split(c2.bigram, ' ')[1]
  JOIN c1 cb ON cb.term = string_split(c2.bigram, ' ')[2]
  CROSS JOIN tot1 CROSS JOIN tot2
)
SELECT bigram, CAST(c_xy AS BIGINT) AS n_xy, CAST(n_x AS BIGINT) AS n_x,
       CAST(n_y AS BIGINT) AS n_y, pmi_micro
FROM scored ORDER BY pmi_micro DESC, bigram LIMIT {PMI_TOP}
""",
)
def x_text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information: the top-50
    bigrams whose joint frequency most exceeds the independence baseline
    (multi-word expressions -- 'new york', 'machine learning' -- the classic
    phrase-mining signal; a count floor kills the rare-pair PMI bias).

    PMI = ln(p(x,y) / (p(x)p(y))) with p(x,y) = c_xy/B over adjacent pairs
    and p(x) = c_x/T over tokens.  Counts and totals are exact integers;
    the ONE float op is the ln of an identically-parenthesized double
    ratio, quantized to micro-nats -- so both engines produce the same
    BIGINT score.  Scale shape: two counting aggregates (map-side
    combined, vocabulary-bound), two broadcast scalars, a join keyed on
    term, and a top-50 TakeOrderedAndProject -- nothing touches corpus
    text after tokenization."""
    t = catalog.load(spark, sf_dir)
    toks_col = tokens(F.col("text"))
    docs = t.documents.select(toks_col.alias("tokens"))
    uni = docs.select(F.explode("tokens").alias("term"))
    c1 = uni.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot1 = c1.agg(F.sum("c").alias("t"))
    n1 = F.greatest(F.size("tokens") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("tokens", 1, n1),
        F.slice(F.col("tokens"), 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    c2 = (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    tot2 = (
        docs.filter(F.size("tokens") >= 2)
        .agg(F.sum(F.size("tokens") - 1).cast("long").alias("b"))
    )
    ca = c1.select(F.col("term").alias("ta"), F.col("c").alias("n_x"))
    cb = c1.select(F.col("term").alias("tb"), F.col("c").alias("n_y"))
    scored = (
        c2.withColumn("ta", F.split("bigram", " ")[0])
        .withColumn("tb", F.split("bigram", " ")[1])
        .join(ca, "ta")
        .join(cb, "tb")
        .crossJoin(F.broadcast(tot1))
        .crossJoin(F.broadcast(tot2))
        .select(
            "bigram",
            F.col("c_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            F.floor(
                F.log(
                    ((F.col("c_xy").cast("double") * F.col("t")) * F.col("t"))
                    / ((F.col("b").cast("double") * F.col("n_x")) * F.col("n_y"))
                )
                * 1000000.0
                + 0.5
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc()).limit(PMI_TOP)


ML_IN_LANG = "en"


@query(
    "x_text_moore_lewis",
    oracle=f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
model AS (
  SELECT term,
         SUM(CASE WHEN lang = '{ML_IN_LANG}' THEN 1 ELSE 0 END) AS c_in,
         SUM(CASE WHEN lang <> '{ML_IN_LANG}' THEN 1 ELSE 0 END) AS c_out
  FROM toks GROUP BY 1
),
scal AS (
  SELECT SUM(c_in) AS t_in, SUM(c_out) AS t_out, COUNT(*) AS v FROM model
),
lp AS (
  SELECT term,
         CAST(FLOOR((ln(CAST(c_in + 1 AS DOUBLE) / CAST(t_in + v AS DOUBLE))
                    - ln(CAST(c_out + 1 AS DOUBLE) / CAST(t_out + v AS DOUBLE)))
                    * 1000000.0 + 0.5) AS BIGINT) AS delta_micro
  FROM model CROSS JOIN scal
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(lp.delta_micro) AS BIGINT) AS sum_delta_micro,
       FLOOR((CAST(SUM(lp.delta_micro) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_delta,
       SUM(lp.delta_micro) > 0 AS selected
FROM toks t JOIN lp USING (term)
GROUP BY t.doc_id
""",
)
def x_text_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis contrastive data selection (ACL 2010; the
    intelligent-selection step of domain-targeted training pipelines):
    score every document by its per-token in-domain vs out-domain
    log-likelihood difference, here with the 'en'-labelled slice as the
    in-domain model and everything else as the general model.  Documents
    with positive cross-entropy difference are the ones worth keeping for
    the target domain.

    Both unigram models are add-one smoothed over the SHARED corpus
    vocabulary; the per-term delta = ln p_in - ln p_out quantizes to
    integer micro-nats BEFORE the per-doc sum (the unigram_logprob float
    discipline), so scores are partition-order independent and bit-equal
    across engines.  Scale shape: ONE grouped aggregate builds both
    models (conditional sums, map-side combined, vocabulary-bound), the
    three scalars broadcast, and scoring is a term-keyed join + per-doc
    aggregate -- no per-pair or per-doc-squared work anywhere."""
    t = catalog.load(spark, sf_dir)
    return moore_lewis(t.documents)


def moore_lewis(documents: DataFrame) -> DataFrame:
    """Core of x_text_moore_lewis over any (doc_id, text, lang) relation
    (also driven by the domain-separation property test)."""
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    model = toks.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == ML_IN_LANG, 1).otherwise(0)).alias("c_in"),
        F.sum(F.when(F.col("lang") != ML_IN_LANG, 1).otherwise(0)).alias("c_out"),
    )
    scal = model.agg(
        F.sum("c_in").alias("t_in"),
        F.sum("c_out").alias("t_out"),
        F.count(F.lit(1)).alias("v"),
    )
    lp = model.crossJoin(F.broadcast(scal)).select(
        "term",
        F.floor(
            (
                F.log(
                    (F.col("c_in") + 1).cast("double")
                    / (F.col("t_in") + F.col("v")).cast("double")
                )
                - F.log(
                    (F.col("c_out") + 1).cast("double")
                    / (F.col("t_out") + F.col("v")).cast("double")
                )
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("delta_micro"),
    )
    return (
        toks.join(lp, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("delta_micro").cast("long").alias("sum_delta_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_delta_micro",
            fround(
                F.col("sum_delta_micro").cast("double")
                / 1000000.0
                / F.col("n_tokens").cast("double"),
                4,
            ).alias("avg_delta"),
            (F.col("sum_delta_micro") > 0).alias("selected"),
        )
    )


CMS_D = 4        # count-min depth (independent hash rows)
# Width deliberately NARROWER than the synthetic corpus's 31-term vocabulary
# so bucket collisions -- the sketch's defining epsilon*N overestimate --
# actually occur at gate scale; production sizing is W ~ e/epsilon.
CMS_W = 16       # count-min width (buckets per row)
CMS_TOP = 20


def _cms_oracle() -> str:
    from ..operators.dedup import P, PERMS

    h32 = "CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)"
    bucket_rows = "\nUNION ALL\n".join(
        f"SELECT (({a} * h + {b}) % {P}) % {CMS_W} AS bucket, {d} AS d, c FROM th"
        for d, (a, b) in enumerate(PERMS[:CMS_D])
    )
    probe_buckets = "\nUNION ALL\n".join(
        f"SELECT term, c AS exact, {d} AS d, (({a} * h + {b}) % {P}) % {CMS_W} AS bucket FROM top"
        for d, (a, b) in enumerate(PERMS[:CMS_D])
    )
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
),
tc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
th AS (SELECT term, c, {h32} AS h FROM tc),
sketch AS (
  SELECT d, bucket, CAST(SUM(c) AS BIGINT) AS cell FROM ({bucket_rows}) GROUP BY 1, 2
),
top AS (SELECT term, c, h FROM th ORDER BY c DESC, term ASC LIMIT {CMS_TOP}),
probes AS ({probe_buckets}),
est AS (
  SELECT p.term, p.exact, MIN(s.cell) AS cms_est
  FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
  GROUP BY 1, 2
)
SELECT term, CAST(exact AS BIGINT) AS exact, cms_est,
       CAST(cms_est - exact AS BIGINT) AS overestimate
FROM est
"""


@query("x_text_countmin_hh", oracle=_cms_oracle())
def x_text_countmin_hh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: a {CMS_D}x{CMS_W} counter sketch of
    the corpus term stream, then the exact top-{CMS_TOP} terms probed back
    through it -- reporting the sketch estimate and its (always
    non-negative) collision overestimate.  The streaming-sketch shape for
    frequency tracking when the vocabulary itself is too big to hold: the
    sketch is FIXED-SIZE state, updates are commutative sums (so partial
    sketches merge map-side and across executors/days -- the mergeability
    that makes it a lakehouse rollup primitive), and estimates are a
    d-way min of bucket counts.

    Everything is exact integer arithmetic over md5-derived hashes (the
    minhash permutation family's first {CMS_D} rows), so the DuckDB twin
    replays the sketch bit-for-bit.  Scale shape: ONE vocabulary-bound
    aggregate feeds {CMS_D} bucket projections into a 2048-row sketch;
    the probe side is a broadcast join against that tiny relation."""
    from ..operators.dedup import P, PERMS, h32

    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    # vocabulary-bound pre-aggregation: the sketch feed and the exact top-k
    # share one term-count relation (map-side combined)
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    th = tc.withColumn("h", h32(F.col("term")))
    buckets = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P)) % F.lit(CMS_W)).alias(
                    "bucket"
                ),
            )
            for d, (a, b) in enumerate(PERMS[:CMS_D])
        ]
    )
    sketch = (
        th.select(F.explode(buckets).alias("bk"), "c")
        .groupBy(F.col("bk.d").alias("d"), F.col("bk.bucket").alias("bucket"))
        .agg(F.sum("c").cast("long").alias("cell"))
    )
    top = th.orderBy(F.col("c").desc(), F.col("term").asc()).limit(CMS_TOP)
    probes = top.select(
        "term", F.col("c").alias("exact"), F.explode(buckets).alias("bk")
    ).select("term", "exact", F.col("bk.d").alias("d"), F.col("bk.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("term", "exact")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "term",
        F.col("exact").cast("long").alias("exact"),
        "cms_est",
        (F.col("cms_est") - F.col("exact")).cast("long").alias("overestimate"),
    )


ZIPF_TOP = 1000   # fit over the top-N ranks (vocab-bound; guards the int64 sums)


@query(
    "x_text_zipf_fit",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents
),
tc AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
ranked AS (
  SELECT CAST(FLOOR(ln(CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS x,
         CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS y
  FROM tc
  QUALIFY row_number() OVER (ORDER BY c DESC, term ASC) <= {ZIPF_TOP}
),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_terms,
       FLOOR((CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
       FLOOR(((CAST(sy AS DOUBLE) / n - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)) * (CAST(sx AS DOUBLE) / n)) / 1000.0) * 10000.0 + 0.5) / 10000.0 AS ln_c0
FROM s
""",
)
def x_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the term frequency distribution (corpus
    diagnostics: natural text has a log-log rank/frequency slope near -1;
    a flat slope flags synthetic/templated corpora, a cliff flags
    boilerplate): least-squares over (ln rank, ln count) for the top
    ranks.

    Float discipline: the two lns quantize to integer MILLI-nats first, so
    every regression sum (n, Sx, Sy, Sxy, Sxx) is an exact int64
    (milli-scale keeps n*Sxy under 2^63 at the rank cap) and the slope is
    one identically-written double division -- bit-equal across engines.
    Scale shape: one vocabulary-bound counting aggregate; the rank window
    runs over the VOCAB relation (not the corpus) and the cap bounds it;
    the five sums reduce map-side to a single row."""
    from pyspark.sql import Window

    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    ranked = (
        tc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ZIPF_TOP)
        .select(
            F.floor(F.log(F.col("rn").cast("double")) * 1000.0 + 0.5)
            .cast("long")
            .alias("x"),
            F.floor(F.log(F.col("c").cast("double")) * 1000.0 + 0.5)
            .cast("long")
            .alias("y"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        fround(slope, 4).alias("zipf_slope"),
        fround(
            (F.col("sy").cast("double") / F.col("n")
             - slope * (F.col("sx").cast("double") / F.col("n"))) / 1000.0,
            4,
        ).alias("ln_c0"),
    )


RAKE_STOPWORDS = r"\b(the|of|and|to|in|is|that|it|was|for)\b"
RAKE_TOP = 30


@query(
    "x_text_rake_phrases",
    oracle=f"""
WITH marked AS (
  SELECT regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
           '{RAKE_STOPWORDS}', '|', 'g') AS m
  FROM documents
),
phrases AS (
  SELECT trim(regexp_replace(u.p, ' +', ' ', 'g')) AS phrase
  FROM marked, unnest(string_split(m, '|')) AS u(p)
  WHERE trim(regexp_replace(u.p, ' +', ' ', 'g')) <> ''
),
pw AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS w
  FROM phrases
),
ws AS (
  SELECT w,
         CAST(FLOOR(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS wscore
  FROM pw GROUP BY 1
),
ps AS (
  SELECT pw.phrase, CAST(SUM(ws.wscore) AS BIGINT) AS score_milli
  FROM (SELECT DISTINCT phrase, w FROM pw) pw JOIN ws USING (w)
  GROUP BY 1
),
occ AS (SELECT phrase, COUNT(*) AS n_occurrences FROM phrases GROUP BY 1)
SELECT ps.phrase,
       CAST(len(string_split(ps.phrase, ' ')) AS BIGINT) AS n_words,
       CAST(occ.n_occurrences AS BIGINT) AS n_occurrences,
       ps.score_milli
FROM ps JOIN occ USING (phrase)
ORDER BY ps.score_milli DESC, ps.phrase ASC LIMIT {RAKE_TOP}
""",
)
def x_text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    the maximal stopword-free token runs, each scored by the sum of its
    member words' degree/frequency ratios (degree = total length of
    phrases the word appears in -- rewards words that co-occur in long
    multi-word expressions).  The unsupervised keyword extractor of
    document-tagging pipelines; top-{RAKE_TOP} phrases corpus-wide.

    Word scores quantize to integer MILLI units before the per-phrase sum
    (the micro-nat discipline), so both engines agree exactly.  Scale
    shape: phrase splitting is row-local regex work; word stats and
    phrase scores are two vocabulary-bound aggregates; the top-k is
    TakeOrderedAndProject."""
    t = catalog.load(spark, sf_dir)
    marked = t.documents.select(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", " "),
            RAKE_STOPWORDS,
            "|",
        ).alias("m")
    )
    raw = marked.select(F.explode(F.split("m", r"\|")).alias("p"))
    phrases = raw.select(
        F.trim(F.regexp_replace("p", " +", " ")).alias("phrase")
    ).filter(F.col("phrase") != "")
    # collapse duplicate phrase INSTANCES before any word work: the ONE
    # corpus-wide shuffle is this map-side-combined groupBy; everything
    # downstream runs over the (much smaller) distinct-phrase relation with
    # occurrence weights -- freq(w) = sum(n_occ), degree(w) =
    # sum(plen * n_occ) are the identical sums the per-instance formulation
    # computes (measured 154 -> 66.7 s at the 100x smoke, where every phrase
    # has 100 exact copies)
    occ = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    pw = occ.select(
        "phrase",
        "n_occurrences",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    ws = pw.groupBy("w").agg(
        F.floor(
            F.sum(F.col("plen") * F.col("n_occurrences")).cast("double")
            / F.sum("n_occurrences").cast("double")
            * 1000.0
            + 0.5
        )
        .cast("long")
        .alias("wscore")
    )
    ps = (
        pw.select("phrase", "w")
        .distinct()
        .join(ws, "w")
        .groupBy("phrase")
        .agg(F.sum("wscore").cast("long").alias("score_milli"))
    )
    return (
        ps.join(occ, "phrase")
        .select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("long").alias("n_words"),
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "score_milli",
        )
        .orderBy(F.col("score_milli").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP)
    )


@query(
    "x_text_domain_divergence",
    oracle="""
WITH toks AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
c AS (SELECT source, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
tot AS (SELECT source, SUM(n) AS t FROM c GROUP BY 1),
vocab AS (SELECT DISTINCT term FROM toks),
v AS (SELECT COUNT(*) AS nv FROM vocab),
grid AS (
  SELECT s.source, vocab.term,
         CAST(COALESCE(c.n, 0) + 1 AS DOUBLE) / CAST(tot.t + v.nv AS DOUBLE) AS p
  FROM (SELECT DISTINCT source FROM toks) s
  CROSS JOIN vocab CROSS JOIN v
  JOIN tot ON tot.source = s.source
  LEFT JOIN c ON c.source = s.source AND c.term = vocab.term
),
contrib AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(FLOOR((0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                   + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2))) * 1000000000.0 + 0.5) AS BIGINT) AS d
  FROM grid a JOIN grid b ON a.term = b.term AND a.source < b.source
)
SELECT source_a, source_b,
       CAST(SUM(d) AS BIGINT) AS js_nano,
       FLOOR((CAST(SUM(d) AS DOUBLE) / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0 AS js_divergence
FROM contrib GROUP BY 1, 2
""",
)
def x_text_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every source domain's
    unigram distribution -- the domain-similarity matrix mixture design
    reads (which sources are near-duplicates of each other, which add
    genuinely new text; DoReMi-style weighting starts here).  Add-one
    smoothing over the shared vocabulary; each term's JS contribution
    quantizes to integer NANO-nats before the per-pair sum (total JS is
    bounded by ln 2, so nano resolution costs nothing and the sum is
    partition-order independent).  Scale shape: the model is one
    vocabulary-bound aggregate; the pair join runs over |sources|^2 x
    |vocab| skinny probability rows -- domain-count-bound, never
    corpus-bound."""
    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        "source",
        F.explode(tokens(F.col("text"))).alias("term"),
    )
    c = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("t"))
    vocab = toks.select("term").distinct()
    nv = vocab.agg(F.count(F.lit(1)).alias("nv"))
    grid = (
        tot.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(nv))
        .join(c, ["source", "term"], "left")
        .select(
            "source",
            "term",
            (
                (F.coalesce("n", F.lit(0)) + 1).cast("double")
                / (F.col("t") + F.col("nv")).cast("double")
            ).alias("p"),
        )
    )
    a = grid.select(
        F.col("source").alias("source_a"), "term", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("source").alias("source_b"), "term", F.col("p").alias("pb")
    )
    m = (F.col("pa") + F.col("pb")) / 2
    contrib = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.floor(
                (
                    0.5 * F.col("pa") * F.log(F.col("pa") / m)
                    + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
                )
                * 1000000000.0
                + 0.5
            )
            .cast("long")
            .alias("d"),
        )
    )
    return contrib.groupBy("source_a", "source_b").agg(
        F.sum("d").cast("long").alias("js_nano"),
        fround(F.sum("d").cast("double") / 1000000000.0, 6).alias("js_divergence"),
    )


# ---------------------------------------------------------------------------
# Distributed linear classifier: all-integer logistic regression with a
# hard sigmoid (the fastText-style quality-classifier training shape).
# ---------------------------------------------------------------------------

LR_WORDS = ("table", "spark", "query")  # per-mille rate features
LR_ITERS = 6
LR_LR10 = 40  # learning rate x 10 (lr = 4, countering the hard sigmoid's 1/4 slope)
# scales: features per-mille (bias 1000), weights in micro-units;
# z_int = sum(W*X) = z * 1e9; P4 = clamp(z_int + 2e9, 0, 4e9) = p * 4e9.


def _lr_feats_sql() -> str:
    rates = ",\n         ".join(
        f"CAST(FLOOR(1000.0 * len(list_filter(tk, x -> x = '{w}'))"
        f" / greatest(len(tk), 1) + 0.5) AS BIGINT) AS x{i + 1}"
        for i, w in enumerate(LR_WORDS)
    )
    return f"""feats AS (
  SELECT CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
         CAST(1000 AS BIGINT) AS x0,
         {rates},
         CAST(FLOOR(100.0 * length(replace(text, ' ', ''))
              / greatest(len(tk), 1) + 0.5) AS BIGINT) AS x{len(LR_WORDS) + 1}
  FROM (SELECT lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
        FROM documents)
)"""


def _lr_oracle_sql() -> str:
    """Unrolled gradient-descent chain (the PQ Lloyd-chain precedent):
    every iteration is one aggregate CTE over feats CROSS JOIN the previous
    weight row.  All arithmetic is integer-exact or double-exact-by-bound,
    so the replay is bit-identical to the Spark loop."""
    nf = len(LR_WORDS) + 2
    js = range(nf)
    parts = [_lr_feats_sql()]
    parts.append(
        "w0 AS (SELECT " + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in js) + ")"
    )
    for t in range(1, LR_ITERS + 1):
        z = " + ".join(f"w{j} * x{j}" for j in js)
        p4 = f"LEAST(GREATEST(({z}) + 2000000000, 0), 4000000000)"
        gsums = ", ".join(
            f"SUM(CAST(FLOOR((({p4}) - y * 4000000000) * x{j} / 40000000.0 + 0.5)"
            f" AS BIGINT)) AS g{j}"
            for j in js
        )
        parts.append(
            f"g{t} AS (SELECT {gsums}, COUNT(*) AS n FROM feats CROSS JOIN w{t - 1})"
        )
        ws = ", ".join(
            f"w{j} - CAST(FLOOR({LR_LR10}.0 * g{j} / n + 0.5) AS BIGINT) AS w{j}"
            for j in js
        )
        parts.append(f"w{t} AS (SELECT {ws} FROM g{t} CROSS JOIN w{t - 1})")
    z = " + ".join(f"w{j} * x{j}" for j in js)
    wcols = ", ".join(f"w{j}" for j in js)
    return f"""
WITH {', '.join(parts)}
SELECT {wcols},
       CAST(SUM(CASE WHEN ({z}) >= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN ({z}) >= 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN ({z}) < 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(SUM(CASE WHEN ({z}) < 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(FLOOR(10000.0 * SUM(CASE WHEN (CASE WHEN ({z}) >= 0 THEN 1 ELSE 0 END) = y
                                     THEN 1 ELSE 0 END) / COUNT(*) + 0.5) AS BIGINT)
         AS accuracy_bp
FROM feats CROSS JOIN w{LR_ITERS}
GROUP BY {wcols}
"""


def _lr_features(documents: DataFrame) -> DataFrame:
    tk = F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    d = documents.select((F.col("lang") == "en").cast("long").alias("y"),
                         tk.alias("tk"), "text")
    cols = [F.lit(1000).cast("long").alias("x0")]
    for i, w in enumerate(LR_WORDS):
        cols.append(
            F.floor(
                1000.0 * F.expr(f"size(filter(tk, x -> x = '{w}'))")
                / F.greatest(F.size("tk"), F.lit(1))
                + 0.5
            )
            .cast("long")
            .alias(f"x{i + 1}")
        )
    cols.append(
        F.floor(
            100.0 * F.length(F.regexp_replace("text", " ", ""))
            / F.greatest(F.size("tk"), F.lit(1))
            + 0.5
        )
        .cast("long")
        .alias(f"x{len(LR_WORDS) + 1}")
    )
    return d.select("y", *cols)


@query("x_text_lr_classifier", oracle=_lr_oracle_sql())
def x_text_lr_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear quality/domain classifier: logistic regression
    trained by full-batch gradient descent, every number an integer -- the
    fastText-shaped 'train a cheap classifier over the corpus' step of LLM
    curation pipelines (CCNet/FineWeb quality filters), here with
    is-English as the weak label and per-mille token-rate features.

    The float trap in distributed GD is exp(): libm sigmoids differ by
    ULPs across engines and partition-order changes the gradient sum.
    Both are designed out: the sigmoid is the HARD sigmoid
    clamp(z/4 + 1/2, 0, 1), computed as an integer clamp
    P4 = clamp(z_int + 2e9, 0, 4e9) on the micro-weight/per-mille-feature
    grid, and every per-row gradient contribution quantizes to an integer
    BEFORE the sum (all divisions bounded so the double quotient's
    granularity exceeds its ULP -- floor cannot flip).  The weight update
    rounds half-up on the same argument.  One aggregate per iteration
    (map-side combined, nf+1 numbers out); the final pass scores the
    confusion matrix.  The DuckDB oracle replays the full unrolled chain
    bit-for-bit.

    Scale (100 TB): per iteration = one scan + one 5-number aggregate;
    weights broadcast as literals.  On synthetic data the label carries
    little signal, so accuracy sits near the majority prior -- the entry
    grades the exact distributed-training mechanics, which is the part
    that must be right before any real labels arrive."""
    t = catalog.load(spark, sf_dir)
    feats = session.materialize(_lr_features(t.documents), "lr_features", eager=False)
    nf = len(LR_WORDS) + 2
    w = [0] * nf
    n_docs = None
    for _ in range(LR_ITERS):
        z = None
        for j in range(nf):
            term = F.lit(w[j]) * F.col(f"x{j}")
            z = term if z is None else z + term
        p4 = F.least(
            F.greatest(z + F.lit(2_000_000_000), F.lit(0)),
            F.lit(4_000_000_000),
        )
        err4 = p4 - F.col("y") * F.lit(4_000_000_000)
        aggs = [
            F.sum(
                F.floor(err4 * F.col(f"x{j}") / 40_000_000.0 + 0.5).cast("long")
            ).alias(f"g{j}")
            for j in range(nf)
        ] + [F.count(F.lit(1)).alias("n")]
        row = feats.agg(*aggs).collect()[0]
        n_docs = row["n"]
        import math as _math

        w = [
            w[j] - int(_math.floor(LR_LR10 * row[f"g{j}"] / n_docs + 0.5))
            for j in range(nf)
        ]
    z = None
    for j in range(nf):
        term = F.lit(w[j]) * F.col(f"x{j}")
        z = term if z is None else z + term
    pred = (z >= 0).cast("long")
    out = feats.agg(
        F.sum(F.when((pred == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((pred == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((pred == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
        F.sum(F.when((pred == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.floor(
            10000.0
            * F.sum((pred == F.col("y")).cast("long"))
            / F.count(F.lit(1))
            + 0.5
        )
        .cast("long")
        .alias("accuracy_bp"),
    )
    sel = [F.lit(w[j]).cast("long").alias(f"w{j}") for j in range(nf)]
    return out.select(*sel, "tp", "fp", "tn", "fn", "accuracy_bp")


@query(
    "x_text_ccnet_buckets",
    oracle=r"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tc AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM tc),
lp AS (
  SELECT term,
         CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
  FROM tc CROSS JOIN tot
),
scores AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         FLOOR((CAST(-SUM(lp.lp_micro) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS avg_neg_logprob
  FROM toks t JOIN lp USING (term)
  GROUP BY t.doc_id
),
b AS (SELECT quantile_cont(avg_neg_logprob, [1.0/3, 2.0/3]) AS q FROM scores)
SELECT doc_id, n_tokens, avg_neg_logprob,
       CASE WHEN avg_neg_logprob <= q[1] THEN 'head'
            WHEN avg_neg_logprob <= q[2] THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores CROSS JOIN b
""",
)
def x_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020): every
    document scored by its LM perplexity proxy (the unigram_logprob entry's
    mean negative log-likelihood), then bucketed at the exact score
    terciles.  CCNet keeps 'head' (lowest perplexity = most fluent) for
    high-quality training mixes and drops or down-weights 'tail'.

    The tercile boundaries come from ONE interpolated-percentile aggregate
    broadcast to every row (the RFM pattern) -- never a global ntile sort.
    Scores are the 1e-4-quantized doubles of the logprob entry (micro-nat
    integer sums underneath), and Spark `percentile` / DuckDB
    `quantile_cont` share the (n-1)*q linear-interpolation definition on
    those identical inputs, so every boundary comparison agrees."""
    t = catalog.load(spark, sf_dir)
    scores = unigram_logprob(t.documents).select(
        "doc_id", "n_tokens", "avg_neg_logprob"
    )
    b = scores.agg(
        F.percentile(F.col("avg_neg_logprob"), F.lit([1.0 / 3, 2.0 / 3])).alias("q")
    )
    return scores.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "n_tokens",
        "avg_neg_logprob",
        F.when(F.col("avg_neg_logprob") <= F.col("q")[0], "head")
        .when(F.col("avg_neg_logprob") <= F.col("q")[1], "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


CDC_DIV = 8  # boundary where the 2-token window hash % CDC_DIV == 0


@query(
    "x_text_cdc_dedup",
    oracle=f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term,
         unnest(generate_series(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))) AS pos
  FROM documents
),
flagged AS (
  SELECT doc_id, pos, term,
         CASE WHEN pos = 1 THEN 0
              WHEN CAST(concat('0x', substr(md5(
                     lag(term) OVER (PARTITION BY doc_id ORDER BY pos)
                     || ' ' || term), 1, 8)) AS BIGINT) % {CDC_DIV} = 0 THEN 1
              ELSE 0 END AS flag
  FROM toks
),
seg AS (
  SELECT doc_id, pos, term,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM flagged
),
chunks AS (
  SELECT doc_id, seg_id,
         md5(string_agg(term, ' ' ORDER BY pos)) AS ch,
         COUNT(*) AS chunk_tokens
  FROM seg GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, chunk_tokens,
         row_number() OVER (PARTITION BY ch ORDER BY doc_id, seg_id) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dupe_chunks,
       {{keep}} AS keep_ratio,
       {{avg}} AS avg_chunk_tokens
FROM ranked GROUP BY doc_id
""".format(
        keep=sql_ratio("SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)", "COUNT(*)"),
        avg=sql_ratio("SUM(chunk_tokens)", "COUNT(*)"),
    ),
)
def x_text_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the Rabin/Gear CDC idea at token
    granularity): chunk boundaries fall where the rolling 2-token window
    hash is 0 mod 8 (expected chunk ~8 tokens), so boundaries are decided
    by CONTENT, not position -- a one-token insertion resynchronizes at
    the next content boundary instead of shifting every downstream chunk
    the way x_text_block_dedup's fixed 16-token grid does (the
    boundary-shift robustness is pinned in tests/test_selection_ops.py).
    Only the globally FIRST occurrence of each chunk survives (total
    order: doc_id, position), per-doc survival ratio reported.

    Scale shape: the token explosion shuffles ONCE keyed by doc (lag +
    running-sum windows are per-doc, partitions bounded by doc length);
    chunk assembly is one (doc, seg) aggregate; first-occurrence selection
    is a rank-1 window keyed by chunk hash.  Same stages as block_dedup --
    CDC changes only where boundaries fall."""
    from pyspark.sql import Window

    t = catalog.load(spark, sf_dir)
    toks = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(
            F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    h = F.conv(
        F.substring(F.md5(F.concat_ws(" ", F.lag("term").over(wd), F.col("term"))), 1, 8),
        16,
        10,
    ).cast("long")
    flagged = toks.select(
        "doc_id",
        "pos",
        "term",
        F.when(F.col("pos") == 1, 0)
        .when(h % CDC_DIV == 0, 1)
        .otherwise(0)
        .alias("flag"),
    )
    seg = flagged.select(
        "doc_id",
        "pos",
        "term",
        F.sum("flag").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias("seg_id"),
    )
    chunks = (
        seg.groupBy("doc_id", "seg_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("pos"), F.col("term")))
                        ),
                        lambda s: s["term"],
                    ),
                )
            ).alias("ch"),
            F.count(F.lit(1)).alias("chunk_tokens"),
        )
    )
    wr = Window.partitionBy("ch").orderBy("doc_id", "seg_id")
    ranked = chunks.select(
        "doc_id", "chunk_tokens", F.row_number().over(wr).alias("rn")
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long").alias("n_dupe_chunks"),
        fround(
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("keep_ratio"),
        fround(
            F.sum("chunk_tokens").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("avg_chunk_tokens"),
    )


# Gopher quality-rule thresholds (Rae et al. 2021, Table A1), adapted to
# the available per-doc signals (the synthetic docs carry no symbols or
# lines, so the symbol/bullet/ellipsis rules are vacuous here and omitted).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_DUP_BIGRAM_FRAC = 0.5  # duplicate-n-gram repetition cap


@query(
    "x_text_gopher_rules",
    oracle=f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
  FROM documents
),
sig AS (
  SELECT doc_id,
         CAST(len(tk) AS BIGINT) AS n_words,
         CASE WHEN len(tk) = 0 THEN 0.0
              ELSE FLOOR((CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                         / len(tk)) * 10000.0 + 0.5) / 10000.0 END AS mean_word_len,
         CASE WHEN len(tk) <= 1 THEN 0.0
              ELSE FLOOR((1 - CAST(len(list_distinct(
                     list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                   )) AS DOUBLE) / (len(tk) - 1)) * 10000.0 + 0.5) / 10000.0
         END AS dup_bigram_frac
  FROM toks
)
SELECT doc_id, n_words, mean_word_len, dup_bigram_frac,
       n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} AS pass_words,
       mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}.0
         AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}.0 AS pass_word_len,
       dup_bigram_frac <= {GOPHER_MAX_DUP_BIGRAM_FRAC} AS pass_repetition,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AND (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}.0
              AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}.0)
         AND dup_bigram_frac <= {GOPHER_MAX_DUP_BIGRAM_FRAC} AS keep
FROM sig
""",
)
def x_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality rules (Rae et al. 2021, Table A1) as a named,
    thresholded filter: word-count band, mean-word-length band, and the
    duplicate-bigram repetition cap, each reported as its own boolean plus
    the conjunction -- the form a pipeline audits per rule ('what did each
    rule remove?') rather than as one opaque keep bit.  The symbol/bullet/
    ellipsis rules are vacuous on the synthetic docs (no symbols or lines)
    and omitted -- documented, not silently padded.  All row-level JVM
    array expressions; one narrow scan, no shuffle."""
    t = catalog.load(spark, sf_dir)
    tk = F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    d = t.documents.select(F.col("doc_id").cast("long").alias("doc_id"), tk.alias("tk"))
    n = F.size("tk")
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        fround(
            F.expr("aggregate(tk, 0L, (a, x) -> a + length(x))").cast("double")
            / n.cast("double"),
            4,
        )
    )
    bigrams = F.expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
        " (x, i) -> concat(x, ' ', tk[i + 1]))"
    )
    dup_bi = F.when(n <= 1, F.lit(0.0)).otherwise(
        fround(
            1
            - F.size(F.array_distinct(bigrams)).cast("double")
            / (n - 1).cast("double"),
            4,
        )
    )
    sig = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        dup_bi.alias("dup_bigram_frac"),
    )
    pass_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    pass_wlen = (F.col("mean_word_len") >= float(GOPHER_MIN_MEAN_WORD_LEN)) & (
        F.col("mean_word_len") <= float(GOPHER_MAX_MEAN_WORD_LEN)
    )
    pass_rep = F.col("dup_bigram_frac") <= GOPHER_MAX_DUP_BIGRAM_FRAC
    return sig.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "dup_bigram_frac",
        pass_words.alias("pass_words"),
        pass_wlen.alias("pass_word_len"),
        pass_rep.alias("pass_repetition"),
        (pass_words & pass_wlen & pass_rep).alias("keep"),
    )


BM25_K1 = "1.2"   # literal strings: both engines parse the same decimal
BM25_B = "0.75"
BM25_QTERMS = 4   # query = the 4 highest-df corpus terms (ties lexicographic)
BM25_TOPK = 10

def _bm25_oracle(doc_pred: str = "TRUE") -> str:
    """The single-query BM25 replay, parameterized by a document-level
    predicate: `doc_pred` restricts the corpus (the delete lane's
    surviving-documents oracle -- df, N, avgdl and the query-term set all
    re-derive from the restricted corpus, exactly what serving a
    tombstone-masked index computes)."""
    return f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents WHERE {doc_pred}
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
df AS (
  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
  GROUP BY 1
),
qterms AS (
  SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT {BM25_QTERMS}
),
tf AS (
  SELECT t.doc_id, t.term, COUNT(*) AS tf
  FROM toks t JOIN qterms q USING (term)
  GROUP BY 1, 2
),
contrib AS (
  SELECT tf.doc_id, tf.term,
         CAST(FLOOR(
           ln((CAST(n.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
              / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(tf.tf AS DOUBLE) + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * CAST(d.dl AS DOUBLE)
                 / (CAST(n.total_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS c_micro
  FROM tf JOIN qterms q USING (term) JOIN dl d USING (doc_id) CROSS JOIN n
)
SELECT doc_id, dl, n_terms_matched, score_micro,
       FLOOR((CAST(score_micro AS DOUBLE) / 1000000.0) * 10000.0 + 0.5)
         / 10000.0 AS score
FROM (
  SELECT c.doc_id, d.dl,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(c.c_micro) AS BIGINT) AS score_micro,
         ROW_NUMBER() OVER (ORDER BY SUM(c.c_micro) DESC, c.doc_id ASC) AS rn
  FROM contrib c JOIN dl d USING (doc_id)
  GROUP BY c.doc_id, d.dl
) WHERE rn <= {BM25_TOPK}
"""


_BM25_ORACLE = _bm25_oracle()

# One index, many queries.  Every BM25 lane serves the same two doc-grain
# relations -- postings (term, doc_id, tf) and doc lengths (doc_id, dl) --
# built by _bm25_index, stored and loaded by _write_bm25_index /
# _read_bm25_index, and scored by _bm25_from_index.  Corpus statistics (df,
# the query terms, N, avgdl) are never stored: they re-derive from the
# postings at serve time, so appending, masking or replacing a document's
# rows keeps every score exact.


def _bm25_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The BM25 inverted index of docs (doc_id, text): postings (term,
    doc_id, tf) and doc lengths (doc_id, dl).

    ONE token explode and one (term, doc) map-side-combined aggregate;
    doc lengths derive from it (the 100x probe measured the naive form --
    dl/df/tf each re-exploding the corpus -- at 57.1 s vs 38.5 s for this
    shape).  The postings are MATERIALIZED once: without it
    every consumer (dl, df, the query-term join, N) re-executes the
    explode+aggregate -- the round-12 re-probe found SIX documents scans in
    the executed plan (Spark reuses an Exchange only when consumer
    subplans match bit-for-bit, and column pruning makes each consumer's
    scan differ).  Checkpointed, the corpus is scanned once, by a serving
    plan and by a writer landing both relations alike."""
    postings = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(session.materialize, "bm25_postings", eager=False)
    )
    return postings, postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def _write_bm25_index(
    loc: str, postings: DataFrame, dl: DataFrame, batch: int | None = None
) -> str:
    """Store an index under loc as parquet: loc/postings and loc/doclen
    (this and _read_bm25_index are the only code that knows the layout).
    A `batch` (a stream epoch, a refresh delta) lands under `_batch=N` of
    each relation and OVERWRITES only that subdir, so a re-delivered batch
    rewrites its own rows instead of double-appending them (which would
    double tf/dl and corrupt every score).  Batches hold disjoint
    documents and both relations are doc-grain, so their union is the
    exact merge.  Returns loc."""
    sub = "" if batch is None else f"/_batch={batch}"
    postings.write.mode("overwrite").parquet(f"{loc}/postings{sub}")
    dl.write.mode("overwrite").parquet(f"{loc}/doclen{sub}")
    return loc


def _read_bm25_index(
    spark: SparkSession, loc: str
) -> tuple[DataFrame, DataFrame]:
    """(postings, dl) stored under loc by _write_bm25_index, every batch
    merged."""
    return tuple(
        spark.read.parquet(f"{loc}/{rel}").drop("_batch")
        for rel in ("postings", "doclen")
    )


def _persist_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """The corpus's BM25 index, built and stored once per corpus and
    process (x_sources._index_memo): the build is deterministic, so every
    serving lane (persist, batch, delete, compact, update,
    x_sim_hybrid_rrf_persist) reads the same directory.  Returns it."""
    from .x_sources import _corpus_fingerprint, _index_memo

    key = _corpus_fingerprint(sf_dir, "documents.parquet") + ("bm25idx",)
    return _index_memo(
        key,
        "postings",
        lambda loc: _write_bm25_index(
            loc, *_bm25_index(catalog.load(spark, sf_dir).documents)
        ),
    )


def _bm25_c_micro() -> Column:
    """The quantized BM25 contribution of one posting, over the columns
    tf, df, dl, n_docs and total_tokens: idf(t) * tf*(k1+1) /
    (tf + k1*(1-b+b*dl/avgdl)) evaluated in the oracle's literal order and
    floored half-up at 1e-6.  ONE quantization per (doc, term), then exact
    int64 sums per doc, so partition order cannot flip ranks."""
    tf = F.col("tf").cast("double")
    return (
        F.floor(
            F.log(
                (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5)
                + 1.0
            )
            * (tf * F.expr(f"{BM25_K1} + 1.0"))
            / (
                tf
                + F.expr(
                    f"{BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
                    f" * CAST(dl AS DOUBLE)"
                    f" / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)))"
                )
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("c_micro")
    )


def _bm25_contrib(
    postings: DataFrame, dl: DataFrame, q: DataFrame, *keep: str
) -> DataFrame:
    """(*keep, doc_id, c_micro) for every posting of a query term.  q is a
    small (term, df, *keep) relation (broadcast); N and avgdl come from
    dl, a one-row aggregate (broadcast)."""
    n = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    return (
        postings.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .select(*keep, "doc_id", _bm25_c_micro())
    )


def _bm25_query_terms(postings: DataFrame, nq: int) -> DataFrame:
    """(query_id, term, df): the nq * BM25_QTERMS highest-df terms (ties
    lexicographic); query q takes the q-th BM25_QTERMS of them.  The terms
    are TakeOrdered first (scale-safe: never a global window over the
    vocabulary), then numbered within the small frame."""
    from pyspark.sql.window import Window

    by_df = (F.col("df").desc(), F.col("term").asc())
    top = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(*by_df)
        .limit(nq * BM25_QTERMS)
    )
    return top.select(
        F.floor((F.row_number().over(Window.orderBy(*by_df)) - 1) / BM25_QTERMS)
        .cast("long")
        .alias("query_id"),
        "term",
        "df",
    )


def _bm25_from_index(
    postings: DataFrame, dl: DataFrame, nq: int | None = None
) -> DataFrame:
    """Serve BM25 queries off the index relations postings (term, doc_id,
    tf) and dl (doc_id, dl); documents is never touched.

    A batch of nq queries returns (query_id, doc_id, dl, n_terms_matched,
    score_micro, score, rank), the top-BM25_TOPK of every query: scoring
    groups by (query_id, doc_id) and ONE window partitioned by query_id
    ranks all queries in one pass, with no per-query re-scan.  nq=None
    serves the single query of the single-query lanes: query 0 of a batch
    of one, with query_id and rank dropped."""
    from pyspark.sql.window import Window

    q = _bm25_query_terms(postings, nq or 1)
    scored = (
        _bm25_contrib(postings, dl, q, "query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum("c_micro").cast("long").alias("score_micro"),
        )
        .join(dl, "doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    top = (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.col("dl").cast("long").alias("dl"),
            "n_terms_matched",
            "score_micro",
            fround(F.col("score_micro").cast("double") / 1000000.0, 4).alias(
                "score"
            ),
            "rank",
        )
    )
    return top if nq else top.drop("query_id", "rank")


@query("x_text_bm25", oracle=_BM25_ORACLE)
def x_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck Jones, the Lucene-default +1 idf
    variant; k1=1.2 b=0.75): the top-10 documents for a
    deterministic query made of the corpus's BM25_QTERMS highest-df terms
    -- the lexical-retrieval shape RAG data pipelines run beside the
    embedding ANN lane (x_sim_*), with tf saturation and length
    normalization that plain tf-idf (x_text_tfidf_top5) lacks.

    Float discipline: ONE quantization per (doc, query-term) contribution
    (_bm25_c_micro), then exact int64 summation per doc, so partition
    order cannot flip ranks.

    Scale shape: the query relation is BM25_QTERMS rows (broadcast); the
    contributions touch only matching (doc, term) postings; doc lengths
    are one aggregate over the postings; the final top-k is a single
    ranking over per-doc 1-row aggregates.  At 100 TB the postings and doc
    lengths are index-build artifacts, amortized across queries (the
    persisted lanes below store exactly these two relations)."""
    return _bm25_from_index(*_bm25_index(catalog.load(spark, sf_dir).documents))


@query("x_text_bm25_index_persist", oracle=_BM25_ORACLE)
def x_text_bm25_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical twin of x_sim_ann_index_persist: build the BM25
    inverted index ONCE -- postings (term, doc_id, tf) and doc lengths
    (doc_id, dl), the two relations a search engine actually stores --
    persist both as parquet, reload them in a fresh SparkSession
    (spark.newSession()), and serve the query entirely off the loaded
    index: document frequencies, the top-df query set, and the corpus
    stats all re-derive from the postings relation, so serving NEVER
    touches the documents table.  Results are pinned row-identical to the
    in-plan x_text_bm25 lane (tests/test_bm25_cep.py) and the oracle is
    BM25's own replay, unchanged -- the index is exact integers, parquet
    round-trips them losslessly, and the one quantized float per
    (doc, term) computes from identical inputs.

    At 100 TB this split is the retrieval serving shape: the postings
    relation is |distinct (doc, term)| rows partitioned by term (query =
    point lookups of the query terms' posting lists), doc lengths are a
    doc-grain sidecar, and index build cost amortizes across every query
    -- the ann_index_persist argument, lexical edition."""
    loc = _persist_bm25_index(spark, sf_dir)
    return _bm25_from_index(*_read_bm25_index(spark.newSession(), loc))


BM25_BATCH_NQ = 8   # query batch: 8 disjoint 4-term queries = top-32 df terms

_BM25_BATCH_ORACLE = f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
qterms AS (
  SELECT CAST((rn - 1) // {BM25_QTERMS} AS BIGINT) AS query_id, term, df
  FROM (
    SELECT term, df,
           row_number() OVER (ORDER BY df DESC, term ASC) AS rn
    FROM df
  ) WHERE rn <= {BM25_BATCH_NQ * BM25_QTERMS}
),
contrib AS (
  SELECT q.query_id, p.doc_id,
         CAST(FLOOR(
           ln((CAST(n.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
              / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(p.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(p.tf AS DOUBLE) + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * CAST(d.dl AS DOUBLE)
                 / (CAST(n.total_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS c_micro
  FROM postings p JOIN qterms q USING (term) JOIN dl d USING (doc_id)
  CROSS JOIN n
)
SELECT query_id, doc_id, dl, n_terms_matched, score_micro,
       FLOOR((CAST(score_micro AS DOUBLE) / 1000000.0) * 10000.0 + 0.5)
         / 10000.0 AS score,
       CAST(rn AS INT) AS rank
FROM (
  SELECT c.query_id, c.doc_id, CAST(d.dl AS BIGINT) AS dl,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(c.c_micro) AS BIGINT) AS score_micro,
         ROW_NUMBER() OVER (PARTITION BY c.query_id
                            ORDER BY SUM(c.c_micro) DESC, c.doc_id ASC) AS rn
  FROM contrib c JOIN dl d USING (doc_id)
  GROUP BY c.query_id, c.doc_id, d.dl
) WHERE rn <= {BM25_TOPK}
"""

@query("x_text_bm25_batch", oracle=_BM25_BATCH_ORACLE)
def x_text_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BM25 serving off the persisted inverted index -- the
    production retrieval shape the single-query persist lane
    (x_text_bm25_index_persist) builds toward: N = {BM25_BATCH_NQ}
    queries (the corpus's top-32 df terms split into 8 disjoint 4-term
    queries by df rank; query 0 IS x_text_bm25's query, row-identical by
    construction and pinned in tests/test_bm25_cep.py) are joined through
    the postings relation in ONE pass: the 32-row query-term relation
    broadcasts, each query term's posting list joins by term, scoring
    groups by (query_id, doc_id), and ONE window partitioned by query_id
    ranks every query's top-{BM25_TOPK} simultaneously.

    Per-query cost never rescans the corpus: the postings join touches
    only matching (doc, term) rows, exactly the point-lookup pattern
    term-partitioned postings serve at 100 TB; the batch amortizes the
    index load across all N queries (serving 8 queries costs one plan,
    not 8).  Index lifecycle identical to bm25_index_persist: postings +
    doc lengths persisted as parquet, reloaded via spark.newSession(),
    documents never touched after the build."""
    loc = _persist_bm25_index(spark, sf_dir)
    return _bm25_from_index(
        *_read_bm25_index(spark.newSession(), loc), nq=BM25_BATCH_NQ
    )


BM25_REFRESH_PCT = 80   # base batch = doc_id md5-bucket < 80, delta = rest


@query("x_text_bm25_index_refresh", oracle=_BM25_ORACLE)
def x_text_bm25_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the BM25 inverted index -- the
    reference's INSERT INTO ... SELECT / incremental-MV discipline
    (SURVEY A4, x_pipeline_incremental_sales) applied to the retrieval
    index: the index is built from a BASE batch (a deterministic 80% of
    documents by the shared md5 id-hash split), persisted, and then a
    DELTA batch arrives and is merged by landing its postings and doc
    lengths as a second batch -- no rebuild, no read-modify-write:
    (doc_id, term) rows are doc-grain, so a new document's postings are
    disjoint from every existing row by construction, making the union
    the exact merge (the same reasoning that makes the incremental MV
    equal its rebuild).  The CORPUS-level statistics (df, the top-df
    query set, N, avgdl) are NOT stored -- they re-derive from the
    postings at serve time, which is what makes the index refreshable:
    stored df would go stale with every batch, re-derived df is always
    exact.

    Serving happens in a fresh session off the merged index, and the
    oracle is the FULL-CORPUS bm25 replay, unchanged: incremental
    build-then-merge must be indistinguishable from indexing everything
    at once (also pinned directly against x_text_bm25_index_persist in
    tests/test_bm25_cep.py).  At 100 TB this is the shape that keeps a
    corpus-scale index alive under ingest: each batch pays one scan of
    ITSELF (never the corpus), landed as new parquet files beside the
    existing ones."""
    from .x_pipeline import _bucket

    docs = catalog.load(spark, sf_dir).documents
    base = _bucket(F.col("doc_id")) < BM25_REFRESH_PCT
    loc = session.scratch("pdwx-bm25ref-")
    # batch 0 is the base build; batch 1 scans ONLY the new documents
    for batch, pred in enumerate((base, ~base)):
        _write_bm25_index(loc, *_bm25_index(docs.filter(pred)), batch=batch)
    return _bm25_from_index(*_read_bm25_index(spark.newSession(), loc))


BM25_DELETE_PCT = 90   # tombstone the doc_id md5-bucket >= 90 split (10%)
_BM25_SURVIVOR_PRED = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    f" % 100 < {BM25_DELETE_PCT}"
)


def _bm25_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents (doc_id, text) of the md5 band >= BM25_DELETE_PCT:
    the 10% the delete and compact lanes tombstone and the update lane
    edits."""
    from .x_pipeline import _bucket

    return (
        catalog.load(spark, sf_dir)
        .documents.filter(_bucket(F.col("doc_id")) >= BM25_DELETE_PCT)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )


def _bm25_live(
    spark: SparkSession, sf_dir: str, loc: str
) -> tuple[DataFrame, DataFrame]:
    """The index stored under loc, read in `spark`, with every row of a
    _bm25_band document anti-joined out of both relations.  Both are
    doc-grain, so this is PRECISELY the index of the surviving corpus."""
    tomb = _bm25_band(spark, sf_dir).select("doc_id")
    return tuple(
        rel.join(tomb, "doc_id", "left_anti")
        for rel in _read_bm25_index(spark, loc)
    )


@query("x_text_bm25_index_delete", oracle=_bm25_oracle(_BM25_SURVIVOR_PRED))
def x_text_bm25_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE documents from the BM25 inverted index -- the lexical twin
    of x_sim_ann_index_delete, closing the round-12 gap: refresh
    (x_text_bm25_index_refresh) only APPENDS, but the real pipeline shape
    is dedup-then-reindex -- a near-duplicate sweep REMOVES documents and
    the retrieval index must follow without a full rebuild.  A
    deterministic 10% of documents (the shared md5 id-hash split, doc_id
    edition) is tombstoned, and serving masks BOTH index relations by one
    anti-join each -- postings rows of a deleted doc can never contribute
    a score, and its doclen row can never pollute N/avgdl.

    WHY masking both relations is the exact delete: every index relation
    is doc-grain ((doc_id, term) postings, (doc_id) doclen), so the
    anti-joined index is PRECISELY the index of the surviving corpus --
    and because df, the top-df query set, N and avgdl re-derive from the
    postings at serve time (the refresh lane's stored-nothing-stale
    discipline), the masked serve is indistinguishable from a from-scratch
    rebuild on the survivors.  That is the oracle: the full BM25 replay
    over `documents WHERE md5-bucket < 90`, nothing else changed; the
    same equality is pinned directly against a from-scratch rebuild in
    tests/test_bm25_cep.py.  Corpus statistics SHIFT under delete (df and
    N drop, the query set can change) -- exactly what a stale stored-df
    design would get wrong.

    At 100 TB: tombstones arrive as a small relation, the serve-time
    anti-join is AQE-sized (broadcast while it fits, the registry's
    de-hinting discipline), and the term-partitioned postings rewrite
    that reclaims the space is the ANN compaction story
    (x_sim_ann_index_compact) applied to the lexical relations."""
    loc = _persist_bm25_index(spark, sf_dir)
    return _bm25_from_index(*_bm25_live(spark.newSession(), sf_dir, loc))


@query("x_text_bm25_index_compact", oracle=_bm25_oracle(_BM25_SURVIVOR_PRED))
def x_text_bm25_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE for the lexical index -- the compaction
    x_text_bm25_index_delete defers, completing the BM25 lifecycle
    (build: index_persist; append: index_refresh; delete: index_delete;
    reclaim: here) exactly as x_sim_ann_index_compact does for the
    vector index: read the shared memoized build, rewrite BOTH doc-grain
    relations (postings, doclen) with the tombstoned doc_ids anti-joined
    OUT into a compacted directory, and serve with NO mask.  After
    compaction the per-query tombstone anti-join disappears and the dead
    postings stop occupying storage -- the Lucene segment-merge /
    Delta OPTIMIZE role.

    Correctness: anti-join before persist == anti-join after load, so
    the compacted serve must be ROW-IDENTICAL to the masked serve (and
    both to a from-scratch rebuild of the survivors -- the delete lane's
    pinned equality); the oracle is the survivor-corpus replay,
    unchanged.  tests/test_bm25_cep.py pins the identity.  At 100 TB
    the rewrite is one scan of the index relations (|distinct
    (doc, term)| rows, never the corpus), embarrassingly parallel under
    the term-partitioned layout, amortized across every query served
    between compactions."""

    cloc = _compact_bm25_index(spark, sf_dir)
    return _bm25_from_index(*_read_bm25_index(spark.newSession(), cloc))


def _compact_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """The compaction rewrite: the shared persisted build, stored again in
    a fresh scratch dir with every tombstoned document anti-joined out of
    both doc-grain relations (_bm25_live).  Returns the compacted dir."""
    loc = _persist_bm25_index(spark, sf_dir)
    return _write_bm25_index(
        session.scratch("pdwx-bm25compact-"), *_bm25_live(spark, sf_dir, loc)
    )


PRF_FB_DOCS = BM25_TOPK   # feedback set: the BM25 top-10
PRF_FB_TERMS = 8          # expansion terms taken from the feedback docs
PRF_ORIG_W = 1_000_000    # original query terms carry weight 1.0 (micro)

_BM25_PRF_ORACLE = f"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
df AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY 1),
qterms AS (
  SELECT term, df FROM df ORDER BY df DESC, term ASC LIMIT {BM25_QTERMS}
),
contrib0 AS (
  SELECT p.doc_id, p.term,
         CAST(FLOOR(
           ln((CAST(n.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5)
              / (CAST(q.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(p.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(p.tf AS DOUBLE) + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * CAST(d.dl AS DOUBLE)
                 / (CAST(n.total_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS c_micro
  FROM postings p JOIN qterms q USING (term) JOIN dl d USING (doc_id)
  CROSS JOIN n
),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY SUM(c_micro) DESC, doc_id ASC) AS rn
    FROM contrib0 GROUP BY doc_id
  ) WHERE rn <= {PRF_FB_DOCS}
),
exp_terms AS (
  SELECT term, w_micro FROM (
    SELECT p.term,
           CAST(SUM(CAST(FLOOR(1000000.0 * CAST(p.tf AS DOUBLE)
                               / CAST(d.dl AS DOUBLE) + 0.5) AS BIGINT))
                AS BIGINT) AS w_micro,
           ROW_NUMBER() OVER (
             ORDER BY SUM(CAST(FLOOR(1000000.0 * CAST(p.tf AS DOUBLE)
                                     / CAST(d.dl AS DOUBLE) + 0.5) AS BIGINT))
                      DESC, p.term ASC) AS rn
    FROM postings p JOIN fb USING (doc_id) JOIN dl d USING (doc_id)
    WHERE p.term NOT IN (SELECT term FROM qterms)
    GROUP BY p.term
  ) WHERE rn <= {PRF_FB_TERMS}
),
wq AS (
  SELECT term, CAST({PRF_ORIG_W} AS BIGINT) AS w_micro FROM qterms
  UNION ALL SELECT term, w_micro FROM exp_terms
),
contrib AS (
  SELECT p.doc_id, w.term, w.w_micro,
         CAST(FLOOR(
           ln((CAST(n.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
              / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
           * (CAST(p.tf AS DOUBLE) * ({BM25_K1} + 1.0))
           / (CAST(p.tf AS DOUBLE) + {BM25_K1}
              * (1.0 - {BM25_B} + {BM25_B} * CAST(d.dl AS DOUBLE)
                 / (CAST(n.total_tokens AS DOUBLE) / CAST(n.n_docs AS DOUBLE))))
           * 1000000.0 + 0.5) AS BIGINT) AS c_micro
  FROM postings p JOIN wq w USING (term) JOIN df f USING (term)
  JOIN dl d USING (doc_id) CROSS JOIN n
)
SELECT doc_id, n_terms_matched, score_milli,
       CAST(rn AS INT) AS rank
FROM (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM((w_micro * c_micro
                   - ((w_micro * c_micro) % 1000000000
                      + 1000000000) % 1000000000) // 1000000000) AS BIGINT)
           AS score_milli,
         ROW_NUMBER() OVER (
           ORDER BY SUM((w_micro * c_micro
                         - ((w_micro * c_micro) % 1000000000
                            + 1000000000) % 1000000000) // 1000000000)
                    DESC, doc_id ASC) AS rn
  FROM contrib GROUP BY doc_id
) WHERE rn <= {BM25_TOPK}
"""

@query("x_text_bm25_prf", oracle=_BM25_PRF_ORACLE)
def x_text_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (the RM3 shape Anserini/Lucene ship as
    the classical strong lexical baseline): run the BM25 query, take the
    top-{PRF_FB_DOCS} FEEDBACK documents, mine {PRF_FB_TERMS} expansion
    terms from them by summed normalized term frequency (tf/dl per
    feedback doc, quantized to integer micro-units per (term, doc) then
    exactly summed -- the relevance-model weight with uniform doc prior),
    exclude the original query terms, and RE-QUERY with the weighted
    union: original terms at weight 1.0, expansion terms at their mined
    weight.  Final score per doc = exact int64 sum over matched terms of
    floor(w_micro * c_micro / 1e9) (milli-units; the product of two
    micro-quantized factors floored once per (doc, term), so partition
    order cannot flip ranks).

    Everything derives from the SAME postings relation the bm25 family
    shares (_bm25_index, checkpointed once), consumed by the base ranking
    (the single-query scorer), the feedback mining, and the expanded
    re-query; the expansion query is <= {BM25_QTERMS} + {PRF_FB_TERMS}
    rows (broadcast).  At 100 TB PRF costs one extra postings pass over
    the expansion terms' posting lists -- the classic quality/latency
    trade retrieval stacks tune; the feedback mining itself touches only
    {PRF_FB_DOCS} documents' postings."""
    from pyspark.sql.window import Window

    postings, dl = _bm25_index(catalog.load(spark, sf_dir).documents)
    qterms = _bm25_query_terms(postings, 1).select("term")
    fb = (
        _bm25_from_index(postings, dl, nq=1)
        .filter(F.col("rank") <= PRF_FB_DOCS)
        .select("doc_id")
    )
    exp_terms = (
        postings.join(F.broadcast(fb), "doc_id")
        .join(dl, "doc_id")
        .join(F.broadcast(qterms), "term", "left_anti")
        .select(
            "term",
            F.floor(
                1000000.0 * F.col("tf").cast("double") / F.col("dl").cast("double")
                + 0.5
            )
            .cast("long")
            .alias("wd"),
        )
        .groupBy("term")
        .agg(F.sum("wd").cast("long").alias("w_micro"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("w_micro").desc(), F.col("term").asc())
            ),
        )
        .filter(F.col("rn") <= PRF_FB_TERMS)
        .select("term", "w_micro")
    )
    wq = (
        qterms.select("term", F.lit(PRF_ORIG_W).cast("long").alias("w_micro"))
        .unionByName(exp_terms)
        .transform(session.materialize, "prf_query_terms", eager=False)
    )
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # floor(w*c / 1e9) exactly on both engines: subtract the mathematical
    # mod first so truncating division equals floor (the shared idiom;
    # w*c is nonnegative here -- the +1-idf variant never goes negative --
    # so this is belt-and-braces)
    milli = floor_div(F.col("w_micro") * F.col("c_micro"), F.lit(1000000000))
    scored = (
        _bm25_contrib(postings, dl, wq.join(df_t, "term"), "w_micro")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum(milli).cast("long").alias("score_milli"),
        )
    )
    w = Window.orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("doc_id", "n_terms_matched", "score_milli", "rank")
    )


_BM25_UPDATE_DOCS = f"""
SELECT doc_id,
       CASE WHEN NOT ({_BM25_SURVIVOR_PRED})
            THEN text || ' revisedcontent revisedcontent'
            ELSE text END AS text
FROM documents
"""


def _bm25_update_oracle() -> str:
    """The full-corpus replay over the REVISED documents: substitute the
    edited relation for the base table (fail loud if the anchor text in
    _bm25_oracle ever drifts)."""
    base = _bm25_oracle()
    anchor = "FROM documents WHERE TRUE"
    assert anchor in base, "bm25 oracle anchor drifted"
    return base.replace(anchor, f"FROM ({_BM25_UPDATE_DOCS}) WHERE TRUE")

@query("x_text_bm25_index_update", oracle=_bm25_update_oracle())
def x_text_bm25_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RE-INGEST -- the read-modify-write the round-12 verdict named as
    the case that breaks append-only refresh ("the doc-grain
    disjointness argument breaks the moment a document is re-ingested"):
    the md5-band 10% of documents are EDITED (a deterministic content
    revision appended to their text) and the index must follow.  The
    update is its two primitives composed, exactly how search engines
    take document updates: (1) DELETE -- the stale postings/doclen rows
    of the edited docs are tombstone-masked out of the shared persisted
    build (x_text_bm25_index_delete's anti-join); (2) INSERT -- the
    edited documents are re-tokenized (a scan of the EDITED BAND ONLY,
    never the corpus) and their fresh rows unioned in.  After the mask,
    doc-grain disjointness holds again by construction -- the masked
    index has no row for an edited doc -- so union is the exact merge
    (the refresh argument, restored by the delete).

    The oracle is the full BM25 replay over the REVISED corpus (the same
    deterministic edit applied in SQL), and the same equality is pinned
    against a from-scratch index of the revised corpus in
    tests/test_bm25_cep.py: update-in-place must be indistinguishable
    from rebuilding on the new content -- df/N/avgdl shift with the
    edit, correctly, because serving re-derives them.  At 100 TB the
    per-update cost is one anti-join (AQE-sized tombstones) plus one
    scan of the updated batch; compaction (x_text_bm25_index_compact)
    periodically folds the masked rows away."""
    loc = _persist_bm25_index(spark, sf_dir)
    s2 = spark.newSession()
    revised = _bm25_band(s2, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" revisedcontent revisedcontent")).alias(
            "text"
        ),
    )
    postings, dl = _bm25_live(s2, sf_dir, loc)
    new_postings, new_dl = _bm25_index(revised)
    return _bm25_from_index(
        postings.unionByName(new_postings), dl.unionByName(new_dl)
    )
