"""Extension: unigram-LM (SentencePiece-style) subword tokenizer trainer.

The tokenizer-training story's second production algorithm beside BPE
(x_text_bpe_merges): instead of greedy pair merging, a unigram language
model over a candidate-piece vocabulary is fit by hard (Viterbi) EM --
Kudo 2018, "Subword Regularization" (the algorithm SentencePiece ships as
`--model_type=unigram`), restricted to its deterministic Viterbi core so
the DuckDB oracle can replay every round bit-for-bit.

Algorithm (UNI_ROUNDS rounds of Viterbi EM):
  seed   piece vocabulary = every substring of length 1..UNI_L of every
         distinct word, cost(p) = -ln(occurrences/total) in integer
         MICRO-NATS (the x_text_unigram_logprob float discipline: ONE
         cross-engine ln per piece, then exact int64 everywhere);
  E-step each distinct word is segmented by a Viterbi DP over its
         positions -- dp[i] = min_j dp[i-j] + cost(substr(i-j+1, j)),
         j <= UNI_L -- run entirely inside one `aggregate()` fold per
         word (JVM expression, no Python), with the backpointer PACKED
         into the cost's low 4 bits (packed = cost*16 + (UNI_L - j), so
         integer `least()` breaks cost ties toward the LONGEST final
         piece, identically in both engines); a second fold walks the
         backpointers to emit the winning pieces;
  M-step cost'(p) = -ln(usage/total_usage) micro-nats over the pieces the
         Viterbi pass actually used; unused pieces are pruned except
         single characters, which stay with a floor usage of 1 (numerator
         1, SAME denominator) so the DP always has a feasible path.  The
         char floor deliberately does NOT inflate the denominator: used
         pieces keep their exact MLE probabilities (the model is then
         improper by the floor mass, like Stupid Backoff's count-ratio
         scores) -- this is what makes hard-EM monotonicity PROVABLE:
         the MLE step can only raise the likelihood of the current
         segmentation, and extra floor entries only ADD options to the
         next Viterbi pass.  tests/test_unigram_lm.py pins it with the
         quantization slack (<=0.5 micro-nat per emitted token).

Scale shape (100 TB lens): training runs on the DISTINCT-word frequency
table -- vocabulary-sized, not corpus-sized (the classic trainer input,
same as BPE) -- so after the ONE corpus-wide word-count scan+groupBy,
every EM round touches |vocab| rows; the per-round model (piece, cost) is
a few-hundred-row relation, materialized so lineage stays bounded.
The encode entry is the only doc-grain pass: the corpus word stream joins
the per-word segmentation on the word key (shuffle keyed by word, never
by doc pair) and aggregates once per doc.

Reference capability family: tokenizer preparation for the LLM-pipeline
north star (BASELINE.json); no reference-parity counterpart (extension,
like x_text_bpe_*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..functions import fround
from ..session import materialize
from ..operators.dedup import tokens
from . import query

UNI_L = 4          # max candidate piece length (chars)
UNI_ROUNDS = 3     # Viterbi-EM rounds
UNI_BIG = 10**9    # infeasible-piece cost (micro-nats); > any real dp cost


# ---------------------------------------------------------------------------
# Shared expression builders: the SAME arithmetic emitted for Spark SQL and
# DuckDB, parameterized only by each engine's list/map spelling, so the two
# DP implementations cannot drift.
# ---------------------------------------------------------------------------

def _dp_branch_spark(j: int) -> str:
    return (
        f"CASE WHEN i >= {j} THEN"
        f" ((element_at(acc, i - {j} + 1) div 16)"
        f"  + coalesce(element_at(m, substring(w, i - {j} + 1, {j})), {UNI_BIG}))"
        f" * 16 + {UNI_L - j}"
        f" ELSE CAST(NULL AS BIGINT) END"
    )


_DP_SPARK = (
    "aggregate(sequence(1, length(w)), array(CAST(0 AS BIGINT)),"
    " (acc, i) -> array_append(acc, least("
    + ", ".join(_dp_branch_spark(j) for j in range(1, UNI_L + 1))
    + ")))"
)

# backtrack: acc = [current position as string, piece, piece, ...]
_BL_SPARK = (
    f"CAST({UNI_L} - pmod(element_at(dp,"
    f" CAST(element_at(acc, 1) AS INT) + 1), 16) AS INT)"
)
_BT_SPARK = (
    "aggregate(sequence(1, length(w)),"
    " array(CAST(length(w) AS STRING)),"
    " (acc, z) -> CASE WHEN CAST(element_at(acc, 1) AS INT) > 0 THEN"
    f" concat(array(CAST(CAST(element_at(acc, 1) AS INT) - {_BL_SPARK} AS STRING)),"
    "  slice(acc, 2, greatest(size(acc) - 1, 0)),"
    f"  array(substring(w, CAST(element_at(acc, 1) AS INT) - {_BL_SPARK} + 1,"
    f"   {_BL_SPARK})))"
    " ELSE acc END)"
)


def _dp_branch_duck(j: int) -> str:
    # step computes dp at position d.i + 1; dp[i-j] lives at acc[i-j+1]
    return (
        f"CASE WHEN d.i + 1 >= {j} THEN"
        f" ((d.acc[CAST(d.i + 2 - {j} AS INT)] // 16)"
        f"  + coalesce(map_extract(m.m, substr(d.w, CAST(d.i + 2 - {j} AS INT),"
        f" {j}))[1], {UNI_BIG}))"
        f" * 16 + {UNI_L - j}"
        f" ELSE NULL END"
    )


# DuckDB 1.0.0's list_reduce mis-aligns rows when the lambda captures outer
# columns (observed: one word's backtrack read another word's dp), so the
# oracle's DP and backtrack are RECURSIVE CTEs -- plain SQL, no lambdas.
# Row counts stay vocabulary-scale: sum(len(w)) rows per round.
def _dp_ctes_duck(r: str, wm: str) -> str:
    """Recursive DP + backtrack for round tag `r` over word-map CTE `wm`:
    emits dparr{r} (w, freq, dp) and pieces{r} (w, freq, piece)."""
    bl = f"({UNI_L} - CAST(d.dp[b.pos + 1] % 16 AS INT))"
    return f"""dpr{r}(w, freq, i, acc) AS (
  SELECT w, freq, 0, CAST([0] AS BIGINT[]) FROM {wm}
  UNION ALL
  SELECT d.w, d.freq, d.i + 1,
         list_append(d.acc, least({', '.join(_dp_branch_duck(j) for j in range(1, UNI_L + 1))}))
  FROM dpr{r} d JOIN {wm} m ON d.w = m.w
  WHERE d.i < len(d.w)
),
dparr{r} AS MATERIALIZED (SELECT w, freq, acc AS dp FROM dpr{r} WHERE i = len(w)),
btr{r}(w, pos, piece) AS (
  SELECT w, len(w), CAST(NULL AS VARCHAR) FROM dparr{r}
  UNION ALL
  SELECT b.w, b.pos - {bl}, substr(b.w, b.pos - {bl} + 1, {bl})
  FROM btr{r} b JOIN dparr{r} d USING (w)
  WHERE b.pos > 0
),
pieces{r} AS MATERIALIZED (
  SELECT b.w, d.freq, b.piece AS p
  FROM btr{r} b JOIN dparr{r} d USING (w)
  WHERE b.piece IS NOT NULL
)"""

_COST_SQL = (
    "CAST(-FLOOR(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)


# ---------------------------------------------------------------------------
# DuckDB oracle: the full EM replay, one CTE block per round.
# ---------------------------------------------------------------------------

def _uni_ctes(rounds: int = UNI_ROUNDS) -> str:
    """CTE chain ending at model{rounds} + dpb1..dpb{rounds} + stat rows."""
    ctes = [
        """words AS MATERIALIZED (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
    FROM documents)
  GROUP BY w
)""",
        """chars AS MATERIALIZED (
  SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS p
  FROM words, unnest(range(1, len(w) + 1)) AS g(i)
)""",
        f"""sub0 AS MATERIALIZED (
  SELECT substr(w, CAST(i AS INT), CAST(j AS INT)) AS p, SUM(freq) AS cnt
  FROM words,
       unnest(range(1, len(w) + 1)) AS g(i),
       unnest(range(1, {UNI_L} + 1)) AS h(j)
  WHERE i + j - 1 <= len(w)
  GROUP BY 1
)""",
        "tot0 AS (SELECT SUM(cnt) AS total FROM sub0)",
        f"""model0 AS MATERIALIZED (
  SELECT p, {_COST_SQL.format(num='cnt', den='total')} AS cost
  FROM sub0, tot0
)""",
    ]
    for r in range(1, rounds + 1):
        prev = f"model{r - 1}"
        ctes.append(f"""wm{r} AS MATERIALIZED (
  SELECT s.w, s.freq, map_from_entries(list({{'k': s.p, 'v': m.cost}})) AS m
  FROM (
    SELECT DISTINCT w.w, w.freq, substr(w.w, CAST(i AS INT), CAST(j AS INT)) AS p
    FROM words w,
         unnest(range(1, len(w.w) + 1)) AS g(i),
         unnest(range(1, {UNI_L} + 1)) AS h(j)
    WHERE i + j - 1 <= len(w.w)
  ) s JOIN {prev} m USING (p)
  GROUP BY s.w, s.freq
)""")
        ctes.append(_dp_ctes_duck(str(r), f"wm{r}"))
        ctes.append(f"""used{r} AS MATERIALIZED (
  SELECT p, SUM(freq) AS u FROM pieces{r} GROUP BY 1
)""")
        ctes.append(f"tot{r} AS (SELECT SUM(u) AS total FROM used{r})")
        ctes.append(f"""model{r} AS MATERIALIZED (
  SELECT p, {_COST_SQL.format(num='u', den='total')} AS cost
  FROM used{r}, tot{r}
  UNION ALL
  SELECT c.p, {_COST_SQL.format(num='1.0', den='total')} AS cost
  FROM chars c, tot{r}
  WHERE c.p NOT IN (SELECT p FROM used{r})
)""")
    return "RECURSIVE " + ",\n".join(ctes)


def _uni_train_oracle(rounds: int = UNI_ROUNDS) -> str:
    selects = [
        f"""SELECT {r} AS round,
       CAST((SELECT COUNT(*) FROM model{r - 1}) AS BIGINT) AS vocab_size,
       CAST((SELECT COUNT(DISTINCT p) FROM pieces{r}) AS BIGINT)
         AS pieces_used,
       CAST((SELECT SUM(freq) FROM pieces{r}) AS BIGINT) AS tokens_total,
       CAST((SELECT SUM(freq * (dp[len(w) + 1] // 16)) FROM dparr{r}) AS BIGINT)
         AS total_cost_micro"""
        for r in range(1, rounds + 1)
    ]
    return "WITH " + _uni_ctes(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def _uni_encode_oracle(rounds: int = UNI_ROUNDS) -> str:
    return f"""WITH {_uni_ctes(rounds)},
wmF AS MATERIALIZED (
  SELECT s.w, s.freq, map_from_entries(list({{'k': s.p, 'v': m.cost}})) AS m
  FROM (
    SELECT DISTINCT w.w, w.freq, substr(w.w, CAST(i AS INT), CAST(j AS INT)) AS p
    FROM words w,
         unnest(range(1, len(w.w) + 1)) AS g(i),
         unnest(range(1, {UNI_L} + 1)) AS h(j)
    WHERE i + j - 1 <= len(w.w)
  ) s JOIN model{rounds} m USING (p)
  GROUP BY s.w, s.freq
),
{_dp_ctes_duck("F", "wmF")},
dpbF AS MATERIALIZED (
  SELECT d.w,
         (SELECT COUNT(*) FROM piecesF p WHERE p.w = d.w) AS n_pieces,
         d.dp[len(d.w) + 1] // 16 AS wcost
  FROM dparrF d
),
docw AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(d.w)) AS BIGINT) AS n_chars,
       CAST(SUM(f.n_pieces) AS BIGINT) AS n_tokens,
       CAST(SUM(f.wcost) AS BIGINT) AS sum_cost_micro,
       FLOOR((CAST(SUM(f.n_pieces) AS DOUBLE) / CAST(SUM(len(d.w)) AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS compression
FROM docw d JOIN dpbF f USING (w)
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Spark side.
# ---------------------------------------------------------------------------

def _uni_words(documents: DataFrame) -> DataFrame:
    """Distinct-word frequency table -- the vocabulary-sized trainer input
    (ONE corpus scan; checkpointed so EM rounds never re-scan the corpus)."""
    return (
        documents.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(materialize, "uni_words")
    )


def _cost_col(num, den) -> F.Column:
    return (
        -F.floor(F.log(num.cast("double") / den.cast("double")) * 1000000.0 + 0.5)
    ).cast("long")


def _uni_seed_model(words: DataFrame) -> DataFrame:
    """cost(p) = -ln(occurrences/total) micro-nats over every substring of
    length 1..UNI_L (occurrences weighted by word frequency)."""
    subs = words.select(
        "freq",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length(w)), i ->"
                f" transform(sequence(1, least({UNI_L}, length(w) - i + 1)),"
                f" j -> substring(w, i, j))))"
            )
        ).alias("p"),
    ).groupBy("p").agg(F.sum("freq").alias("cnt"))
    tot = subs.agg(F.sum("cnt").alias("total"))
    return subs.crossJoin(F.broadcast(tot)).select(
        "p", _cost_col(F.col("cnt"), F.col("total")).alias("cost")
    )


def _uni_segment(words: DataFrame, model: DataFrame) -> DataFrame:
    """One Viterbi E-step: (w, freq, pieces array<string>, wcost long).

    The per-word cost map comes from joining the word's distinct substrings
    to the model (missing pieces surface as NULL -> UNI_BIG inside the DP);
    both folds are JVM `aggregate()` expressions -- no Python in the loop."""
    wsubs = words.select(
        "w",
        F.explode(
            F.expr(
                f"array_distinct(flatten(transform(sequence(1, length(w)), i ->"
                f" transform(sequence(1, least({UNI_L}, length(w) - i + 1)),"
                f" j -> substring(w, i, j)))))"
            )
        ).alias("p"),
    )
    wm = (
        wsubs.join(model, "p")
        .groupBy("w")
        .agg(F.map_from_entries(F.collect_list(F.struct("p", "cost"))).alias("m"))
    )
    return (
        words.join(wm, "w")
        .withColumn("dp", F.expr(_DP_SPARK))
        .withColumn("bt", F.expr(_BT_SPARK))
        .select(
            "w",
            "freq",
            F.expr("slice(bt, 2, greatest(size(bt) - 1, 0))").alias("pieces"),
            F.expr("element_at(dp, length(w) + 1) div 16").alias("wcost"),
        )
    )


def _uni_mstep(words: DataFrame, seg: DataFrame) -> DataFrame:
    """MLE over the segmentation's piece usage; unused single chars stay at
    floor numerator 1 over the SAME denominator (improper on purpose --
    see module docstring's monotonicity argument)."""
    # `used` feeds three consumers (m_used, the m_chars anti-join, and the
    # total); left lazy, each consumer re-ran the ENTIRE Viterbi E-step
    # above it.  Vocabulary-sized (one row per used piece), so it is tiny.
    used = (
        seg.select("freq", F.explode("pieces").alias("p"))
        .groupBy("p")
        .agg(F.sum("freq").alias("u"))
        .transform(materialize, "uni_used_pieces")
    )
    tot = used.agg(F.sum("u").alias("total"))
    m_used = used.crossJoin(F.broadcast(tot)).select(
        "p", _cost_col(F.col("u"), F.col("total")).alias("cost")
    )
    chars = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("p")
    ).distinct()
    m_chars = (
        chars.join(used, "p", "left_anti")
        .crossJoin(F.broadcast(tot))
        .select("p", _cost_col(F.lit(1.0), F.col("total")).alias("cost"))
    )
    return materialize(m_used.unionByName(m_chars), "uni_model")


def unigram_train_rounds(
    documents: DataFrame, rounds: int = UNI_ROUNDS
) -> tuple[DataFrame, DataFrame]:
    """(stats, final_model): run `rounds` Viterbi-EM rounds.

    stats = one row per round (round, vocab_size, pieces_used, tokens_total,
    total_cost_micro), built from 1-row aggregates (the BPE/kmeans bounded
    pattern); final_model = (p, cost) after the last M-step."""
    spark = documents.sparkSession
    words = _uni_words(documents)
    model = materialize(_uni_seed_model(words), "uni_model")
    stats = None
    for r in range(1, rounds + 1):
        vocab = model.agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
        # the round's E-step feeds three consumers (word_stats, used_stats,
        # the M-step); materialize the vocabulary-sized segmentation so the
        # Viterbi DP fold runs once per round, not three times.
        seg = materialize(_uni_segment(words, model), "uni_segmentation")
        word_stats = seg.agg(
            F.sum(F.col("freq") * F.size("pieces")).cast("long").alias("tokens_total"),
            F.sum(F.col("freq") * F.col("wcost")).cast("long").alias("total_cost_micro"),
        )
        used_stats = (
            seg.select(F.explode("pieces").alias("p"))
            .agg(F.count_distinct("p").cast("long").alias("pieces_used"))
        )
        row = (
            spark.range(1)
            .select(F.lit(r).cast("int").alias("round"))
            .crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(used_stats))
            .crossJoin(F.broadcast(word_stats))
            .select(
                "round", "vocab_size", "pieces_used",
                "tokens_total", "total_cost_micro",
            )
        )
        stats = row if stats is None else stats.unionByName(row)
        model = _uni_mstep(words, seg)
    return stats, model


@query("x_text_unigram_lm", oracle=_uni_train_oracle())
def x_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword tokenizer TRAINING (SentencePiece's model type,
    Kudo 2018) by hard Viterbi EM -- see module docstring for the
    algorithm, the packed-backpointer DP fold, and the provable-monotone
    M-step.  Output: one row per EM round (vocab size of the model the
    round segmented WITH, distinct pieces the Viterbi pass used, total
    emitted tokens, and the corpus Viterbi cost in exact micro-nats --
    the quantity tests/test_unigram_lm.py pins as non-increasing)."""
    t = catalog.load(spark, sf_dir)
    stats, _ = unigram_train_rounds(t.documents)
    return stats


@query("x_text_unigram_encode", oracle=_uni_encode_oracle())
def x_text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every document with the TRAINED unigram LM (the encode
    half, like x_text_bpe_encode): one final Viterbi pass over the
    vocabulary-sized word table with the post-EM model, then the corpus
    word stream joins the per-word segmentation on the word key (the only
    doc-grain pass -- shuffle keyed by word, aggregate once per doc).
    Output per doc: words, chars, emitted subword tokens, exact summed
    Viterbi cost (micro-nats), tokens-per-char compression at 4dp."""
    t = catalog.load(spark, sf_dir)
    words = _uni_words(t.documents)
    model = materialize(_uni_seed_model(words), "uni_model")
    for _ in range(UNI_ROUNDS):
        model = _uni_mstep(words, _uni_segment(words, model))
    seg = _uni_segment(words, model).select(
        "w", F.size("pieces").alias("n_pieces"), "wcost"
    )
    docw = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(tokens(F.col("text"))).alias("w"),
    )
    return (
        docw.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_tokens"),
            F.sum("wcost").cast("long").alias("sum_cost_micro"),
        )
        .select(
            "doc_id", "n_words", "n_chars", "n_tokens", "sum_cost_micro",
            fround(
                F.col("n_tokens").cast("double") / F.col("n_chars").cast("double"), 4
            ).alias("compression"),
        )
    )
