"""k-center coreset, cluster-balanced sampling, PMI and Moore-Lewis:
independent semantics checks (oracle parity lives in test_oracle_parity.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from postgresql_datawarehouse_excercise_spark.operators import clustering


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def _model_kcenter(vecs, k):
    """Pure-Python greedy farthest-point on the micro-unit grid.  The
    embedding column is array<float>, so quantization sees the float32-
    rounded value — mirror that."""
    import math

    import numpy as np

    q = [
        [int(math.floor(float(np.float32(x)) * 1e6 + 0.5)) for x in v]
        for v in vecs
    ]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    sel = [0]
    mind = [d2(v, q[0]) for v in q]
    for _ in range(1, k):
        nxt = max(range(len(q)), key=lambda i: (mind[i], -i))
        sel.append(nxt)
        mind = [min(m, d2(v, q[nxt])) for m, v in zip(mind, q)]
    assign = {}
    for i, v in enumerate(q):
        best = min(
            ((d2(v, q[c]), r, c) for r, c in enumerate(sel)),
        )
        assign[i] = (best[2], best[1], best[0])
    return sel, assign


def test_kcenter_matches_python_model(spark):
    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(60)]
    k = 5
    sel, assign = _model_kcenter(vecs, k)
    rows = {r.vec_id: r for r in clustering.kcenter_coreset(_emb_df(spark, vecs), k=k).collect()}
    assert len(rows) == len(vecs)
    for i, (cid, rank, dist2) in assign.items():
        r = rows[i]
        assert (r.center_id, r.center_rank, r.dist2) == (cid, rank, dist2), i


def test_kcenter_centers_are_diverse(spark):
    """The farthest-point property: each selected center is at least as far
    from the previously selected set as every later assignment radius (the
    Gonzalez monotone-radius invariant)."""
    rng = random.Random(9)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    sel, assign = _model_kcenter(vecs, 6)
    assert len(set(sel)) == 6
    # radius at selection time is non-increasing in rank
    radii = []
    q = [[int(__import__("math").floor(x * 1e6 + 0.5)) for x in v] for v in vecs]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    for r in range(1, 6):
        prev = sel[:r]
        radii.append(max(min(d2(v, q[c]) for c in prev) for v in q))
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_cluster_balanced_sample_caps_and_orders(spark, sf_dir):
    from postgresql_datawarehouse_excercise_spark import catalog

    t = catalog.load(spark, sf_dir)
    cap = 10
    out = clustering.cluster_balanced_sample(t.embeddings, k=8, cap=cap)
    per = {r.cluster: r for r in out.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.max("rn").alias("mx")
    ).collect()}
    full = {r.cluster: r.n for r in clustering.kmeans_assignments(t.embeddings, 8, 2)
            .groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    for c, r in per.items():
        assert r.n <= cap and r.mx <= cap
        assert r.n == min(cap, full[c])


def test_moore_lewis_separates_domains(spark):
    """Constructed corpora with disjoint head vocabulary: in-domain docs
    must score positive, out-domain docs negative."""
    from postgresql_datawarehouse_excercise_spark.queries.x_text import ML_IN_LANG

    rng = random.Random(3)
    vin = [f"in{i}" for i in range(20)]
    vout = [f"out{i}" for i in range(20)]
    rows = []
    for i in range(10):
        rows.append((i, " ".join(rng.choice(vin) for _ in range(30)), ML_IN_LANG, "s", 0))
    for i in range(10, 20):
        rows.append((i, " ".join(rng.choice(vout) for _ in range(30)), "de", "s", 0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import moore_lewis

    out = {r.doc_id: r for r in moore_lewis(docs).collect()}
    for i in range(10):
        assert out[i].sum_delta_micro > 0 and out[i].selected, (i, out[i])
    for i in range(10, 20):
        assert out[i].sum_delta_micro < 0 and not out[i].selected, (i, out[i])


def test_countmin_never_underestimates(spark, sf_dir):
    """The count-min guarantee: est >= exact for every probed term (min of
    non-negative-collision sums), with at least one real collision at the
    narrow gate width."""
    from postgresql_datawarehouse_excercise_spark.queries import load_all

    rows = load_all()["x_text_countmin_hh"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.cms_est >= r.exact and r.overestimate == r.cms_est - r.exact for r in rows)


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucket decomposition reproduces the plain theta join exactly,
    boundary cases included: touching half-open intervals do NOT overlap,
    ends exactly on a bucket boundary do not leak into the next bucket,
    and long intervals spanning many buckets match once each."""
    import itertools
    import random

    from postgresql_datawarehouse_excercise_spark.operators.asof import (
        interval_overlap_join,
    )

    rng = random.Random(21)
    B = 100
    lefts, rights = [], []
    for i in range(40):
        s = rng.randrange(0, 2000)
        lefts.append((i, s, s + rng.choice([1, 5, B, B + 1, 3 * B, 350])))
    for j in range(30):
        s = rng.choice([rng.randrange(0, 2000), (rng.randrange(0, 20)) * B])
        rights.append((j, s, s + rng.choice([1, B, 2 * B, 77])))
    # hand-placed boundary cases: touching at a point, identical, nested,
    # NEGATIVE epochs (floor-division bucket coverage, not truncation),
    # and DEGENERATE empty/inverted intervals (end <= start overlaps
    # nothing under half-open semantics; without the pre-burst guard,
    # F.sequence would emit a descending bucket range and e.g.
    # [100,100) x [50,200) would pass the residual predicate -- ADVICE r8)
    lefts += [(100, 0, 100), (101, 200, 300), (102, 500, 700),
              (103, -250, -50), (104, -30, 40),
              (105, 100, 100), (106, 500, 400)]
    rights += [(200, 100, 200), (201, 200, 300), (202, 550, 560),
               (203, -120, -80), (204, -10, 5), (205, 50, 200)]
    ldf = spark.createDataFrame(lefts, "lid long, ls long, le long")
    rdf = spark.createDataFrame(rights, "rid long, rs long, re long")
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re", B).collect()
    }
    want = {
        (lid, rid)
        for (lid, ls, le), (rid, rs, re) in itertools.product(lefts, rights)
        if ls < le and rs < re and ls < re and rs < le
    }
    assert got == want
    assert (100, 200) not in got and (101, 201) in got and (102, 202) in got
    # empty/inverted left intervals match nothing, even against a right
    # interval that satisfies the residual overlap predicate
    assert not any(lid in (105, 106) for (lid, _rid) in got)


def test_mmr_rank0_is_relevance_argmax_and_picks_are_diverse(spark, sf_dir):
    """Rank 0 must be the pure-relevance argmax, and the MMR set must be
    no MORE redundant than plain top-k by relevance (its whole purpose):
    max pairwise inner product among MMR picks <= that among the top-k
    relevance picks."""
    import itertools

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.operators.clustering import (
        MMR_QUERY_VEC_ID,
        mmr_select,
        quantize,
    )

    t = catalog.load(spark, sf_dir)
    picks = {r.mmr_rank: r for r in mmr_select(t.embeddings).collect()}
    qv = {r.vec_id: list(r.qv) for r in quantize(t.embeddings).collect()}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    rels = {
        vid: dot(v, qv[MMR_QUERY_VEC_ID])
        for vid, v in qv.items()
        if vid != MMR_QUERY_VEC_ID
    }
    argmax = max(rels, key=lambda v: (rels[v], -v))
    assert picks[0].vec_id == argmax and picks[0].relevance == rels[argmax]

    mmr_ids = [picks[r].vec_id for r in sorted(picks)]
    topk_ids = sorted(rels, key=lambda v: (-rels[v], v))[: len(mmr_ids)]

    def max_pair(ids):
        return max(dot(qv[a], qv[b]) for a, b in itertools.combinations(ids, 2))

    assert max_pair(mmr_ids) <= max_pair(topk_ids)


def test_dsir_budget_and_topk(spark, sf_dir):
    """DSIR invariants: the selected set is exactly the top max(16, n//10)
    raw docs by (logw_micro desc, doc_id asc), and a Python replay of the
    hashed-bigram models reproduces every weight."""
    import hashlib
    import math
    import re
    from collections import Counter

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        DSIR_BUCKETS,
        DSIR_FRACTION,
        DSIR_LANG,
        x_pipeline_dsir,
    )

    rows = x_pipeline_dsir(spark, sf_dir).collect()
    n = len(rows)
    k = max(16, n // DSIR_FRACTION)
    assert sum(r.selected for r in rows) == k
    order = sorted(rows, key=lambda r: (-r.logw_micro, r.doc_id))
    assert all(r.selected for r in order[:k])
    assert not any(r.selected for r in order[k:])

    # model replay
    docs = catalog.load(spark, sf_dir).documents.select("doc_id", "lang", "text").collect()

    def bigrams(text):
        tk = re.findall(r"[a-z0-9]+", text.lower())
        return [f"{a} {b}" for a, b in zip(tk, tk[1:])]

    def bucket(bg):
        return int(hashlib.md5(bg.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    c_t, c_r = Counter(), Counter()
    for d in docs:
        c = c_t if d.lang == DSIR_LANG else c_r
        for bg in bigrams(d.text):
            c[bucket(bg)] += 1
    t_t, t_r = sum(c_t.values()), sum(c_r.values())
    buckets = set(c_t) | set(c_r)
    delta = {
        b: math.floor(
            (
                math.log((c_t[b] + 1.0) / (t_t + DSIR_BUCKETS))
                - math.log((c_r[b] + 1.0) / (t_r + DSIR_BUCKETS))
            )
            * 1e6
            + 0.5
        )
        for b in buckets
    }
    want = {}
    for d in docs:
        if d.lang == DSIR_LANG:
            continue
        want[d.doc_id] = sum(delta[bucket(bg)] for bg in bigrams(d.text))
    got = {r.doc_id: r.logw_micro for r in rows}
    assert got == want


def test_lr_classifier_exact_python_replay(spark, sf_dir):
    """The all-integer GD loop replays exactly in pure Python: same
    weights, same confusion counts (no float leakage anywhere)."""
    import math
    import re

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        LR_ITERS,
        LR_LR10,
        LR_WORDS,
        x_text_lr_classifier,
    )

    docs = catalog.load(spark, sf_dir).documents.select("lang", "text").collect()
    feats, nf = [], len(LR_WORDS) + 2
    for d in docs:
        tk = re.findall(r"[a-z0-9]+", d.text.lower())
        n = max(len(tk), 1)
        x = [1000]
        x += [math.floor(1000.0 * tk.count(w) / n + 0.5) for w in LR_WORDS]
        x.append(math.floor(100.0 * len(d.text.replace(" ", "")) / n + 0.5))
        feats.append((1 if d.lang == "en" else 0, x))

    w = [0] * nf
    for _ in range(LR_ITERS):
        g = [0] * nf
        for y, x in feats:
            z = sum(w[j] * x[j] for j in range(nf))
            p4 = min(max(z + 2_000_000_000, 0), 4_000_000_000)
            err4 = p4 - y * 4_000_000_000
            for j in range(nf):
                g[j] += math.floor(err4 * x[j] / 40_000_000.0 + 0.5)
        w = [w[j] - math.floor(LR_LR10 * g[j] / len(feats) + 0.5) for j in range(nf)]
    tp = fp = tn = fn = 0
    for y, x in feats:
        pred = 1 if sum(w[j] * x[j] for j in range(nf)) >= 0 else 0
        tp += pred and y
        fp += pred and not y
        tn += (not pred) and (not y)
        fn += (not pred) and y

    row = x_text_lr_classifier(spark, sf_dir).collect()[0]
    assert [row[f"w{j}"] for j in range(nf)] == w
    assert (row.tp, row.fp, row.tn, row.fn) == (tp, fp, tn, fn)


def test_cdc_boundary_shift_robustness():
    """The reason CDC exists: a one-token prefix insertion resynchronizes
    chunking at the next content boundary, so most chunks survive intact;
    a fixed-width block grid shifts every downstream block.  Pure-Python
    replica of the entry's md5 boundary rule."""
    import hashlib
    import random

    from postgresql_datawarehouse_excercise_spark.queries.x_text import CDC_DIV

    random.seed(11)
    vocab = ["alpha", "bravo", "carol", "delta", "echo1", "fox", "golf", "hotel"]
    tokens = [random.choice(vocab) for _ in range(400)]

    def cdc_chunks(tk):
        chunks, cur = [], [tk[0]]
        for prev, term in zip(tk, tk[1:]):
            h = int(hashlib.md5(f"{prev} {term}".encode()).hexdigest()[:8], 16)
            if h % CDC_DIV == 0:
                chunks.append(" ".join(cur))
                cur = []
            cur.append(term)
        chunks.append(" ".join(cur))
        return chunks

    def block_chunks(tk, w=16):
        return [" ".join(tk[i : i + w]) for i in range(0, len(tk), w)]

    shifted = ["inserted"] + tokens
    a, b = set(cdc_chunks(tokens)), set(cdc_chunks(shifted))
    cdc_overlap = len(a & b) / len(a)
    ba, bb = set(block_chunks(tokens)), set(block_chunks(shifted))
    block_overlap = len(ba & bb) / len(ba)
    assert cdc_overlap > 0.8, cdc_overlap
    assert block_overlap < 0.2, block_overlap


def test_reservoir_sample_reduces_to_uniform_topk_and_prefers_weight(spark, sf_dir):
    """Efraimidis-Spirakis sanity: (a) exactly K rows, rank 1..K; (b) with
    ALL weights equal the selection must equal plain top-K by the id-hash
    uniform alone (u^(1/w) is monotone in u for fixed w)."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        RESERVOIR_K,
        x_pipeline_reservoir_sample,
    )

    rows = x_pipeline_reservoir_sample(spark, sf_dir).collect()
    assert len(rows) == RESERVOIR_K
    assert sorted(r.rank for r in rows) == list(range(1, RESERVOIR_K + 1))
    # (b): replay with constant weight == rank by u alone
    t = catalog.load(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    by_u = [
        r.doc_id
        for r in t.documents.select(
            F.col("doc_id").cast("long").alias("doc_id"), h.alias("h")
        )
        .orderBy(F.col("h").desc(), F.col("doc_id").asc())
        .limit(RESERVOIR_K)
        .collect()
    ]
    const_w = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (
            F.floor(
                F.log((h.cast("double") + F.lit(1.0)) / F.lit(4294967296.0))
                * 1000000.0
                + 0.5
            ).cast("long")
        ).alias("lnu"),
    )
    by_es = [
        r.doc_id
        for r in const_w.orderBy(
            (F.col("lnu").cast("double") / F.lit(7.0)).desc(), F.col("doc_id").asc()
        )
        .limit(RESERVOIR_K)
        .collect()
    ]
    assert set(by_u) == set(by_es)


def test_edit_join_complete_vs_bruteforce(spark, sf_dir):
    """Ed-Join completeness at the gate corpus: the prefix-filtered +
    length-filtered candidate pipeline must return EXACTLY the brute-force
    set of pairs within ED_D (distinct-gram prefix filtering is the
    classic recall trade, so completeness is pinned empirically, the
    prefix_join discipline)."""
    import duckdb

    from postgresql_datawarehouse_excercise_spark.queries.x_dedup import (
        ED_D,
        x_dedup_edit_join,
    )

    got = {
        (r.doc_a, r.doc_b, r.edit_distance)
        for r in x_dedup_edit_join(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = set(
        con.sql(f"""
        SELECT CAST(a.doc_id AS BIGINT), CAST(b.doc_id AS BIGINT),
               CAST(levenshtein(a.text, b.text) AS BIGINT)
        FROM documents a JOIN documents b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {ED_D}
        """).fetchall()
    )
    assert got == want, (len(got), len(want))
    assert want, "calibration: the gate corpus must contain within-D pairs"


def test_edit_join_short_docs_not_missed(spark):
    """Docs shorter than ED_Q emit zero q-grams, so without the sentinel
    arm they would never enter the prefix index -- yet any two short
    strings are trivially within ED_D.  Pin exact completeness vs brute
    force on a corpus built of exactly those shapes: short-short pairs,
    short-vs-midlength pairs straddling the q-gram boundary, identical
    short copies (the within-cohort lane), and long docs as controls."""
    import duckdb

    from postgresql_datawarehouse_excercise_spark.queries.x_dedup import (
        ED_D,
        ED_Q,
        edit_join_pairs,
    )

    rows = [
        (1, "cat"),                      # short, pairs with 2,3 within d
        (2, "cart"),                     # short
        (3, "cat"),                      # exact copy of 1 (cohort lane)
        (4, "abcdefgh"),                 # len 8 < ED_Q
        (5, "abcdefghijklmn"),           # len 14 >= ED_Q, within d of 4
        (6, "x" * (ED_Q + ED_D + 5)),    # long, beyond d of all short docs
        (7, "x" * (ED_Q + ED_D + 5)),    # exact copy of 6
        (8, "zzzzzzzzzz"),               # short, distance >9 from cat-family
    ]
    assert any(len(t) < ED_Q for _, t in rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.edit_distance)
        for r in edit_join_pairs(spark, docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = set(
        con.sql(f"""
        SELECT a.doc_id, b.doc_id, CAST(levenshtein(a.text, b.text) AS BIGINT)
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {ED_D}
        """).fetchall()
    )
    assert (1, 2, 1) in want and (1, 3, 0) in want and (4, 5, 6) in want
    assert got == want, (sorted(got - want), sorted(want - got))


def test_edit_join_verify_boundary_vs_bruteforce(spark):
    """The verify is levenshtein's threshold form, which returns -1 once
    the distance passes ED_D: a pair at exactly ED_D must come out with
    distance ED_D, a pair at ED_D + 1 must not come out, and a pair whose
    lengths differ by more than ED_D must not come out either.  Exact-copy members of a cohort inherit their
    representative's distance.  All compared with DuckDB's brute force.
    Every doc has more than ED_PREFIX q-grams, where the prefix filter
    guarantees a shared indexed gram for any pair within ED_D, so the
    pairs reach the verify however the edits are spread."""
    import duckdb

    from postgresql_datawarehouse_excercise_spark.queries.x_dedup import (
        ED_D,
        ED_PREFIX,
        ED_Q,
        edit_join_pairs,
    )

    rng = random.Random(17)

    def text(n: int) -> str:
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    def substituted(s: str, k: int, gap: int) -> str:
        # k substitutions, gap characters apart, each to a different letter
        out = list(s)
        for i in range(k):
            p = 5 + i * gap
            out[p] = "z" if out[p] != "z" else "y"
        return "".join(out)

    n = ED_PREFIX + ED_Q + 10
    at_d, past_d, grown, copied = text(n), text(n), text(n), text(n + 5)
    rows = [
        (1, at_d),
        # distance ED_D, edits spread over the whole text: kept
        (2, substituted(at_d, ED_D, n // ED_D)),
        (3, past_d),
        # distance ED_D + 1 in one block: most grams survive, so the pair
        # is a candidate and the verify must drop it
        (4, substituted(past_d, ED_D + 1, 1)),
        (5, grown),
        (6, grown + text(ED_D + 1)),            # lengths differ by ED_D + 1
        (7, grown + text(ED_D)),                # lengths differ by ED_D
        (8, copied),                            # 8, 9, 10: one cohort
        (9, copied),
        (10, copied),
        (11, substituted(copied, ED_D, n // ED_D)),  # ED_D from every member
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b, r.edit_distance)
        for r in edit_join_pairs(spark, docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    dist = dict(
        ((a, b), e)
        for a, b, e in con.sql("""
        SELECT a.doc_id, b.doc_id, CAST(levenshtein(a.text, b.text) AS BIGINT)
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        """).fetchall()
    )
    want = {(a, b, e) for (a, b), e in dist.items() if e <= ED_D}
    # calibration: the corpus holds each boundary shape
    assert min(len(t) for _, t in rows) - ED_Q + 1 > ED_PREFIX
    assert dist[1, 2] == ED_D and dist[3, 4] == ED_D + 1
    assert dist[5, 6] > ED_D and dist[5, 7] == ED_D
    assert {(8, 9, 0), (8, 10, 0), (9, 10, 0)} <= want
    assert {(8, 11, ED_D), (9, 11, ED_D), (10, 11, ED_D)} <= want
    assert got == want, (sorted(got - want), sorted(want - got))


def test_salted_join_identical_to_plain_join(spark):
    """salted_join is row-identical to the plain equi-join on a synthetic
    hot-key corpus (one key owns half the fact), including duplicate dim
    keys (each fact row must meet each matching dim row exactly once)."""
    from postgresql_datawarehouse_excercise_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(("hot" if i % 2 == 0 else f"k{i % 7}"), i) for i in range(2000)],
        "k string, v long",
    )
    # duplicate dim rows for one key: fanout must be preserved exactly
    dim = spark.createDataFrame(
        [("hot", 10), ("k1", 20), ("k2", 30), ("k2", 31), ("k3", 40),
         ("k5", 60), ("zzz", 99)],
        "k string, w long",
    )
    hot = spark.createDataFrame([("hot",)], "k string")
    got = sorted(
        map(tuple, salted_join(fact, dim, "k", hot, buckets=8).collect())
    )
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want
    assert len(want) > 1500  # hot fanout 1000 + cold keys + dup-dim fanout
    # DUPLICATE rows in hot_keys itself (ADVICE r12: skew_report-style
    # inputs can repeat a key) must not fan out the marker joins --
    # salted_join deduplicates the key relation before broadcasting
    hot_dup = spark.createDataFrame(
        [("hot",), ("hot",), ("k1",), ("k1",), ("k1",)], "k string"
    )
    got_dup = sorted(
        map(tuple, salted_join(fact, dim, "k", hot_dup, buckets=8).collect())
    )
    assert got_dup == want


def test_sequence_packing_skewed_ids(spark):
    """The packing decomposition under a PATHOLOGICAL id space (VERDICT
    r13: fixed id-range buckets collapse when 99% of ids land in one
    range): 990 ids packed into [0, 990) plus 10 ids scattered out to
    1e12.  Quantile boundaries must (a) reproduce the global-window
    semantics exactly and (b) spread the dense mass across many buckets
    instead of collapsing phase 3 to one partition."""
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        PACK_BUCKETS,
        PACK_L,
        _pack_layout,
    )

    ids = list(range(990)) + [10**9 * (i + 1) + i for i in range(10)]
    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 3 * PACK_L)) for i in ids]
    tok = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (
            r["start_tok"], r["first_chunk"], r["last_chunk"],
            r["n_chunks"], r["chunk_offset"],
        )
        for r in _pack_layout(spark, tok).collect()
    }
    acc = 0
    for i, n in sorted(rows):
        first = acc // PACK_L
        last = (acc + n - 1) // PACK_L if n > 0 else first
        nchunks = last - first + 1 if n > 0 else 0
        assert got[i] == (acc, first, last, nchunks, acc % PACK_L), i
        acc += n
    # bucket-population check: the dense 99% must not collapse into one
    # bucket -- rank (quantile) boundaries give ~equal-count buckets
    qs = [i / PACK_BUCKETS for i in range(1, PACK_BUCKETS)]
    bounds = tok.agg(
        F.percentile(F.col("doc_id").cast("double"), F.lit(qs)).alias("q")
    ).first()["q"]
    bucket_of = lambda d: sum(1 for b in bounds if d > b)  # noqa: E731
    from collections import Counter

    pop = Counter(bucket_of(i) for i in ids)
    assert len(pop) >= PACK_BUCKETS - 1
    assert max(pop.values()) <= 3 * (len(ids) // PACK_BUCKETS)


def test_banding_policy_derives_production_banding(spark):
    """The analytic planner independently derives the production 8x4
    banding as the minimizer at the Jaccard-0.5 dedup threshold (the
    32-permutation width admits 6 factorizations; 8x4's s-curve midpoint
    ~0.59 balances the FP mass below 0.5 against the FN mass above it)."""
    from postgresql_datawarehouse_excercise_spark.operators.dedup import (
        BANDS,
        ROWS_PER_BAND,
    )
    from postgresql_datawarehouse_excercise_spark.queries import load_all

    rows = load_all()["x_dedup_banding_policy"].fn(spark, "unused").collect()
    assert len(rows) == 6
    chosen = [r for r in rows if r["chosen"]]
    assert len(chosen) == 1
    assert (chosen[0]["bands"], chosen[0]["rows_per_band"]) == (
        BANDS,
        ROWS_PER_BAND,
    )
    # the error masses are monotone in the expected directions: more
    # bands -> more FP mass, fewer bands -> more FN mass
    by_bands = sorted(rows, key=lambda r: r["bands"])
    fps = [r["fp_nano"] for r in by_bands]
    fns = [r["fn_nano"] for r in by_bands]
    assert fps == sorted(fps)
    assert fns == sorted(fns, reverse=True)
