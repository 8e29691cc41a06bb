"""Independent pure-Python model checks for x_text_bm25 and
x_events_cep_pattern (the third leg beside the Spark lane and the DuckDB
oracle: a from-scratch reimplementation with no shared SQL)."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import duckdb

from postgresql_datawarehouse_excercise_spark.queries.x_events import (
    CEP_MAX_US,
    x_events_cep_pattern,
)
from postgresql_datawarehouse_excercise_spark.queries.x_text import (
    BM25_QTERMS,
    BM25_TOPK,
    x_text_bm25,
)

SF = "/root/testdata/sf0.001"


def _docs():
    con = duckdb.connect()
    return con.execute(
        f"SELECT CAST(doc_id AS BIGINT), text FROM"
        f" read_parquet('{SF}/documents.parquet')"
    ).fetchall()


def test_bm25_matches_python_model(spark):
    k1, b = 1.2, 0.75
    toks = {d: re.findall(r"[a-z0-9]+", t.lower()) for d, t in _docs()}
    dl = {d: len(ws) for d, ws in toks.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df: Counter = Counter()
    for ws in toks.values():
        df.update(set(ws))
    qterms = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_QTERMS]
    scores: dict[int, tuple[int, int]] = {}
    for d, ws in toks.items():
        tf = Counter(ws)
        micro, matched = 0, 0
        for term, dfreq in qterms:
            if tf[term] == 0:
                continue
            matched += 1
            idf = math.log((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
            c = idf * (tf[term] * (k1 + 1.0)) / (
                tf[term] + k1 * (1.0 - b + b * dl[d] / avgdl)
            )
            micro += int(math.floor(c * 1000000.0 + 0.5))
        if matched:
            scores[d] = (micro, matched)
    expect = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:BM25_TOPK]
    got = sorted(
        ((r["doc_id"], (r["score_micro"], r["n_terms_matched"]))
         for r in x_text_bm25(spark, SF).collect()),
        key=lambda kv: (-kv[1][0], kv[0]),
    )
    assert got == expect


def test_bm25_persist_lane_identical(spark):
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        x_text_bm25_index_persist,
    )

    direct = sorted(map(tuple, x_text_bm25(spark, SF).collect()))
    persisted = sorted(map(tuple, x_text_bm25_index_persist(spark, SF).collect()))
    assert len(direct) == BM25_TOPK
    assert persisted == direct


def test_cep_matches_python_model(spark):
    con = duckdb.connect()
    evs = con.execute(
        f"SELECT user_id, epoch_us(ts) AS t_us, event_type, event_id FROM"
        f" read_parquet('{SF}/events.parquet')"
    ).fetchall()
    # the catalog reads TIMESTAMP(NANOS) as micros; duckdb truncates ns->us
    # identically, so epoch micros agree
    by_user: dict[int, list] = defaultdict(list)
    for u, t_us, et, eid in evs:
        by_user[u].append((t_us, eid, et))
    expect = set()
    for u, rows in by_user.items():
        rows.sort()
        i = 0
        while i < len(rows):
            if rows[i][2] == "view":
                j = i + 1
                n_clicks = 0
                while j < len(rows) and rows[j][2] == "click":
                    n_clicks += 1
                    j += 1
                if (
                    n_clicks >= 1
                    and j < len(rows)
                    and rows[j][2] == "purchase"
                    and rows[j][0] - rows[i][0] <= CEP_MAX_US
                ):
                    expect.add((u, rows[i][0], rows[j][0], n_clicks,
                                rows[j][0] - rows[i][0]))
            i += 1
    got = {tuple(r) for r in x_events_cep_pattern(spark, SF).collect()}
    assert got == expect and len(got) > 0


def test_bm25_batch_query0_identical_to_single_lane(spark):
    """Query 0 of the batch IS the single lane's query (the top-4 df
    terms), and batch width cannot change per-query results (the ranking
    window partitions by query_id)."""
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        BM25_BATCH_NQ,
        x_text_bm25_batch,
    )

    batch = x_text_bm25_batch(spark, SF)
    b0 = sorted(
        (r["doc_id"], r["dl"], r["n_terms_matched"], r["score_micro"], r["score"])
        for r in batch.filter("query_id = 0").collect()
    )
    single = sorted(map(tuple, x_text_bm25(spark, SF).collect()))
    assert b0 == single
    assert batch.select("query_id").distinct().count() == BM25_BATCH_NQ


def test_bm25_batch_python_model(spark):
    """Independent third leg for the batch lane: a from-scratch Python
    BM25 over every batch query must reproduce each per-query top-k."""
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        BM25_BATCH_NQ,
        x_text_bm25_batch,
    )

    k1, b = 1.2, 0.75
    toks = {d: re.findall(r"[a-z0-9]+", t.lower()) for d, t in _docs()}
    dl = {d: len(ws) for d, ws in toks.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df: Counter = Counter()
    for ws in toks.values():
        df.update(set(ws))
    ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = {}
    for qid in range(BM25_BATCH_NQ):
        qterms = ranked[qid * BM25_QTERMS:(qid + 1) * BM25_QTERMS]
        scores: dict[int, tuple[int, int]] = {}
        for d, ws in toks.items():
            tf = Counter(ws)
            micro, matched = 0, 0
            for term, dfreq in qterms:
                if tf[term] == 0:
                    continue
                matched += 1
                idf = math.log((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
                c = idf * (tf[term] * (k1 + 1.0)) / (
                    tf[term] + k1 * (1.0 - b + b * dl[d] / avgdl)
                )
                micro += int(math.floor(c * 1000000.0 + 0.5))
            if matched:
                scores[d] = (micro, matched)
        top = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:BM25_TOPK]
        expect[qid] = [(d, m[1], m[0]) for d, m in top]
    got: dict[int, list] = {}
    for r in x_text_bm25_batch(spark, SF).orderBy("query_id", "rank").collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["n_terms_matched"], r["score_micro"])
        )
    assert got == expect


def test_bm25_refresh_identical_to_full_build(spark):
    """Incremental base+delta index maintenance must be indistinguishable
    from indexing the full corpus at once (doc-grain postings make append
    the exact merge; corpus stats re-derive at serve time)."""
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        x_text_bm25_index_persist,
        x_text_bm25_index_refresh,
    )

    full = sorted(map(tuple, x_text_bm25_index_persist(spark, SF).collect()))
    refreshed = sorted(map(tuple, x_text_bm25_index_refresh(spark, SF).collect()))
    assert len(full) == BM25_TOPK
    assert refreshed == full


def test_bm25_prf_python_model(spark):
    """From-scratch PRF model: base BM25 ranking -> feedback docs ->
    tf/dl-mined expansion terms -> weighted re-query, all in pure Python
    with the same integer quantization points."""
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        PRF_FB_DOCS,
        PRF_FB_TERMS,
        PRF_ORIG_W,
        x_text_bm25_prf,
    )

    k1, b = 1.2, 0.75
    toks = {d: re.findall(r"[a-z0-9]+", t.lower()) for d, t in _docs()}
    dl = {d: len(ws) for d, ws in toks.items()}
    n_docs = len(dl)
    avgdl = sum(dl.values()) / n_docs
    df: Counter = Counter()
    for ws in toks.values():
        df.update(set(ws))
    qterms = [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:BM25_QTERMS]]

    def c_micro(term, d, tf):
        idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
        c = idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl[d] / avgdl))
        return int(math.floor(c * 1000000.0 + 0.5))

    base = Counter()
    for d, ws in toks.items():
        tf = Counter(ws)
        for t in qterms:
            if tf[t]:
                base[d] += c_micro(t, d, tf[t])
    fb = [d for d, _ in sorted(base.items(), key=lambda kv: (-kv[1], kv[0]))[:PRF_FB_DOCS]]
    w: Counter = Counter()
    for d in fb:
        tf = Counter(toks[d])
        for t, c in tf.items():
            if t not in qterms:
                w[t] += int(math.floor(1000000.0 * c / dl[d] + 0.5))
    exp = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))[:PRF_FB_TERMS]
    wq = {t: PRF_ORIG_W for t in qterms} | dict(exp)
    scores: dict[int, tuple[int, int]] = {}
    for d, ws in toks.items():
        tf = Counter(ws)
        milli, matched = 0, 0
        for t, wt in wq.items():
            if tf[t]:
                matched += 1
                milli += (wt * c_micro(t, d, tf[t])) // 1000000000
        if matched:
            scores[d] = (milli, matched)
    expect = [
        (d, m[1], m[0], i + 1)
        for i, (d, m) in enumerate(
            sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:BM25_TOPK]
        )
    ]
    got = sorted(
        (
            (r["doc_id"], r["n_terms_matched"], r["score_milli"], r["rank"])
            for r in x_text_bm25_prf(spark, SF).collect()
        ),
        key=lambda r: r[3],
    )
    assert got == expect and len(got) == BM25_TOPK


def test_bm25_delete_identical_to_survivor_rebuild(spark):
    """Tombstone-masked serving must be indistinguishable from a
    from-scratch index of the SURVIVING corpus (doc-grain relations make
    the anti-join the exact delete; df/N/avgdl re-derive at serve time,
    so the statistics shift correctly instead of going stale)."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        _bucket,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        BM25_DELETE_PCT,
        _bm25_from_index,
        x_text_bm25_index_delete,
    )

    got = sorted(map(tuple, x_text_bm25_index_delete(spark, SF).collect()))

    # from-scratch rebuild on the surviving documents only
    t = catalog.load(spark, SF)
    survivors = t.documents.filter(_bucket(F.col("doc_id")) < BM25_DELETE_PCT)
    toks = survivors.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    rebuilt = sorted(map(tuple, _bm25_from_index(postings, dl).collect()))

    assert len(got) == BM25_TOPK
    assert got == rebuilt
    # the tombstoned band really is gone from the results
    deleted = {
        r["doc_id"]
        for r in t.documents.select(
            F.col("doc_id").cast("long").alias("doc_id")
        ).filter(_bucket(F.col("doc_id")) >= BM25_DELETE_PCT).collect()
    }
    assert deleted
    assert not deleted & {r[0] for r in got}


def test_stream_bm25_index_identical_to_batch_index(spark):
    """Streamed build-by-micro-batches must be indistinguishable from
    indexing the whole corpus at once (batch-disjoint doc-grain rows make
    per-epoch landing the exact merge; corpus stats re-derive at serve)."""
    from postgresql_datawarehouse_excercise_spark.queries.x_streaming import (
        x_stream_bm25_index,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        x_text_bm25_index_persist,
    )

    batch = sorted(map(tuple, x_text_bm25_index_persist(spark, SF).collect()))
    streamed = sorted(map(tuple, x_stream_bm25_index(spark, SF).collect()))
    assert len(batch) == BM25_TOPK
    assert streamed == batch


def test_bm25_compact_identical_to_masked_serve_and_tombstone_free(spark):
    """x_text_bm25_index_compact: rewriting both doc-grain relations
    without the tombstoned doc_ids and serving unmasked must equal the
    tombstone-masked serve, and zero tombstoned rows may survive."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        _bucket,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        BM25_DELETE_PCT,
        _compact_bm25_index,
        _read_bm25_index,
        x_text_bm25_index_compact,
        x_text_bm25_index_delete,
    )

    masked = sorted(map(tuple, x_text_bm25_index_delete(spark, SF).collect()))
    compacted = sorted(
        map(tuple, x_text_bm25_index_compact(spark, SF).collect())
    )
    assert len(masked) == BM25_TOPK
    assert compacted == masked

    t = catalog.load(spark, SF)
    tomb = {
        r["doc_id"]
        for r in t.documents.select(
            F.col("doc_id").cast("long").alias("doc_id")
        ).filter(_bucket(F.col("doc_id")) >= BM25_DELETE_PCT).collect()
    }
    assert tomb
    # zero tombstoned docs in the doc-grain relations the rewrite stored
    for rel in _read_bm25_index(spark, _compact_bm25_index(spark, SF)):
        assert not tomb & {
            r["doc_id"] for r in rel.select("doc_id").distinct().collect()
        }


def test_bm25_update_identical_to_revised_rebuild(spark):
    """Re-ingest (delete stale rows + insert re-tokenized revised rows)
    must be indistinguishable from a from-scratch index of the REVISED
    corpus -- the read-modify-write case append-only refresh cannot take."""
    from pyspark.sql import functions as F

    from postgresql_datawarehouse_excercise_spark import catalog
    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        _bucket,
    )
    from postgresql_datawarehouse_excercise_spark.queries.x_text import (
        BM25_DELETE_PCT,
        _bm25_from_index,
        x_text_bm25_index_update,
    )

    got = sorted(map(tuple, x_text_bm25_index_update(spark, SF).collect()))

    t = catalog.load(spark, SF)
    revised = t.documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(
            _bucket(F.col("doc_id")) >= BM25_DELETE_PCT,
            F.concat(F.col("text"), F.lit(" revisedcontent revisedcontent")),
        ).otherwise(F.col("text")).alias("text"),
    )
    toks = revised.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("term"),
    )
    rebuilt = sorted(
        map(
            tuple,
            _bm25_from_index(
                toks.groupBy("term", "doc_id").agg(
                    F.count(F.lit(1)).alias("tf")
                ),
                toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
            ).collect(),
        )
    )
    assert len(got) == BM25_TOPK
    assert got == rebuilt
