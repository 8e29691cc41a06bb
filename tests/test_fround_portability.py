"""fround portability: Spark, DuckDB, and plain-IEEE Python must agree
bit-for-bit on floor(x * 10^s + 0.5) / 10^s for ANY double.

This is the regression guard for the engine-portable rounding discipline
(functions.fround / sql_floor_round): round(double, s) diverges between
engines at representable .xxx5 ties (NOTES_round4.md item 8); the floor
form must not.
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from postgresql_datawarehouse_excercise_spark.functions import floor_div, fround, sql_floor_round


def _py_floor_round(x: float, scale: int) -> float:
    f = float(10**scale)
    return math.floor(x * f + 0.5) / f


def _adversarial_values() -> list[float]:
    vals: list[float] = []
    # representable ties: k / 2^m near 4dp and 6dp boundaries (sum/8, sum/16,
    # sum/32 averages -- the class that broke round() at sf0.1)
    for m in (3, 4, 5, 6, 7):
        for k in range(1, 200, 7):
            vals.append(k / (1 << m))
            vals.append(539.93 / (1 << m) * k)
    # decimal-looking near-ties
    vals += [67.49125, 112829.75625, 0.00005, 0.000049999999, 1.00005, 872.04545]
    # magnitudes across the range + negatives
    rng = random.Random(42)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(500)]
    vals += [rng.uniform(-1, 1) for _ in range(500)]
    return vals


@pytest.mark.parametrize("scale", [2, 4, 6])
def test_fround_matches_duckdb_and_ieee(spark, scale):
    vals = _adversarial_values()
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got_spark = [
        r[0] for r in df.select(fround(df.x, scale)).collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_duck = [r[0] for r in con.sql(f"SELECT {sql_floor_round('x', scale)} FROM t").fetchall()]

    want = [_py_floor_round(v, scale) for v in vals]
    assert got_spark == want, "Spark fround diverges from the IEEE formula"
    assert got_duck == want, "DuckDB floor-form diverges from the IEEE formula"


def test_floor_div_matches_duckdb_and_python_floor(spark):
    """functions.floor_div must equal DuckDB's (a - ((a % b + b) % b)) // b
    -- the oracles' spelling -- and Python's a // b on signed inputs:
    negative numerators and divisors, exact multiples, and the half-up-mean
    ties (2s + n) / (2n) at s / n = k + 1/2 for negative and positive k."""
    pairs = [(a, b) for a in range(-13, 14) for b in (-4, -3, -1, 1, 2, 3, 7)]
    pairs += [(2 * s + n, 2 * n) for n in (1, 2, 4) for s in range(-9, 10)]
    pairs += [(-(10**12) - 1, 10**9), (10**12 + 1, 10**9), (-(10**9), 10**9)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got_spark = sorted(
        tuple(r) for r in df.select("a", "b", floor_div(df.a, df.b)).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    got_duck = sorted(
        con.sql("SELECT a, b, (a - ((a % b + b) % b)) // b FROM t").fetchall()
    )
    want = sorted((a, b, a // b) for a, b in pairs)
    assert got_spark == want, "Spark floor_div diverges from floor division"
    assert got_duck == want, "DuckDB floor form diverges from floor division"


def test_plain_round_is_not_portable_on_ties(spark):
    """Documents WHY fround exists: Spark round() and the IEEE binary value
    disagree on the representable tie 67.49125 (= 539.93/8 in doubles)."""
    from pyspark.sql import functions as F

    tie = 539.93 / 8  # binary value just below decimal 67.49125
    [spark_round] = spark.createDataFrame([(tie,)], ["x"]).select(
        F.round("x", 4)
    ).first()
    assert spark_round == 67.4913  # shortest-string HALF_UP rounds the tie up
    assert _py_floor_round(tie, 4) == 67.4912  # the binary value is below it


def test_gemm_rounding_margin_floors(sf_dir):
    """The GEMM kernels (semantic-dedup pairs, cosine_neardup_blocked) round
    BLAS sums at 6 dp where the DuckDB oracle rounds a SEQUENTIAL left-fold;
    the two only agree because every cosine sits far from both a 6-dp
    rounding boundary and the 0.35 dup threshold.  Round-6 measured those
    margins once (closest boundary 1.6e-12 in cosine units vs ~1e-16
    GEMM-vs-fold divergence; closest rounded cosine 2.9e-5 from the
    threshold); this recomputes BOTH over all gate-scale pairs and asserts
    floors, so a data or kernel change that erodes the safety margin fails
    loudly instead of surfacing as a one-in-a-round hash flake."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from postgresql_datawarehouse_excercise_spark.operators import similarity as sim

    tab = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    emb = np.array(tab.column("embedding").to_pylist(), dtype=np.float64)
    n = emb.shape[0]
    assert n == 500  # C(500,2) = 124,750 pairs, the round-6 measurement set

    # GEMM path: normalize then one matmul (the production kernel's shape)
    norms_g = np.sqrt((emb * emb).sum(axis=1))
    gemm = (emb / norms_g[:, None]) @ (emb / norms_g[:, None]).T

    # fold path: strict sequential left-fold via cumsum (numpy's sum is
    # pairwise; cumsum is the sequential order Spark/DuckDB folds use)
    norms_f = np.sqrt(np.cumsum(emb * emb, axis=1)[:, -1])
    prods = emb[:, None, :] * emb[None, :, :]
    fold = np.cumsum(prods, axis=2)[:, :, -1] / (norms_f[:, None] * norms_f[None, :])

    iu = np.triu_indices(n, k=1)
    g, f = gemm[iu], fold[iu]

    divergence = np.abs(g - f).max()
    d = g * 1e6 + 0.5
    frac = d - np.floor(d)
    boundary_margin = np.minimum(frac, 1.0 - frac).min() / 1e6
    rounded = np.floor(d) / 1e6
    threshold_margin = np.abs(rounded - sim.SEMDEDUP_THRESHOLD).min()

    # the safety property: the closest rounding boundary is ORDERS further
    # than the kernels can disagree, and no rounded cosine sits close
    # enough to the dup threshold for a last-digit flip to change dup/keep
    assert divergence < 1e-14, divergence
    assert boundary_margin > 100 * divergence, (boundary_margin, divergence)
    assert boundary_margin > 1e-13, boundary_margin
    assert threshold_margin > 1e-5, threshold_margin
    # and the two engines' dup decisions are identical outright
    assert np.array_equal(
        np.floor(f * 1e6 + 0.5) / 1e6 >= sim.SEMDEDUP_THRESHOLD,
        rounded >= sim.SEMDEDUP_THRESHOLD,
    )


def test_decontaminate_semantic_rounding_margin_floors(sf_dir):
    """x_pipeline_decontaminate_semantic relies on three float evaluation
    orders agreeing after 1e-6 half-up rounding: DuckDB's
    list_cosine_similarity on raw vectors, the gated numpy GEMM on
    pre-normalized vectors, and the exact sequential fold (ADVICE r8).
    This pins the safety margins on the entry's OWN train x eval cosine
    set: the max-cosine per train row must sit orders of magnitude further
    from a 0.5e-6 rounding boundary than the kernels can diverge, and no
    rounded max-cosine may sit within a last-digit flip of the
    DECON_SEM_THRESHOLD contamination cut."""
    import hashlib
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from postgresql_datawarehouse_excercise_spark.queries.x_pipeline import (
        DECON_SEM_THRESHOLD,
        TRAIN_PCT,
    )

    tab = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    emb = np.array(tab.column("embedding").to_pylist(), dtype=np.float64)
    vec_ids = np.array(tab.column("vec_id").to_pylist())
    bucket = np.array(
        [int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % 100 for v in vec_ids]
    )
    train, ev = emb[bucket < TRAIN_PCT], emb[bucket >= TRAIN_PCT]
    assert len(train) and len(ev)

    # GEMM path (the gated kernel): normalize both sides, one matmul
    tn = train / np.sqrt((train * train).sum(axis=1))[:, None]
    en = ev / np.sqrt((ev * ev).sum(axis=1))[:, None]
    gemm_max = (tn @ en.T).max(axis=1)

    # fold path (the oracle's evaluation order): sequential dot, then divide
    prods = train[:, None, :] * ev[None, :, :]
    dots = np.cumsum(prods, axis=2)[:, :, -1]
    tn2 = np.sqrt(np.cumsum(train * train, axis=1)[:, -1])
    en2 = np.sqrt(np.cumsum(ev * ev, axis=1)[:, -1])
    fold_max = (dots / (tn2[:, None] * en2[None, :])).max(axis=1)

    divergence = np.abs(gemm_max - fold_max).max()
    d = gemm_max * 1e6 + 0.5
    frac = d - np.floor(d)
    boundary_margin = np.minimum(frac, 1.0 - frac).min() / 1e6
    rounded = np.floor(d) / 1e6
    threshold_margin = np.abs(rounded - DECON_SEM_THRESHOLD).min()

    assert divergence < 1e-14, divergence
    assert boundary_margin > 100 * divergence, (boundary_margin, divergence)
    assert boundary_margin > 1e-13, boundary_margin
    # measured at the gate SF: 8e-6 (8 rounding quanta from the cut).  A
    # kernel disagreement can move a rounded cosine by at most ONE 1e-6
    # quantum (divergence << 0.5e-6 guarantees same rounding cell except
    # at a boundary, which boundary_margin excludes), so >= 2 quanta of
    # threshold clearance makes the contaminated/clean decision identical
    # across engines; a data regen that lands a cosine nearer fails here
    # before it surfaces as a gate hash flake.
    assert threshold_margin >= 2e-6, threshold_margin
    # identical contamination decisions under either evaluation order
    assert np.array_equal(
        np.floor(fold_max * 1e6 + 0.5) / 1e6 >= DECON_SEM_THRESHOLD,
        rounded >= DECON_SEM_THRESHOLD,
    )
