"""Semantic dedup (SemDeDup) pinning: the distributed per-cell greedy
must match a driver-side numpy replay exactly (same centroids injected
into both, so the comparison isolates the DISTRIBUTION — shuffle,
grouping, Arrow boundary — not the quantizer), plus the structural
guarantees the greedy rule promises."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from stock_prediction_data_engineering_spark.catalog import table
from stock_prediction_data_engineering_spark.operators.semdedup import (
    greedy_keep,
    semantic_dedup,
)
from stock_prediction_data_engineering_spark.operators.similarity import kmeans_fit

from conftest import SF_SMOKE

TAU = 0.25


def _fixture(spark):
    emb = table(spark, SF_SMOKE, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy(dtype=np.int64)
    # deterministic centroids independent of the quantizer fit: the 4
    # smallest-id corpus rows (any fixed matrix works — the test pins
    # the greedy distribution, not the quantizer)
    order = np.argsort(ids)
    cents = X[order[:4]].copy()
    return emb, X, ids, cents


def _twin(X, ids, cents, tau):
    """Pure-numpy replay: assign by the same argmax rule as ivf_assign,
    then greedy_keep per cell."""
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    Xh = X / norms[:, None]
    C = cents.astype(np.float64)
    half = (C**2).sum(axis=1) / 2.0
    cell = np.argmax(Xh @ C.T - half, axis=1)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    chat = C / cn[:, None]
    rows = []
    for c in np.unique(cell):
        mask = cell == c
        csim, kept, dup_of = greedy_keep(Xh[mask], ids[mask], chat[c], tau)
        for i, rid in enumerate(ids[mask]):
            rows.append(
                (int(rid), int(c), round(float(csim[i]), 6), bool(kept[i]),
                 None if kept[i] else int(dup_of[i]))
            )
    return pd.DataFrame(
        rows, columns=["id", "ivf_cell", "centroid_sim", "kept", "dup_of"]
    ).sort_values("id").reset_index(drop=True)


def test_matches_numpy_twin(spark):
    emb, X, ids, cents = _fixture(spark)
    got = (
        semantic_dedup(emb, tau=TAU, centroids=cents)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = _twin(X, ids, cents, TAU)
    assert got.id.tolist() == want.id.tolist()
    assert got.ivf_cell.tolist() == want.ivf_cell.tolist()
    assert got.kept.tolist() == want.kept.tolist()
    got_dup = [None if pd.isna(v) else int(v) for v in got.dup_of]
    want_dup = [None if pd.isna(v) else int(v) for v in want.dup_of]
    assert got_dup == want_dup
    assert np.allclose(got.centroid_sim, want.centroid_sim, atol=1e-9)


def test_greedy_guarantees(spark):
    """Structural promises: verdicts partition the corpus; every drop
    names a kept same-cell member at cosine >= tau; no kept pair in a
    cell reaches tau (maximality of the kept set under the visit
    order)."""
    emb, X, ids, cents = _fixture(spark)
    got = semantic_dedup(emb, tau=TAU, centroids=cents).toPandas()
    assert len(got) == len(ids) and set(got.id) == set(ids)

    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    Xh = X / norms[:, None]
    vec = {int(i): Xh[k] for k, i in enumerate(ids)}
    kept_by_cell: dict[int, list[int]] = {}
    for r in got[got.kept].itertuples():
        kept_by_cell.setdefault(r.ivf_cell, []).append(r.id)

    dropped = got[~got.kept]
    assert len(dropped) > 0  # tau chosen so the rule actually fires
    kept_ids = set(got[got.kept].id)
    for r in dropped.itertuples():
        d = int(r.dup_of)
        assert d in kept_ids
        assert d in kept_by_cell[r.ivf_cell]
        assert float(vec[r.id] @ vec[d]) >= TAU - 1e-9
    for cell, members in kept_by_cell.items():
        M = np.vstack([vec[i] for i in members])
        S = M @ M.T
        np.fill_diagonal(S, 0.0)
        assert S.max() < TAU + 1e-9


def test_registered_query_runs(spark):
    from stock_prediction_data_engineering_spark.registry import ordered_queries

    out = ordered_queries()["q_semantic_dedup"](spark, SF_SMOKE)
    n = out.count()
    total = table(spark, SF_SMOKE, "embeddings").count()
    assert n == total
    assert out.filter(F.col("kept")).count() < total  # some drops


def test_kmeans_fit_deterministic_clamped_and_consistent():
    """The shared k-means (IVF, SemDeDup and PQ): same seed, same
    answer; k clamps to the sample size; duplicate rows and an empty
    cluster leave no NaN; the returned assignment is the argmin of the
    euclidean distance to the returned centers."""
    rng = np.random.default_rng(5)
    X = rng.normal(size=(120, 6))
    c1, a1 = kmeans_fit(X, 7, seed=3)
    c2, a2 = kmeans_fit(X, 7, seed=3)
    assert np.array_equal(c1, c2) and np.array_equal(a1, a2)
    d2 = ((X[:, None, :] - c1[None, :, :]) ** 2).sum(axis=2)
    assert np.array_equal(a1, d2.argmin(axis=1))

    c, a = kmeans_fit(X[:5], 16, seed=0)
    assert c.shape == (5, 6) and sorted(a) == [0, 1, 2, 3, 4]

    # two distinct points, each repeated: k=4 leaves two clusters
    # empty after the first Lloyd step; they keep their centers
    D = np.repeat(X[:2], 10, axis=0)
    c, a = kmeans_fit(D, 4, seed=1)
    assert c.shape == (4, 6) and not np.isnan(c).any()
    assert (np.bincount(a, minlength=4) == 0).sum() == 2
    d2 = ((D[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assert np.array_equal(a, d2.argmin(axis=1))


def test_construction_starts_at_most_two_jobs(spark):
    """Building the verdict frame runs at most 2 Spark jobs: the one
    bounded sample collect (on SF_SMOKE the sample holds the whole
    corpus, so auto-sizing needs no count job); the quantizer fit runs
    on the driver and the rest of the plan is lazy."""
    emb = table(spark, SF_SMOKE, "embeddings")
    sc = spark.sparkContext
    group = "test-semdedup-construction"
    sc.setJobGroup(group, "semantic_dedup construction")
    try:
        out = semantic_dedup(emb, tau=TAU)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("test-idle", "")
    assert 1 <= len(jobs) <= 2, jobs
    assert out.count() == emb.count()
