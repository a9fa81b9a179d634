"""Semantic deduplication (SemDeDup, Abbas et al. 2023,
arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
prune near-duplicate pairs WITHIN each cluster, keeping the member
least similar to its centroid ("keep the edge examples" — the
variant the paper measures best for downstream data efficiency).

Relationship to the other vector dedup paths: embedding_near_dup_pairs
(operators/dedup.py) emits PAIRS from hyperplane-LSH buckets and leaves
resolution to the caller; semantic_dedup emits a per-row KEEP/DROP
verdict directly, with cluster-scoped comparisons — the shape a
curation pipeline consumes (filter on ``kept``) and the shape that
scales: candidate comparisons never cross cluster boundaries, so the
quadratic term is bounded by the cell size, not the corpus.

Scale design (the 100 TB story):
- The quantizer fit is O(sample) — one collect of a deterministic
  hash-ordered top-k (never a full sort) feeds a seeded numpy k-means
  on the driver, the same fit as IVF/IVF-PQ
  (operators/similarity.py ``fit_quantizer``). No Spark job runs for
  the fit, and none for auto-sizing when the sample holds the whole
  corpus.
- Cell assignment is one Arrow-batched numpy matmul per batch
  (ivf_assign) — linear, shuffle-free.
- The per-cell greedy pass runs under ``applyInPandas`` grouped by
  cell id: one shuffle keyed by ``ivf_cell``, then O(m·kept·d) numpy
  work per cell. ``n_cells`` is the memory/skew knob — at sqrt(N)
  cells the expected cell is sqrt(N) rows; at 100 TB you raise
  n_cells so a cell's float64 matrix (rows × dim × 8 B) fits a task.
  The paper itself runs tens of thousands of clusters for this
  reason.
- Determinism: seeded k-means on a deterministic sample, rows sorted
  by id inside each cell before the greedy order is computed, float64
  throughout — reruns produce identical verdicts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

VERDICT_SCHEMA = (
    "id long, ivf_cell int, centroid_sim double, kept boolean, dup_of long"
)


def greedy_keep(Xh, ids, centroid, tau: float):
    """The per-cluster SemDeDup rule on unit vectors, pure numpy (shared
    by the Spark path and the test twin so the pinned comparison is of
    DISTRIBUTION, not of two algorithm implementations).

    Visit members by ascending centroid similarity (ties by id — the
    paper keeps LOW-centroid-similarity representatives); a member is
    dropped iff its cosine to an already-kept member reaches ``tau``,
    recording that member as ``dup_of``. Returns (centroid_sim, kept,
    dup_of) aligned with the input order; dup_of is -1 for kept rows.
    """
    import numpy as np

    m, d = Xh.shape
    csim = Xh @ centroid
    order = np.lexsort((ids, csim))  # csim asc, id asc
    kept = np.zeros(m, dtype=bool)
    dup_of = np.full(m, -1, dtype=np.int64)
    kbuf = np.empty((m, d), dtype=np.float64)
    kids: list[int] = []
    nk = 0
    for i in order:
        if nk:
            sims = kbuf[:nk] @ Xh[i]
            j = int(np.argmax(sims))
            if sims[j] >= tau:
                dup_of[i] = kids[j]
                continue
        kept[i] = True
        kbuf[nk] = Xh[i]
        kids.append(int(ids[i]))
        nk += 1
    return csim, kept, dup_of


def semantic_dedup(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.25,
    n_cells: int | str = "auto",
    seed: int = 42,
    fit_limit: int = 16384,
    centroids=None,
) -> DataFrame:
    """Per-row semantic-dedup verdicts: ``(id, ivf_cell, centroid_sim,
    kept, dup_of)``. ``dup_of`` names the kept member that shadowed a
    dropped row (NULL for kept rows). ``centroids`` injects a
    pre-fitted (n_cells, dim) matrix — used by the pinned twin test;
    normally the quantizer is fit here on a bounded sample.
    ``n_cells="auto"`` sizes the cell count to ~sqrt(N) (power of 2,
    floor 8) — the same rule as ivf_build — so per-cell quadratic work
    AND grouped-map parallelism both track the corpus.
    """
    import numpy as np

    from .similarity import fit_quantizer, ivf_assign

    src = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    if centroids is None:
        centroids, _, _ = fit_quantizer(src, "vec", n_cells, seed, fit_limit, min_cells=8)
    cents = np.asarray(centroids, dtype=np.float64)
    cnorm = np.linalg.norm(cents, axis=1)
    cnorm[cnorm == 0] = 1.0
    chat = cents / cnorm[:, None]

    assigned = ivf_assign(src, cents, vec_col="vec")

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        X = np.vstack(
            [np.asarray(v, dtype=np.float64) for v in pdf["vec"].values]
        )
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        cell = int(pdf["ivf_cell"].iloc[0])
        ids = pdf["id"].to_numpy(dtype=np.int64)
        csim, kept, dup_of = greedy_keep(X / norms[:, None], ids, chat[cell], tau)
        return pd.DataFrame(
            {
                "id": ids,
                "ivf_cell": np.full(len(ids), cell, dtype=np.int32),
                "centroid_sim": np.round(csim, 6),
                "kept": kept,
                "dup_of": pd.array(
                    [None if k else int(v) for k, v in zip(kept, dup_of)],
                    dtype="Int64",
                ),
            }
        )

    return assigned.groupBy("ivf_cell").applyInPandas(_cell, VERDICT_SCHEMA)
