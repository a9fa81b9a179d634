"""Product-quantization ANN — the third L7 scale path (SURVEY.md
§2.11), after hyperplane LSH and IVF-Flat (operators/similarity.py).

Why PQ at 100 TB: LSH and IVF prune *which* vectors are scanned, but
every scanned row still reads the full float vector (256 B at 64-dim
float32; KBs for modern embedding dims). PQ compresses each vector to
``m`` one-byte centroid codes (m=8 → 32× smaller at 64-dim), so the
candidate scan reads tiny code arrays and scores them with ``m``
table lookups per row — a 100 TB embedding corpus becomes a ~3 TB
code lake, and the scan cost is memory-bandwidth on codes, not FLOPs
on floats. This is the standard quantized-search design (Jégou,
Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011).

Shape of the implementation, Spark-first:

- **Codebook fit is O(1) in corpus size.** The per-subspace k-means
  codebooks total ``m × 2^nbits × (dim/m)`` floats (≈64 KB at the
  defaults) and are fit on a deterministic bounded sample collected
  to the driver (hash-ordered top-k — TakeOrderedAndProject, no full
  sort; the collect is bounded metadata like the ranker offset maps,
  never O(corpus)). The FULL corpus only flows through the
  distributed, map-only encode.
- **Encoding is Arrow-vectorized.** A pandas_udf batch-encodes
  vectors with one numpy argmin per subspace; the codebooks ride in
  the closure. A 256-way nearest-centroid argmin is exactly the
  "genuinely can't express with built-in operators" case the UDF
  budget exists for.
- **Scoring is pure JVM.** The query-side lookup table (``m × 2^nbits``
  inner products, computed driver-side in microseconds) is broadcast
  as one array literal row; the asymmetric-distance score of a code
  array is ``aggregate(transform(codes, (c, i) -> lut[i·K + c]))`` —
  whole-stage-codegen'd, no Python anywhere in the corpus scan.

Vectors are L2-normalized before both fit and encode, so the ADC
inner product approximates cosine directly (same geometry trick as
IVF's spherical k-means, operators/similarity.py ``fit_quantizer``).

Reference scope: the reference repo (a 131-line pandas ingest DAG)
has no vector search; this module is north-star surface per
BASELINE.json's LLM-pipeline brief.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    _sample_matrix,
    cosine_expr,
    fit_quantizer,
    ivf_assign,
    kmeans_fit,
    query_row,
    staged_append,
)


def _fit_codebooks_matrix(X, m: int, nbits: int, seed: int, n_iter: int = 10):
    """Per-subspace codebooks over a driver-side sample matrix ``X``
    (n, dim): one :func:`~.similarity.kmeans_fit` per subspace.
    Returns ``(m, k, dim // m)`` with k = 2^nbits clamped to the sample
    size."""
    import numpy as np

    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    Xs = X.reshape(n, m, dim // m)
    # a contiguous copy per subspace: matmul on the strided view is
    # ~1.7x slower, and k-means runs several per step
    return np.stack(
        [
            kmeans_fit(np.ascontiguousarray(Xs[:, sub, :]), 1 << nbits, seed + sub, n_iter)[0]
            for sub in range(m)
        ]
    )


def pq_fit_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    n_iter: int = 10,
):
    """Fit per-subspace k-means codebooks on a bounded sample.

    Returns an ndarray of shape ``(m, 2^nbits, dim // m)``. Sample
    selection and Lloyd iterations are both O(1) in corpus size (see
    :func:`~.similarity._sample_matrix`); the output codebook is
    ~64 KB.
    """
    X = _sample_matrix(corpus, vec_col, sample_limit)
    return _fit_codebooks_matrix(X, m, nbits, seed, n_iter)


def pq_encode_df(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """Add the PQ code array (``array<smallint>``, length m) to every
    corpus row. Arrow-batched: one numpy argmin per subspace per
    batch; the ~64 KB codebook rides in the task closure."""
    import numpy as np

    cb = np.asarray(codebooks)
    m, _, dsub = cb.shape
    cb_norms = (cb**2).sum(axis=2)  # (m, k), precomputed once

    @F.pandas_udf("array<smallint>")
    def _encode(vs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.sqrt((X**2).sum(axis=1, keepdims=True))
        np.divide(X, norms, out=X, where=norms > 0)
        B = X.shape[0]
        Xs = X.reshape(B, m, dsub)
        codes = np.empty((B, m), dtype=np.int16)
        for sub in range(m):
            d2 = -2.0 * Xs[:, sub, :] @ cb[sub].T + cb_norms[sub]
            codes[:, sub] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return corpus.withColumn(code_col, _encode(F.col(vec_col)))


class PqIndex:
    """A built PQ index: the compressed (id, codes) table + the tiny
    codebook matrix. Build once, search many times. When ``path`` was
    given to :func:`pq_build`, ``table`` reads the persisted code
    lake — at scale this is the ~32×-smaller artifact every query
    scans instead of the raw embedding lake."""

    def __init__(self, table: DataFrame, codebooks, id_col: str):
        self.table = table
        self.codebooks = codebooks
        self.id_col = id_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]


def pq_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    path: str | None = None,
) -> PqIndex:
    """Fit codebooks (bounded sample) and encode the full corpus
    (one distributed map-only pass). ``path`` persists the code
    table; searches then scan the compressed lake only."""
    codebooks = pq_fit_codebooks(
        corpus, vec_col, m=m, nbits=nbits, seed=seed, sample_limit=sample_limit
    )
    encoded = pq_encode_df(corpus, codebooks, vec_col).select(id_col, "codes")
    if path is not None:
        encoded.write.mode("overwrite").parquet(path)
        encoded = corpus.sparkSession.read.parquet(path)
    return PqIndex(encoded, codebooks, id_col)


def _lut_row(spark: SparkSession, codebooks, qvec) -> DataFrame:
    """The query's asymmetric-distance lookup table as a 1-row
    DataFrame: lut[sub·k + j] = <q_sub, codebook[sub][j]>. Computed
    driver-side (m × k × dsub ≈ 16k FLOPs) and broadcast."""
    import numpy as np

    cb = np.asarray(codebooks)
    m, k, dsub = cb.shape
    q = np.asarray(qvec, dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    qs = q.reshape(m, dsub)
    lut = np.einsum("sd,skd->sk", qs, cb).reshape(m * k)
    return spark.createDataFrame(
        [(lut.tolist(),)], "lut array<double>"
    )


def adc_score_expr(codes, lut, k: int):
    """JVM-side asymmetric-distance score of one code array:
    sum over subspaces of lut[sub·k + code]. element_at is 1-based."""
    return F.aggregate(
        F.transform(
            codes,
            lambda c, i: F.element_at(
                lut, (i * F.lit(k) + c.cast("int") + F.lit(1)).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


ISIN_PUSHDOWN_MAX = 8192
"""Shortlist-size bound for the collect+``isin`` rerank path. Up to
this many ids, a driver-collected In-list pushed into the parquet scan
(row-group min/max pruning) beats a join; past it, the In-literal
bloats the plan and collection is no longer 'bounded metadata', so the
rerank switches to a lazy broadcast semi-join on the shortlist
DataFrame instead (the brute-force-equivalence tests pass corpus-sized
shortlists through exactly that path)."""


def _exact_rerank(
    shortlist_df: DataFrame,
    rerank_from: DataFrame,
    qvec,
    k: int,
    vec_col: str,
    id_col: str,
    isin_pushdown: bool = True,
) -> DataFrame:
    """Exact-cosine re-rank of an ADC shortlist — the standard second
    stage of quantized search (Jégou et al. 2011 §V.C: ADC orders
    candidates with quantization distortion; re-scoring the short
    shortlist with TRUE distances recovers the exact ordering among
    them, so recall@k is limited only by shortlist membership, not by
    code precision). ``qvec`` is the query vector, which the caller
    has already collected to the driver.

    Scale shape, small shortlists (``isin_pushdown=True``): the
    shortlist is O(k·factor) rows — bounded metadata, so collecting
    its ids to the driver is the same driver-bounded pattern as the
    ranker offset maps. The ids go back as an ``isin`` predicate on
    the ORIGINAL vector table, which Spark pushes into the parquet
    scan (row-group min/max pruning on the id column); the re-rank
    therefore reads full float vectors for only the shortlist rows,
    never a second corpus pass. At 100 TB the total read is (codes of
    scanned cells)/compression + |shortlist| vectors. NOTE this path
    is EAGER: the collect runs two Spark jobs (ADC TakeOrdered +
    fetch) at DataFrame-CONSTRUCTION time, before any action on the
    returned frame — callers building plans without executing them
    (plan sweeps, lints) pay that cost up front.

    Large shortlists (``isin_pushdown=False``): no collect, no
    In-literal — a lazy semi-join of the vector table against the
    shortlist ids, with NO broadcast hint: this path is chosen
    precisely because the shortlist outgrew the bounded-metadata
    threshold, so its size is unknown and possibly corpus-scale, and
    a mandated broadcast of an unbounded id set risks driver/executor
    OOM. AQE's runtime join selection broadcasts it anyway whenever
    the built side turns out small, and falls back to a shuffled
    semi-join when it doesn't — exactly the adaptive behavior a hint
    would override. Loses scan-level pruning (the shortlist is no
    longer 'a few row groups' anyway) but keeps the plan size and
    driver memory O(1) in shortlist length."""
    qrow = query_row(rerank_from.sparkSession, qvec, rerank_from.schema[vec_col].dataType)
    cos = F.round(cosine_expr(F.col(vec_col), F.col("qvec")), 4)
    if isin_pushdown:
        ids = [r[0] for r in shortlist_df.select(id_col).collect()]
        cand = rerank_from.filter(F.col(id_col).isin(ids))
    else:
        cand = rerank_from.join(shortlist_df.select(id_col), id_col, "semi")
    return (
        cand.crossJoin(F.broadcast(qrow))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pq_search(
    index: PqIndex,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    rerank_from: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC over the compressed code table.

    The corpus-side plan is: scan (id, codes) → per-row JVM fold of m
    array lookups → TakeOrderedAndProject. No Python, no shuffle, no
    float vectors read. Scores approximate cosine (vectors were
    normalized at encode time); quantization distortion is bounded by
    the per-subspace k-means error, measured by the recall harness
    (tools/ann_recall.py).

    With ``rerank_from`` (the original (id, vector) table), a second
    exact stage runs: ADC picks a ``shortlist`` (default 10·k) of
    candidates, then :func:`_exact_rerank` re-scores ONLY those rows
    with true cosine and returns the top k — recall@k then depends
    only on the shortlist containing the true neighbors, not on code
    precision (measured on sf0.1: 0.62 → ≥0.9 recall@10 at <10%
    byte-equivalent scan). Output column is ``cosine`` (exact) instead
    of ``adc_score`` (approximate).

    Execution semantics with ``rerank_from``: shortlists up to
    ``ISIN_PUSHDOWN_MAX`` collect EAGERLY at construction time (Spark
    jobs run before any action on the returned frame) to build a
    scan-pushed In predicate; larger shortlists stay fully lazy via a
    broadcast semi-join — see :func:`_exact_rerank`."""
    qrow = query_vec.select(vec_col).first()
    if qrow is None:
        raise ValueError("query_vec is empty: no row to search for")
    lut_df = _lut_row(index.table.sparkSession, index.codebooks, qrow[0])
    score = adc_score_expr(F.col("codes"), F.col("lut"), index.k)
    n_take = k if rerank_from is None else (shortlist or 10 * k)
    adc_top = (
        index.table.crossJoin(F.broadcast(lut_df))
        .select(
            F.col(index.id_col),
            F.round(score, 4).alias("adc_score"),
        )
        .orderBy(F.col("adc_score").desc(), F.col(index.id_col))
        .limit(n_take)
    )
    if rerank_from is None:
        return adc_top
    return _exact_rerank(
        adc_top,
        rerank_from,
        qrow[0],
        k,
        vec_col,
        index.id_col,
        isin_pushdown=n_take <= ISIN_PUSHDOWN_MAX,
    )


def pq_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-shot PQ approximate top-k: :func:`pq_build` +
    :func:`pq_search`. Repeated searches should build (and persist)
    the index once and reuse it."""
    index = pq_build(corpus, vec_col, id_col, m=m, nbits=nbits, seed=seed)
    return pq_search(index, query_vec, k, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells prune WHICH codes are scanned, residual PQ
# compresses WHAT each scan reads — the canonical composed design
# (FAISS "IVFPQ"; Jégou et al. 2011 §V). With the inner-product
# metric on normalized vectors the residual trick costs nothing at
# query time: q·x ≈ q·c_cell + q·residual_code, so the score is one
# per-cell constant lookup plus the SAME m-term ADC fold — all JVM.


class IvfPqIndex:
    """A built IVF-PQ index: (id, ivf_cell, codes) table + the coarse
    centroid matrix + residual codebooks. When persisted, the code
    lake is partitioned by ``ivf_cell`` so probes prune to the probed
    cells' directories AND read ~32× fewer bytes within them."""

    def __init__(self, table: DataFrame, centroids, codebooks, id_col: str):
        self.table = table
        self.centroids = centroids
        self.codebooks = codebooks
        self.id_col = id_col

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def n_cells(self) -> int:
        return len(self.centroids)


def _ivfpq_encode(
    assigned: DataFrame, centroids, codebooks, vec_col: str, id_col: str
) -> DataFrame:
    """The residual-PQ encode pass: (vector, cell) → m one-byte codes,
    Arrow-batched, map-only. Shared by the initial build and the
    append-ingest path so appended batches are encoded bit-identically
    against the frozen quantizers."""
    import numpy as np

    cb = np.asarray(codebooks)
    cents = np.asarray(centroids)
    m_, _, dsub = cb.shape
    cb_norms = (cb**2).sum(axis=2)

    @F.pandas_udf("array<smallint>")
    def _encode(vs: pd.Series, cell_s: pd.Series) -> pd.Series:
        import numpy as np  # noqa: PLC0415 — worker-side import

        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.sqrt((V**2).sum(axis=1, keepdims=True))
        np.divide(V, norms, out=V, where=norms > 0)
        R = V - cents[cell_s.to_numpy(dtype=int)]
        B = R.shape[0]
        Rs = R.reshape(B, m_, dsub)
        codes = np.empty((B, m_), dtype=np.int16)
        for sub in range(m_):
            d2 = -2.0 * Rs[:, sub, :] @ cb[sub].T + cb_norms[sub]
            codes[:, sub] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return assigned.select(
        id_col, "ivf_cell", _encode(F.col(vec_col), F.col("ivf_cell")).alias("codes")
    )


def ivfpq_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    sample_fraction: float | None = None,
    path: str | None = None,
) -> IvfPqIndex:
    """Build the composed index.

    1. Coarse quantizer and residual codebooks, both from ONE bounded
       deterministic sample collect (:func:`~.similarity.fit_quantizer`,
       fit on ``sample_fraction`` of the corpus at scale): spherical
       k-means for the cells, then per-subspace k-means over
       ``x_norm − centroid(cell)`` of the same sample rows, whose cells
       the fit already assigned with the corpus pass's rule.
       Driver-side, O(1) in corpus size.
    2. Cell assignment and residual encode: Arrow-batched numpy UDFs
       in one map-only pass over the corpus.
    """
    fit_input = (
        corpus.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else corpus
    )
    centroids, X, cells = fit_quantizer(fit_input, vec_col, n_cells, seed, sample_limit)
    codebooks = _fit_codebooks_matrix(X - centroids[cells], m, nbits, seed)

    assigned = ivf_assign(corpus, centroids, vec_col)
    encoded = _ivfpq_encode(assigned, centroids, codebooks, vec_col, id_col)
    if path is not None:
        (
            encoded.repartition("ivf_cell")
            .write.mode("overwrite")
            .partitionBy("ivf_cell")
            .parquet(path)
        )
        encoded = corpus.sparkSession.read.parquet(path)
    return IvfPqIndex(encoded, centroids, codebooks, id_col)


def ivfpq_search(
    index: IvfPqIndex,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    rerank_from: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells, ADC-score their codes.

    Corpus-side plan: partition-pruned scan of (id, cell, codes) →
    per-row JVM fold (one cell-constant lookup + m code lookups) →
    TakeOrderedAndProject. Scan fraction ~ nprobe/n_cells of the
    corpus at ~32× fewer bytes per scanned row than IVF-Flat.

    With ``rerank_from`` (the original (id, vector) table) a second
    exact stage re-scores the ADC ``shortlist`` (default 10·k) with
    true cosine — see :func:`_exact_rerank`; the pruned+compressed
    scan picks candidates, the exact pass reads |shortlist| full
    vectors via a pushed-down id predicate. Output column is then
    ``cosine`` instead of ``adc_score``.

    Execution semantics with ``rerank_from``: same as
    :func:`pq_search` — shortlists ≤ ``ISIN_PUSHDOWN_MAX`` collect
    eagerly at construction time for the In-pushdown; larger ones use
    the lazy broadcast semi-join path."""
    import numpy as np

    qrow = query_vec.select(vec_col).first()
    if qrow is None:
        raise ValueError("query_vec is empty: no row to search for")
    q = np.asarray(qrow[0], dtype=np.float64)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    # cell choice: euclidean on the unit sphere == cosine ordering
    probed = np.argsort(((index.centroids - q) ** 2).sum(axis=1))[:nprobe].tolist()

    m, kk, dsub = index.codebooks.shape
    lut = np.einsum("sd,skd->sk", q.reshape(m, dsub), index.codebooks).reshape(m * kk)
    cell_const = index.centroids @ q  # q·c_cell per cell, n_cells doubles
    spark = index.table.sparkSession
    lut_df = spark.createDataFrame(
        [(lut.tolist(), cell_const.tolist())],
        "lut array<double>, cell_lut array<double>",
    )
    score = F.element_at(
        F.col("cell_lut"), (F.col("ivf_cell") + 1).cast("int")
    ) + adc_score_expr(F.col("codes"), F.col("lut"), kk)
    n_take = k if rerank_from is None else (shortlist or 10 * k)
    adc_top = (
        index.table.filter(F.col("ivf_cell").isin(probed))
        .crossJoin(F.broadcast(lut_df))
        .select(F.col(index.id_col), F.round(score, 4).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(index.id_col))
        .limit(n_take)
    )
    if rerank_from is None:
        return adc_top
    return _exact_rerank(
        adc_top,
        rerank_from,
        qrow[0],
        k,
        vec_col,
        index.id_col,
        isin_pushdown=n_take <= ISIN_PUSHDOWN_MAX,
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF-PQ approximate top-k: :func:`ivfpq_build` +
    :func:`ivfpq_search`. Repeated searches should build (and
    persist) the index once and reuse it."""
    index = ivfpq_build(
        corpus, vec_col, id_col, n_cells=n_cells, m=m, nbits=nbits, seed=seed
    )
    return ivfpq_search(index, query_vec, k, nprobe, vec_col)


def ivfpq_index_write(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    sample_fraction: float | None = None,
) -> IvfPqIndex:
    """Persist a reloadable, APPENDABLE IVF-PQ index: the
    cell-partitioned code lake plus a ``_ivfpq_meta.json`` sidecar
    carrying the coarse centroids and residual codebooks (both tiny —
    KBs). Same ingest contract as :func:`ivf_index_write`: append
    batches encode against the FROZEN quantizers in O(batch); rebuild
    when distribution drift matters."""
    import json
    import os

    index = ivfpq_build(
        corpus,
        vec_col,
        id_col,
        n_cells=n_cells,
        m=m,
        nbits=nbits,
        seed=seed,
        sample_limit=sample_limit,
        sample_fraction=sample_fraction,
        path=path,
    )
    import numpy as np

    with open(os.path.join(path, "_ivfpq_meta.json"), "w") as fh:
        json.dump(
            {
                "format": "ivf-pq",
                "vec_col": vec_col,
                "id_col": id_col,
                "centroids": np.asarray(index.centroids).tolist(),
                "codebooks": np.asarray(index.codebooks).tolist(),
            },
            fh,
        )
    return index


def ivfpq_index_load(spark: SparkSession, path: str) -> IvfPqIndex:
    """Reload a persisted IVF-PQ index: code lake + frozen coarse
    centroids and residual codebooks. The returned index records the
    sidecar's ``vec_col`` name so searches and appends keep using the
    build-time column."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_ivfpq_meta.json")) as fh:
        meta = json.load(fh)
    table = spark.read.parquet(path)
    idx = IvfPqIndex(
        table,
        np.asarray(meta["centroids"], dtype=float),
        np.asarray(meta["codebooks"], dtype=float),
        meta["id_col"],
    )
    idx.vec_col = meta["vec_col"]
    return idx


def ivfpq_index_append(
    spark: SparkSession, path: str, batch: DataFrame
) -> None:
    """Ingest a new vector batch into a persisted IVF-PQ index:
    assign cells against the frozen coarse centroids, encode residuals
    against the frozen codebooks (both one Arrow-batched map —
    O(batch)), append into the existing ``ivf_cell=`` directories via
    :func:`~..operators.similarity.staged_append`: the batch stages
    under a hidden prefix and renames in, so a failed append is never
    reader-visible and completed codes become searchable with
    unchanged pruning."""
    index = ivfpq_index_load(spark, path)
    vec_col = getattr(index, "vec_col", "embedding")
    assigned = ivf_assign(batch, index.centroids, vec_col)
    encoded = _ivfpq_encode(
        assigned, index.centroids, index.codebooks, vec_col, index.id_col
    )
    staged_append(encoded, path, "ivf_cell")
