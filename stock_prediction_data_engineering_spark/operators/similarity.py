"""Similarity search over embedding columns (north-star extension,
BASELINE.json §L5-L7): brute-force cosine top-k as the exact baseline,
with two approximate scale paths — random-hyperplane LSH bucketing and
IVF-Flat (a coarse quantizer fit by numpy k-means on a bounded sample
collected to the driver, + nprobe cell search).

Brute force is a broadcast of the query vector + one linear scan with
a JVM-side fold — correct at any scale but O(corpus) per query. The
LSH path buckets the corpus once (signature = sign pattern against
`num_planes` fixed hyperplanes), so a query probes only its bucket:
candidate count drops by ~2^planes while recall stays high for
near-duplicate ranges; multi-probe widens recall when needed.

Hyperplanes are generated deterministically (hash-based, no RNG
state) so signatures are reproducible across runs and engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def staged_append(df: DataFrame, path: str, partition_col: str) -> None:
    """Two-phase batch append into a partitioned parquet index lake.

    Plain ``.write.mode("append")`` makes each batch file
    reader-visible the moment its task commits: a concurrent reader
    planning a scan mid-append observes a partial batch, and a FAILED
    append job leaves its already-committed files permanently visible.
    This helper stages the whole batch under a hidden
    ``_staging/batch-*`` prefix first (underscore-prefixed paths are
    filtered by Hadoop's hidden-file listing rule, so Spark parquet
    readers never see them — the same rule the ``_*_meta.json``
    sidecars rely on), then moves the completed files into their final
    ``<partition>=...`` directories with ``os.rename``.

    Guarantees: a failed or killed Spark write leaves ONLY hidden
    staging garbage, never reader-visible rows; the reader-visibility
    window shrinks from the whole write job to the final rename loop
    (pure same-filesystem metadata moves, no data copy). NOT a full
    ACID commit: a reader that lists files exactly during the rename
    loop can still observe a prefix of the batch's files — a pipeline
    needing all-or-nothing batch visibility should publish through the
    snapshot lake (sources/snapshots.py), which readers resolve via an
    atomically-replaced manifest. Orphaned staging dirs from crashed
    appends stay hidden and harmless; each call also sweeps the ones it
    can PROVE dead — batch ids embed the writer's pid, so a staging dir
    whose pid is no longer alive on this host and whose mtime is older
    than ``stale_staging_secs`` belongs to a crashed append, not an
    in-flight one (the concurrent-writer trap search_index_expire
    guards against needs both signals: a live appender's dir has a
    live pid; a pid recycled to an unrelated process still fails the
    age test while that appender is actually writing).

    LOCAL FILESYSTEM ONLY: the rename loop uses ``os.rename`` and the
    pid-liveness sweep assumes writers share this host, so
    scheme-qualified URIs (s3a://, hdfs://, file://) are rejected with
    ``ValueError`` rather than silently producing an index the Spark
    writer could have written but this helper cannot publish. A
    multi-host object-store lake should publish through the snapshot
    manifest instead."""
    import os
    import re
    import shutil
    import uuid

    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", path):
        raise ValueError(
            f"staged_append requires a local filesystem path (os.rename "
            f"publish + pid-liveness sweep); got URI {path!r} — publish "
            f"object-store lakes via the snapshot manifest instead"
        )
    _sweep_dead_staging(os.path.join(path, "_staging"))

    batch_id = f"batch-{os.getpid()}-{uuid.uuid4().hex[:12]}"
    stage_dir = os.path.join(path, "_staging", batch_id)
    (
        df.repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(stage_dir)
    )
    prefix = f"{partition_col}="
    try:
        for part in os.listdir(stage_dir):
            if not part.startswith(prefix):
                continue  # _SUCCESS and friends stay behind
            final_part = os.path.join(path, part)
            os.makedirs(final_part, exist_ok=True)
            src_part = os.path.join(stage_dir, part)
            for fname in os.listdir(src_part):
                if fname.startswith(("_", ".")):
                    continue
                # batch id in the final name: collision-proof against
                # the original build's part files and other batches
                os.rename(
                    os.path.join(src_part, fname),
                    os.path.join(final_part, f"{batch_id}-{fname}"),
                )
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def _sweep_dead_staging(staging_root: str, stale_staging_secs: float = 3600.0) -> None:
    """Reclaim ``_staging/batch-<pid>-*`` dirs left by CRASHED appends.

    A dir is dead only when BOTH hold: the embedded writer pid is not
    alive on this host (``os.kill(pid, 0)``), and the dir's mtime is
    older than ``stale_staging_secs`` — age alone can't rule out a
    just-started appender whose pid check raced, and pid-death alone
    can't rule out pid reuse against a long-running appender's dir.
    Sweep errors are swallowed: reclamation is hygiene, never a reason
    to fail the append that triggered it."""
    import os
    import re
    import shutil
    import time

    try:
        entries = os.listdir(staging_root)
    except OSError:
        return  # no staging dir yet — nothing to reclaim
    now = time.time()
    for name in entries:
        m = re.match(r"^batch-(\d+)-[0-9a-f]+$", name)
        if not m:
            continue
        d = os.path.join(staging_root, name)
        try:
            if now - os.path.getmtime(d) < stale_staging_secs:
                continue
            pid = int(m.group(1))
            try:
                os.kill(pid, 0)
                continue  # pid alive: possibly an in-flight appender
            except ProcessLookupError:
                pass  # dead pid + stale mtime: provably orphaned
            except PermissionError:
                continue  # alive but not ours
            shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def dot_expr(a: Column, b: Column) -> Column:
    """JVM-side dot product of two float-array columns (double acc)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def lsh_bucket(vec: Column, num_planes: int = 16) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i).

    Each plane dot product reuses the same zip-free fold: the plane
    components are generated per index inside the lambda, so nothing
    is shuffled or broadcast — the signature is pure per-row compute.
    """
    def _plane_term(p: int):
        # closure factory — a default-arg lambda would change the
        # higher-order function's visible arity
        return lambda x, i: x.cast("double") * (
            (F.xxhash64(F.lit(p), i) % 10007).cast("double") / 10007.0
        )

    bits = []
    for p in range(num_planes):
        # dot(vec, plane_p) with plane components synthesized from
        # (p, index) hashes — aggregate over the indexed vector
        prod = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), _plane_term(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(prod > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long")))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def query_row(spark: SparkSession, vec, dtype) -> DataFrame:
    """One-row ``qvec`` frame holding a query vector already collected
    to the driver, for a broadcast cross join.

    Built from the vector instead of ``query_vec.limit(1)``: Spark names
    each planned limit's row counter from a JVM-wide sequence
    (``_limit_counter_<n>``), so a limit inside a compiled stage makes
    every search a new generated class that the codegen cache never
    reuses."""
    return spark.createDataFrame([(list(vec),)], StructType([StructField("qvec", dtype)]))


def brute_force_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: broadcast the 1-row query, linear scan,
    TakeOrderedAndProject (per-partition top-k + k-sized driver merge).
    """
    q = query_vec.select(F.col(vec_col).alias("qvec"))
    cos = F.round(cosine_expr(F.col(vec_col), F.col("qvec")), 4)
    return (
        corpus.crossJoin(F.broadcast(q))
        .select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _sample_matrix(corpus: DataFrame, vec_col: str, sample_limit: int):
    """Deterministic bounded sample of unit-normalized vectors, an
    (n, dim) matrix: the ``sample_limit`` rows with the smallest
    ``xxhash64(vector)`` — stable across runs and executors, executed
    as per-partition top-k (TakeOrderedAndProject), never a global
    sort. The collect is
    bounded metadata (≤ sample_limit × dim floats, ~4 MB at the
    defaults) — O(1) in corpus size.

    The top-k orders by the hash of the RAW vector column and
    normalizes the collected sample driver-side: hashing a JVM-side
    normalize instead re-evaluates its norm aggregate inside the
    per-element lambda (O(d²) interpreted after CollapseProject — the
    operators/winnow.py trap) on EVERY corpus row inside the
    TakeOrdered scan; measured 10.7 s vs ~1 s for a 20k-row corpus at
    sf1, and it grows with the corpus while the numpy normalize stays
    O(sample). Zero vectors stay zero."""
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("v")))
        .limit(sample_limit)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    np.divide(X, norms, out=X, where=norms > 0)
    return X


def _nearest(X, cents):
    """Each row's nearest center by euclidean distance, as the argmax
    of x·c − ‖c‖²/2 (first maximum wins ties), in row blocks of ~4M
    scores. The one rule of the k-means fit and :func:`ivf_assign`."""
    import numpy as np

    half_sq = (cents**2).sum(axis=1) / 2.0
    step = max(1, (1 << 22) // len(cents))
    out = np.empty(len(X), dtype=np.int64)
    for i in range(0, len(X), step):
        scores = X[i : i + step] @ cents.T
        scores -= half_sq  # in place: a second score array costs 2x the matmul
        out[i : i + step] = np.argmax(scores, axis=1)
    return out


def kmeans_fit(X, k: int, seed: int, n_iter: int = 10):
    """The engine's one k-means (IVF/SemDeDup cells, PQ codebooks) over
    a driver-side sample ``X`` (n, d): seeded greedy k-means++ init
    (2 + ln k D²-weighted draws per center, the one lowering the
    potential most kept), then Lloyd until no assignment changes or
    ``n_iter`` updates ran. ``k`` is clamped to n; an empty cluster
    keeps its center. Returns ``(centers, assign)``, ``assign`` being
    :func:`_nearest` against the returned centers. A bounded sample
    keeps the fit O(1) in corpus size and free of Spark jobs."""
    import numpy as np

    n, dim = X.shape
    if n == 0:
        raise ValueError("k-means needs at least one sample row")
    k = min(k, n)
    rng = np.random.default_rng(seed)
    XT = np.ascontiguousarray(X.T)
    sq = (X**2).sum(axis=1)
    trials = 2 + int(np.log(k))
    centers = np.empty((k, dim), dtype=np.float64)
    cand = rng.integers(n, size=1)
    d2 = np.full(n, np.inf)
    for j in range(k):
        # (candidates × rows) squared distances, in place:
        # ‖x‖² − 2·x·c + ‖c‖², capped by the current D²
        dc = X[cand] @ XT
        dc *= -2.0
        dc += sq
        dc += sq[cand][:, None]
        np.minimum(dc, d2, out=dc)
        best = int(np.argmin(dc.sum(axis=1)))
        centers[j] = X[cand[best]]
        d2 = np.maximum(dc[best], 0.0)
        # the next candidates: rows drawn with probability D²/ΣD²
        # (rows on a center have a zero-width slot, never drawn)
        cum = np.cumsum(d2)
        if cum[-1] > 0:
            cand = np.searchsorted(cum, rng.random(trials) * cum[-1], side="right")
            cand = np.minimum(cand, n - 1)
        else:
            cand = rng.integers(n, size=trials)
    assign = _nearest(X, centers)
    for _ in range(n_iter):
        # vectorized Lloyd update: per-dimension bincount instead of k
        # boolean-mask passes (~13x faster on PQ's 256 × 16k × 8)
        counts = np.bincount(assign, minlength=k)
        sums = np.stack([np.bincount(assign, weights=XT[c], minlength=k) for c in range(dim)], 1)
        nz = counts > 0
        centers[nz] = sums[nz] / counts[nz, None]
        moved = _nearest(X, centers)
        if np.array_equal(moved, assign):
            break
        assign = moved
    return centers, assign


def fit_quantizer(
    fit_input: DataFrame,
    vec_col: str,
    n_cells: int | str,
    seed: int,
    fit_limit: int,
    min_cells: int = 4,
    fraction: float = 1.0,
):
    """Coarse quantizer from ONE bounded sample collect: k-means on the
    unit vectors of :func:`_sample_matrix` (|u − v|² = 2 − 2·cos, so
    the cells follow cosine geometry). Returns ``(centroids, X,
    cells)``: the model, plus the sample and its cells for fits on the
    same rows (PQ codebooks, IVF-PQ residuals). ``n_cells="auto"`` is
    ~sqrt(N) as a power of two in [``min_cells``, 4096]; a sample
    shorter than ``fit_limit`` is all of ``fit_input`` (a ``fraction``
    of the corpus), so N needs no count job."""
    import math

    X = _sample_matrix(fit_input, vec_col, fit_limit)
    if n_cells == "auto":
        n_fit = len(X) if len(X) < fit_limit else fit_input.count()
        root = math.isqrt(int(n_fit / fraction))
        n_cells = max(min_cells, min(4096, 1 << round(math.log2(max(min_cells, root)))))
    centroids, cells = kmeans_fit(X, n_cells, seed)
    return centroids, X, cells


def ivf_assign(
    corpus: DataFrame, centroids, vec_col: str = "embedding"
) -> DataFrame:
    """Add the IVF cell id to every corpus row: an Arrow-batched numpy
    matmul against the (n_cells, dim) centroid matrix, which rides in
    the closure. Rows are unit-normalized first (zero vectors pass
    through unscaled), then take the :func:`_nearest` centroid — the
    same rule and first-maximum tie-break as the fit."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0  # zero vectors pass through unscaled
        return pd.Series(_nearest(X / norms[:, None], cents).astype("int32"))

    return corpus.withColumn("ivf_cell", _cell(F.col(vec_col)))


class IvfIndex:
    """A built IVF-Flat index: tiny centroid matrix + the cell-assigned
    corpus table. Build once, search many times — the quantizer is
    never refit at query time.

    When ``path`` was given to :func:`ivf_build`, ``table`` is the
    read-back of a parquet lake partitioned by ``ivf_cell``, so the
    per-query cell filter prunes to the probed partition directories
    (static partition pruning) instead of scanning the corpus.

    With ``codebooks`` (built via ``ivf_build(..., pq_m=...)``) the
    table also carries a PQ ``codes`` column next to the full vectors,
    enabling the two-stage search :func:`ivf_search` runs when given a
    ``shortlist``: ADC over the probed cells' CODES (≈32× fewer bytes
    than the floats), exact cosine only on the shortlist.
    """

    def __init__(
        self, table: DataFrame, centroids, vec_col: str, id_col: str, codebooks=None
    ):
        self.table = table
        self.centroids = centroids
        self.vec_col = vec_col
        self.id_col = id_col
        self.codebooks = codebooks

    @property
    def n_cells(self) -> int:
        return len(self.centroids)


def ivf_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | str = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    fit_limit: int = 16384,
    path: str | None = None,
    pq_m: int | None = None,
    pq_nbits: int = 8,
) -> IvfIndex:
    """Build the IVF index: fit the coarse quantizer on a bounded
    sample (:func:`fit_quantizer`), then assign every corpus row to
    its cell (one distributed map-only transform).

    ``n_cells="auto"`` sizes the quantizer at ~sqrt(N) rounded to a
    power of two (clamped [4, 4096]) — the standard IVF sizing rule:
    finer cells at the same scan fraction trade a bigger centroid scan
    for better-fitting cell boundaries. Measured on the testdata
    corpus, 64 cells @ nprobe 8 yields recall-per-scanned-row lift
    ~3.1 vs ~2.0 for 16 cells @ nprobe 4 at half the scan fraction
    (tools/ann_recall.py's fine config tracks this).

    ``sample_fraction`` thins the fit input first — at 100 TB the
    quantizer needs a representative sample, not every row; the full
    corpus only flows through the (cheap, map-only) assignment.
    ``fit_limit`` (default 16384) caps the fit sample regardless: the
    ``fit_limit`` rows with the smallest ``xxhash64(vector)``, a
    deterministic per-partition top-k collected to the driver, never a
    full sort. The quantizer fit is O(sample), only the assignment
    O(corpus) (uncapped, a one-shot ``ivf_topk`` at sf10 once paid
    223 s of full-corpus k-means for a 10-row answer, SWEEP_r4_sf10).
    ``path`` persists the assignment partitioned by ``ivf_cell`` so
    later searches read only the probed cells' directories.

    ``pq_m`` additionally fits PQ codebooks on the same sample and
    attaches a ``codes`` column: the IVF-Flat recall ceiling is
    candidate MEMBERSHIP (in-cell scoring is already exact cosine),
    and membership only widens by probing more cells — affordable
    exactly when the probe scan reads code bytes, not float bytes.
    See :func:`ivf_search`'s ``shortlist`` stage.
    """
    fit_input = (
        corpus.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else corpus
    )
    centroids, X, _ = fit_quantizer(
        fit_input, vec_col, n_cells, seed, fit_limit, fraction=sample_fraction or 1.0
    )
    assigned = ivf_assign(corpus, centroids, vec_col)
    codebooks = None
    if pq_m is not None:
        from .pq import _fit_codebooks_matrix, pq_encode_df  # lazy: pq imports us

        codebooks = _fit_codebooks_matrix(X, pq_m, pq_nbits, seed)
        assigned = pq_encode_df(assigned, codebooks, vec_col)
    if path is not None:
        (
            assigned.repartition("ivf_cell")
            .write.mode("overwrite")
            .partitionBy("ivf_cell")
            .parquet(path)
        )
        assigned = corpus.sparkSession.read.parquet(path)
    return IvfIndex(assigned, centroids, vec_col, id_col, codebooks=codebooks)


def ivf_search(
    index: IvfIndex,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int | None = None,
) -> DataFrame:
    """Search a built index: probe the ``nprobe`` cells whose centroids
    are nearest the query, brute-force cosine only inside them.

    Expected candidate fraction ~ nprobe/n_cells; the cell filter is a
    plain predicate over the persisted assignment, so a lake-backed
    index prunes to the probed partitions. Euclidean cell choice +
    cosine re-rank is the standard FAISS IVF-Flat shape.

    ``shortlist`` (requires a ``pq_m`` build) switches to the
    two-stage scan PQ search proved out (recall 0.595 → ≥0.9 on the
    harness corpus): ADC over the probed cells' ``codes`` column picks
    ``shortlist`` candidates reading ~m bytes/row instead of dim·4,
    then :func:`operators.pq._exact_rerank` re-scores ONLY those rows
    with true cosine from the vectors the index already stores. The
    float read is |shortlist| rows, so ``nprobe`` can widen far enough
    to fix the MEMBERSHIP misses that cap plain IVF-Flat recall while
    total bytes stay ≈ (probed rows)·m + |shortlist|·dim·4 — pass a
    wider ``nprobe`` (e.g. 12 of 16) together with ``shortlist``.
    """
    import numpy as np

    qvec = query_vec.select(index.vec_col).first()[0]
    q = np.array(qvec, dtype=float)
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn  # match the quantizer's unit-sphere space
    probed = np.argsort(((index.centroids - q) ** 2).sum(axis=1))[:nprobe].tolist()
    cells = index.table.filter(F.col("ivf_cell").isin(probed))

    if shortlist is not None:
        if index.codebooks is None:
            raise ValueError(
                "shortlist search needs PQ codes: build with ivf_build(..., pq_m=...)"
            )
        from .pq import (  # lazy: pq imports us at module level
            ISIN_PUSHDOWN_MAX,
            _exact_rerank,
            _lut_row,
            adc_score_expr,
        )

        lut_df = _lut_row(index.table.sparkSession, index.codebooks, qvec)
        kk = int(np.asarray(index.codebooks).shape[1])
        adc_top = (
            # column-pruned: the ADC stage reads (id, cell, codes) only —
            # never the float vectors sitting in the same files
            cells.select(index.id_col, "codes")
            .crossJoin(F.broadcast(lut_df))
            .select(
                F.col(index.id_col),
                F.round(adc_score_expr(F.col("codes"), F.col("lut"), kk), 4).alias(
                    "adc_score"
                ),
            )
            .orderBy(F.col("adc_score").desc(), F.col(index.id_col))
            .limit(shortlist)
        )
        return _exact_rerank(
            adc_top,
            index.table.select(index.id_col, index.vec_col),
            qvec,
            k,
            index.vec_col,
            index.id_col,
            isin_pushdown=shortlist <= ISIN_PUSHDOWN_MAX,
        )

    dtype = index.table.schema[index.vec_col].dataType
    qdf = query_row(index.table.sparkSession, qvec, dtype)
    cos = F.round(cosine_expr(F.col(index.vec_col), F.col("qvec")), 4)
    return (
        cells.crossJoin(F.broadcast(qdf))
        .select(F.col(index.id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(index.id_col))
        .limit(k)
    )


def ivf_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF approximate top-k: :func:`ivf_build` +
    :func:`ivf_search`. Kept for self-contained queries; repeated
    searches should build the index once and reuse it."""
    index = ivf_build(corpus, vec_col, id_col, n_cells, seed)
    return ivf_search(index, query_vec, k, nprobe)


def ivf_index_write(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int | str = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
    fit_limit: int = 16384,
    pq_m: int | None = None,
    pq_nbits: int = 8,
) -> IvfIndex:
    """Persist a reloadable, APPENDABLE IVF index: :func:`ivf_build`'s
    cell-partitioned assignment lake plus a ``_ivf_meta.json`` sidecar
    carrying the centroid matrix and column names (underscore-prefixed
    so Spark's parquet reader ignores it). This closes the same
    ingest loop the MinHash/winnow indexes have: build once, then
    :func:`ivf_index_append` new batches in O(batch) — assignment
    against the FROZEN quantizer, appended into the existing cell
    directories, so searches keep pruning to probed cells with no
    refit and no corpus rewrite (the standard FAISS ``add()``
    contract: centroids drift only when you rebuild)."""
    import json
    import os

    index = ivf_build(
        corpus,
        vec_col,
        id_col,
        n_cells,
        seed,
        sample_fraction,
        fit_limit,
        path=path,
        pq_m=pq_m,
        pq_nbits=pq_nbits,
    )
    meta = {
        "format": "ivf-flat",
        "vec_col": vec_col,
        "id_col": id_col,
        "centroids": index.centroids.tolist(),
    }
    if index.codebooks is not None:
        # frozen with the quantizer: appended batches encode against
        # these codebooks, the same no-refit contract as the centroids
        meta["codebooks"] = index.codebooks.tolist()
    with open(os.path.join(path, "_ivf_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return index


def ivf_index_load(spark: SparkSession, path: str) -> IvfIndex:
    """Reload a persisted IVF index: the cell-partitioned lake plus
    the frozen centroid matrix from the sidecar."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_ivf_meta.json")) as fh:
        meta = json.load(fh)
    table = spark.read.parquet(path)
    cb = meta.get("codebooks")
    return IvfIndex(
        table,
        np.asarray(meta["centroids"], dtype=float),
        meta["vec_col"],
        meta["id_col"],
        codebooks=None if cb is None else np.asarray(cb, dtype=float),
    )


def ivf_index_append(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Ingest a new vector batch into a persisted IVF index: assign
    against the index's FROZEN centroids (one Arrow-batched map —
    O(batch), no quantizer refit, no existing-row rewrite) and append
    into the cell-partitioned lake. Appended rows land in existing
    ``ivf_cell=`` directories, so partition-pruned searches see them
    immediately; a batch whose distribution has drifted far from the
    frozen quantizer degrades recall, not correctness — rebuild with
    :func:`ivf_index_write` when drift matters. The batch lands via
    :func:`staged_append` (hidden staging prefix + rename-in), so a
    failed append is never reader-visible; see that docstring for the
    exact visibility contract."""
    index = ivf_index_load(spark, path)
    assigned = ivf_assign(batch, index.centroids, index.vec_col)
    if index.codebooks is not None:
        from .pq import pq_encode_df  # lazy: pq imports us at module level

        assigned = pq_encode_df(assigned, index.codebooks, index.vec_col)
    staged_append(assigned, path, "ivf_cell")


class LshIndex:
    """A built hyperplane-LSH index: the bucket-assigned corpus table.
    Build once, search many times. When ``path`` was given to
    :func:`lsh_build`, ``table`` reads a lake partitioned by
    ``bucket``, so per-query bucket predicates prune to the probed
    partition directories. With ``codebooks`` (``lsh_build(...,
    pq_m=...)``) the table also carries PQ ``codes`` for the
    two-stage ``shortlist`` search in :func:`lsh_search`."""

    def __init__(
        self,
        table: DataFrame,
        num_planes: int,
        vec_col: str,
        id_col: str,
        codebooks=None,
    ):
        self.table = table
        self.num_planes = num_planes
        self.vec_col = vec_col
        self.id_col = id_col
        self.codebooks = codebooks


def lsh_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    path: str | None = None,
    pq_m: int | None = None,
    pq_nbits: int = 8,
    seed: int = 42,
) -> LshIndex:
    """Assign every corpus row its hyperplane-LSH bucket (one map-only
    pass — hyperplanes are hash-synthesized, nothing is fit) and
    optionally persist partitioned by bucket for partition-pruned
    searches. ``pq_m`` fits sample-bounded PQ codebooks and attaches a
    ``codes`` column, enabling the wide-probe + exact-rerank search
    (see :func:`lsh_search`'s ``shortlist``)."""
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col), num_planes))
    codebooks = None
    if pq_m is not None:
        from .pq import pq_encode_df, pq_fit_codebooks  # lazy: pq imports us

        codebooks = pq_fit_codebooks(
            corpus, vec_col, m=pq_m, nbits=pq_nbits, seed=seed
        )
        bucketed = pq_encode_df(bucketed, codebooks, vec_col)
    if path is not None:
        (
            bucketed.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        bucketed = corpus.sparkSession.read.parquet(path)
    return LshIndex(bucketed, num_planes, vec_col, id_col, codebooks=codebooks)


def lsh_index_write(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    pq_m: int | None = None,
    pq_nbits: int = 8,
) -> LshIndex:
    """Persist a reloadable, APPENDABLE LSH index: the
    bucket-partitioned lake plus a ``_lsh_meta.json`` sidecar pinning
    ``num_planes`` and column names. LSH has no fitted state (planes
    are hash-synthesized from their indices), so append-ingest is
    exact, not drift-prone: any batch bucketed with the same plane
    count lands in the right directories forever. With ``pq_m`` the
    sidecar also freezes the fitted PQ codebooks (appends encode
    against them, never refit — same contract as the IVF centroids)."""
    import json
    import os

    index = lsh_build(corpus, vec_col, id_col, num_planes, path=path, pq_m=pq_m, pq_nbits=pq_nbits)
    meta = {
        "format": "hyperplane-lsh",
        "vec_col": vec_col,
        "id_col": id_col,
        "num_planes": num_planes,
    }
    if index.codebooks is not None:
        meta["codebooks"] = index.codebooks.tolist()
    with open(os.path.join(path, "_lsh_meta.json"), "w") as fh:
        json.dump(meta, fh)
    return index


def lsh_index_load(spark: SparkSession, path: str) -> LshIndex:
    """Reload a persisted LSH index (lake + plane count + any frozen
    PQ codebooks)."""
    import json
    import os

    import numpy as np

    with open(os.path.join(path, "_lsh_meta.json")) as fh:
        meta = json.load(fh)
    cb = meta.get("codebooks")
    return LshIndex(
        spark.read.parquet(path),
        meta["num_planes"],
        meta["vec_col"],
        meta["id_col"],
        codebooks=None if cb is None else np.asarray(cb, dtype=float),
    )


def lsh_index_append(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Ingest a new vector batch into a persisted LSH index: bucket
    with the index's pinned plane count (map-only, O(batch)) and
    append into the existing ``bucket=`` directories via
    :func:`staged_append` (failed appends never reader-visible).
    Indexes built with PQ codes encode the batch against the frozen
    codebooks in the same map."""
    index = lsh_index_load(spark, path)
    bucketed = batch.withColumn(
        "bucket", lsh_bucket(F.col(index.vec_col), index.num_planes)
    )
    if index.codebooks is not None:
        from .pq import pq_encode_df  # lazy: pq imports us at module level

        bucketed = pq_encode_df(bucketed, index.codebooks, index.vec_col)
    staged_append(bucketed, path, "bucket")


def lsh_probe_buckets(q_bucket: int, num_planes: int, multi_probe: int) -> list[int]:
    """All bucket ids within Hamming distance ``multi_probe`` of the
    query signature — the classic multi-probe LSH widener, generalized
    to any radius (planes are unweighted, so every same-distance flip
    set is equally likely to hold near neighbors). Probe count is
    sum of C(planes, d) for d ≤ multi_probe — driver-side metadata."""
    from itertools import combinations

    buckets = {q_bucket}
    for d in range(1, multi_probe + 1):
        for flips in combinations(range(num_planes), d):
            b = q_bucket
            for p in flips:
                b ^= 1 << p
            buckets.add(b)
    return sorted(buckets)


def lsh_plane_dots(query_vec: DataFrame, vec_col: str, num_planes: int) -> list[float]:
    """The query's raw dot product against each hash-synthesized
    hyperplane — one 1-row Spark job over the same JVM expressions
    :func:`lsh_bucket` folds into sign bits. |dot_p| is the margin of
    the query to plane p's boundary: the confidence that true
    neighbors share bit p."""
    def _plane_term(p: int):
        return lambda x, i: x.cast("double") * (
            (F.xxhash64(F.lit(p), i) % 10007).cast("double") / 10007.0
        )

    vec = F.col(vec_col)
    exprs = [
        F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.size(vec) - 1), _plane_term(p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{p}")
        for p in range(num_planes)
    ]
    row = query_vec.select(*exprs).first()
    return [float(row[p]) for p in range(num_planes)]


def lsh_directed_probes(
    q_bucket: int, dots: list[float], probe_budget: int
) -> list[int]:
    """Query-directed multi-probe (Lv et al., "Multi-Probe LSH", VLDB
    2007): rank candidate buckets by the total margin |dot_p| of the
    sign bits flipped to reach them — a bucket reached by flipping
    only low-confidence bits is far more likely to hold the query's
    true neighbors than one at the same Hamming distance across
    high-margin planes. Returns the ``probe_budget`` best buckets
    (query bucket first). Pure driver-side metadata: all 2^planes
    flip masks are scored with one numpy pass (planes ≤ 20 enforced —
    beyond that, signatures are too fine for bucket probing anyway)."""
    import numpy as np

    num_planes = len(dots)
    if num_planes > 20:
        raise ValueError("directed probing enumerates 2^planes masks; use <= 20 planes")
    margins = np.abs(np.asarray(dots, dtype=float))
    n = 1 << num_planes
    masks = np.arange(n, dtype=np.uint32)
    # cost[mask] = sum of margins over set bits — vectorized bitplane sum
    cost = np.zeros(n)
    for p in range(num_planes):
        cost[(masks >> p) & 1 == 1] += margins[p]
    order = np.argsort(cost, kind="stable")[: max(1, probe_budget)]
    return [int(q_bucket ^ int(m)) for m in order]


def lsh_search(
    index: LshIndex,
    query_vec: DataFrame,
    k: int = 10,
    multi_probe: int = 0,
    shortlist: int | None = None,
    probe_budget: int | None = None,
) -> DataFrame:
    """Search a built LSH index: scan the query's bucket, plus — with
    ``multi_probe`` > 0 — every bucket within that Hamming distance of
    the query signature (see :func:`lsh_probe_buckets`). Candidates
    grow by ~C(planes, multi_probe) buckets while the corpus scan
    stays bucket-bounded. ``probe_budget`` replaces the Hamming ball
    with query-DIRECTED probing (see :func:`lsh_directed_probes`):
    the budgeted number of buckets ranked by flipped-bit margin —
    strictly better membership per probed bucket, at the cost of one
    extra 1-row Spark job for the plane dots.

    ``shortlist`` (requires a ``pq_m`` build) runs the two-stage scan:
    ADC over the probed buckets' ``codes`` (~m bytes/row), exact
    cosine only on the ``shortlist`` winners read back from the
    index's own vectors. Plain LSH recall is capped by bucket
    MEMBERSHIP — in-bucket scoring is already exact — and membership
    only widens by probing more buckets, which is affordable exactly
    when the probe reads code bytes: pass a wide probe set (e.g.
    ``probe_budget≈half the buckets``) together with ``shortlist``
    and total bytes stay ≈ (probed rows)·m + |shortlist|·dim·4."""
    qvec = query_vec.select(index.vec_col).first()[0]
    dtype = index.table.schema[index.vec_col].dataType
    qrow = query_row(index.table.sparkSession, qvec, dtype)
    if probe_budget is not None:
        dots = lsh_plane_dots(query_vec, index.vec_col, index.num_planes)
        q_bucket = sum(1 << p for p, d in enumerate(dots) if d > 0)
        buckets = lsh_directed_probes(q_bucket, dots, probe_budget)
    else:
        q_bucket_df = qrow.withColumn(
            "bucket", lsh_bucket(F.col("qvec"), index.num_planes)
        )
        q_bucket = q_bucket_df.select("bucket").first()[0]
        buckets = lsh_probe_buckets(q_bucket, index.num_planes, multi_probe)
    probed = index.table.filter(F.col("bucket").isin(buckets))

    if shortlist is not None:
        if index.codebooks is None:
            raise ValueError(
                "shortlist search needs PQ codes: build with lsh_build(..., pq_m=...)"
            )
        import numpy as np

        from .pq import (  # lazy: pq imports us at module level
            ISIN_PUSHDOWN_MAX,
            _exact_rerank,
            _lut_row,
            adc_score_expr,
        )

        lut_df = _lut_row(index.table.sparkSession, index.codebooks, qvec)
        kk = int(np.asarray(index.codebooks).shape[1])
        adc_top = (
            probed.select(index.id_col, "codes")
            .crossJoin(F.broadcast(lut_df))
            .select(
                F.col(index.id_col),
                F.round(adc_score_expr(F.col("codes"), F.col("lut"), kk), 4).alias(
                    "adc_score"
                ),
            )
            .orderBy(F.col("adc_score").desc(), F.col(index.id_col))
            .limit(shortlist)
        )
        return _exact_rerank(
            adc_top,
            index.table.select(index.id_col, index.vec_col),
            qvec,
            k,
            index.vec_col,
            index.id_col,
            isin_pushdown=shortlist <= ISIN_PUSHDOWN_MAX,
        )

    cos = F.round(cosine_expr(F.col(index.vec_col), F.col("qvec")), 4)
    return (
        probed.crossJoin(F.broadcast(qrow))
        .select(F.col(index.id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(index.id_col))
        .limit(k)
    )


def lsh_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    multi_probe: int = 1,
) -> DataFrame:
    """One-shot approximate top-k: :func:`lsh_build` +
    :func:`lsh_search` without persistence. Defaults to one round of
    multi-probe (all Hamming-1 buckets): a single bucket holds
    ~corpus/2^planes rows, which caps recall at that same fraction on
    weakly-clustered data (tools/ann_recall.py measures this), so the
    widened probe set is the sane default; pass multi_probe=0 for the
    narrowest scan. Repeated searches should build the index once
    (optionally persisted) and reuse it."""
    index = lsh_build(corpus, vec_col, id_col, num_planes)
    return lsh_search(index, query_vec, k, multi_probe=multi_probe)
