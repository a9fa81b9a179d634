"""Deduplication family for training-data pipelines (north-star
extension, BASELINE.json): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale posture (the whole point of these operators):

- every method is shuffle-bounded by *candidate generation* — LSH
  band buckets or signature chunks — never by all-pairs comparison;
- shingling/banding/joins are JVM-side column expressions; Python
  runs in two Arrow-batched numpy kernels: the MinHash signature
  kernel (the JVM form, 64 interpreted higher-order lambdas, cost
  ~30 s of Janino codegen per plan-cache miss, ran no faster, and was
  removed) and, above a measured candidate volume, the exact verify
  intersect (see :func:`_verify`);
- MinHash-LSH and the exact similarity join (operators/ssjoin.py)
  are built from shared named stages: collapse (:func:`_collapse`),
  signatures, candidates, verify (:func:`_verify`) and assemble
  (:func:`_expand_members`);
- verification (exact Jaccard / hamming / cosine) runs only on
  bucket-colliding pairs, which is the textbook MinHash-LSH design:
  band collisions have probability s^r for true similarity s, so
  the candidate set is tiny relative to n^2.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a document/vector table to the session's shuffle
    parallelism before CPU-heavy per-row work (signatures, bit votes,
    gram explodes). Input split sizing is byte-based, so a small file
    would otherwise pin an expensive pipeline to one task; the explicit
    count also keeps AQE from coalescing it back."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n)

# ---------------------------------------------------------------------------
# Shingling + MinHash signatures


_MERSENNE = 2147483647  # 2^31 - 1: keeps a*h+b inside long range

# Distinct-text count from which the exact verify stage (_verify, its
# one reader) runs the Arrow sort+searchsorted kernel instead of JVM
# array_intersect. The kernel wins ~95 us/pair but costs a flat ~1.3 s
# Python-worker / Arrow round-trip per run; candidates scale with
# distinct text, so the crossover (~14 k pairs) maps to a
# distinct-count gate. Measured: d=4,992 (sf0.1/sf1 fixtures) JVM wins
# by the full constant; d=38,845 (sf1u) the kernel already wins;
# d=377 k (sf10u) it wins 12+ s.
_VERIFY_KERNEL_MIN_DISTINCT = 20_000

# The one byte budget of every broadcast-vs-shuffle decision in the
# dedup and curation operators; :func:`_sized` is its only reader and
# documents how it was chosen.
_BROADCAST_BUDGET_BYTES = 512 << 20


def _sized(rows: float, row_bytes: float, big: str = "merge") -> str:
    """The join-strategy hint for a join side of ``rows`` rows and
    ``row_bytes`` average row width: ``"broadcast"`` while
    rows × row_bytes fits _BROADCAST_BUDGET_BYTES, else ``big``
    (``"merge"``, or ``"shuffle_hash"`` where a merge join would sort
    millions of array-carrying rows). Call sites pass
    ``df.hint(_sized(...))`` and only measured numbers.

    Why a gate at all: every gated side descends from a checkpoint (a
    LogicalRDD keeps the pre-checkpoint guess) or an aggregate the
    planner guesses tiny, so the static planner would broadcast it at
    any scale (at sf10u it static-broadcast the 6 M-row band table,
    both shingle-array tables, the 16 M-row gram-df table and
    one full prefix side), and AQE only promotes joins to broadcast,
    never demotes one. Above the budget the pipeline degrades to
    shuffle joins instead of failing in a driver-side build.

    ``rows`` is the side's own measured row count or a measured upper
    bound on it; a gram-keyed side counts grams, not documents.
    ``row_bytes`` follows Spark's row layout: a fixed-width column
    takes its type's width, a string its measured average length plus
    the 8-byte offset word every string carries (so an md5 hex digest
    is 40), an array its measured average length times its element
    width. Each operator measures lengths in a job it already runs
    (the checkpoint that completes its table, or the count over it),
    so no gate adds a job, and long documents scale the width instead
    of silently overrunning a row bound.

    The budget, 512 MiB, follows the broadcast guidance of a few
    hundred MB (the hard cap is 8 GB / 512 M rows) and sits between
    two measured sf10u builds. Below it: the MinHash verify attach,
    377 k distinct shingle arrays of ~204 ints (~297 MiB), which
    broadcast measured >4x faster than shuffle_hash, because the pair
    table amplifies each array ~39x through a second attach exchange.
    Above it: the similarity join's gram-df and prefix sides, 19.7 M
    gram rows (~591 and ~742 MiB), which stay sort-merge."""
    return "broadcast" if rows * row_bytes <= _BROADCAST_BUDGET_BYTES else big


# ---------------------------------------------------------------------------
# Exact-duplicate collapse (shared by the dedup, similarity-join and
# curation operators)


def _dup_profile(members: DataFrame, key: str) -> tuple[int, int, bool]:
    """Duplication profile of ``members`` over its content ``key``:
    one 1-row ``count``/``countDistinct`` job, returned as
    ``(n, d, collapse)``.

    The exact-duplicate collapse runs an operator on ONE representative
    per distinct content and maps the result back to every member.
    Identical texts (or vectors) have identical shingle sets, gram
    sets, signatures, buckets and scores, so nothing the full-corpus
    pipeline would find is lost. Without it a cluster of m exact
    copies inflates pair candidates by C(m, 2) while the data grows by
    m: 24.5x time for 10x data (MinHash-LSH) and 10.8x (similarity
    join) on the fully duplicated sf1 replication fixture, restored to
    about linear by the collapse.

    The collapse is adaptive, the same measure-then-plan move AQE
    makes: it pays only when duplicate mass is material (at least 5%
    of the rows repeat an earlier content), because its grouping and
    member-expansion joins are pure overhead for a handful of twins.
    A dup-free corpus therefore runs the direct pipeline and pays
    only this profile job. ``collapse`` is that verdict; ``n`` and
    ``d`` are the measured row and distinct counts the callers' join
    gates (:func:`_sized`) read."""
    prof = members.agg(
        F.count("*").alias("n"), F.countDistinct(key).alias("d")
    ).first()
    return prof.n, prof.d, prof.d * 100 <= prof.n * 95


def _collapse(
    docs: DataFrame, id_col: str, text_col: str, profile: bool = True
) -> tuple[DataFrame, int | None, int, DataFrame | None, DataFrame | None]:
    """Collapse prologue of the set-similarity operators
    (:func:`minhash_lsh_pairs`, operators/ssjoin.py): returns
    ``(members, n, d, reps, rep_src)``.

    ``members`` is (id, __th), one row per document, lazily
    checkpointed and left scan-partitioned (md5 is cheap next to a
    full-corpus repartition, and every consumer shuffles anyway). With
    ``profile``, ``(n, d)`` and the verdict come from
    :func:`_dup_profile`, and ``reps``/``rep_src`` are None when the
    direct pipeline runs. Without it (cluster output, which needs the
    clusters anyway) no profile job is paid (~1.5 s at sf1,
    BENCHDIFF_r10_sf1): the collapse runs, ``n`` is None and ``d`` is
    the count of the rep checkpoint every later stage reuses.

    Representatives come from ONE aggregate, not groupBy + semi-join
    + rescan (two more full-corpus exchanges and a second scan): a
    __th group's texts are byte-identical, so first(text) is
    deterministic and min(id) is the representative. ``reps`` is
    (__th, id); ``rep_src`` is (id, __t), their texts, spread
    (:func:`_spread`) because AQE coalesces the aggregate's exchange
    to ONE partition at small distinct counts and the CPU-heavy stages
    after it would run on one task (+1.2 s at sf1, d=4,992)."""
    th = F.md5(F.col(text_col).cast("string"))
    members = docs.select(
        F.col(id_col).alias("id"), th.alias("__th")
    ).localCheckpoint(eager=False)
    n = d = None
    if profile:
        n, d, collapse = _dup_profile(members, "__th")
        if not collapse:
            return members, n, d, None, None
    rep_docs = (
        docs.groupBy(th.alias("__th"))
        .agg(
            F.min(F.col(id_col)).alias("id"),
            F.first(F.col(text_col)).alias("__text"),
        )
        .localCheckpoint(eager=False)
    )
    # the count completes the checkpoint in its own job before any
    # consumer runs (see the shingle table in minhash_lsh_pairs), and
    # is the distinct count where no profile ran
    n_reps = rep_docs.count()
    d = n_reps if d is None else d
    rep_src = _spread(rep_docs.select("id", F.col("__text").alias("__t")))
    return members, n, d, rep_docs.select("__th", "id"), rep_src


def _expand_members(
    rep_pairs: DataFrame,
    reps: DataFrame,
    members: DataFrame,
    n: int,
    d: int,
    a: str,
    b: str,
    eligible: DataFrame | None,
    intra: list[Column],
) -> DataFrame:
    """Expand a collapsed pair answer (see :func:`_dup_profile`) back
    to member pairs.

    ``rep_pairs`` holds representative pairs ``a`` < ``b`` plus value
    columns every member pair inherits; ``reps`` is (__th, id), one
    representative id per content hash; ``members`` is (id, __th), one
    row per document; ``n``/``d`` are the measured member and distinct
    counts.

    - Cross pairs: each representative pair becomes every (member of
      a's cluster, member of b's cluster) pair. Clusters are disjoint,
      so least/greatest restores ``a`` < ``b`` and no cross pair can
      collide with an intra pair. The expansion is output-bound:
      exactly the rows the uncollapsed pipeline would have verified
      one by one.
    - Intra pairs: every member pair within the cluster of an
      ``eligible`` representative (``id`` plus any columns the
      ``intra`` value expressions read as ``x.<col>``), e.g. only
      texts with a non-empty shingle set, whose twins the uncollapsed
      pipeline pairs. ``eligible=None`` emits none (a threshold above
      1 admits no identical pair).

    Every (id, md5) side is gated by :func:`_sized`: the (rid, __th)
    side is d rows and ``members`` n rows, 8 + 40 bytes each."""
    rep_th = reps.select(F.col("id").alias("rid"), "__th")

    def side(df: DataFrame, rows: int, *renames: tuple[str, str]) -> DataFrame:
        cols = [F.col(c).alias(to) for c, to in renames]
        return df.select(*cols).hint(_sized(rows, 48))

    values = [c for c in rep_pairs.columns if c not in (a, b)]
    cross = (
        rep_pairs.join(side(rep_th, d, ("rid", a), ("__th", "__th_a")), a)
        .join(side(rep_th, d, ("rid", b), ("__th", "__th_b")), b)
        .join(side(members, n, ("__th", "__th_a"), ("id", "a_id")), "__th_a")
        .join(side(members, n, ("__th", "__th_b"), ("id", "b_id")), "__th_b")
        .select(
            F.least("a_id", "b_id").alias(a),
            F.greatest("a_id", "b_id").alias(b),
            *values,
        )
    )
    if eligible is None:
        return cross
    carried = [c for c in eligible.columns if c != "id"]
    eligible_th = eligible.join(
        rep_th.hint(_sized(d, 48)), F.col("id") == F.col("rid")
    ).select("__th", *carried)
    # the carried value columns are fixed-width, at most 8 bytes each
    eligible_th = eligible_th.hint(_sized(d, 40 + 8 * len(carried)))
    # a semi join keeps the planner's estimate of mm at members' own
    # size (an inner join's estimate multiplies both sides and turns
    # the self-join below from a broadcast into a sort-merge join);
    # the value columns attach to the pairs after the self-join
    mm = members.join(eligible_th, "__th", "left_semi")
    intra_pairs = (
        mm.alias("p")
        .join(
            mm.alias("q"),
            (F.col("p.__th") == F.col("q.__th")) & (F.col("p.id") < F.col("q.id")),
        )
        .select(F.col("p.__th").alias("__th"), F.col("p.id").alias(a), F.col("q.id").alias(b))
    )
    if carried:
        intra_pairs = intra_pairs.join(eligible_th.alias("x"), "__th")
    return cross.unionByName(intra_pairs.select(a, b, *intra))


def shingle_hashes(shingles: Column) -> Column:
    """Base hash per shingle, reduced mod 2^31-1. Each shingle STRING
    is hashed exactly once; the per-seed MinHash values are then cheap
    linear mixes of this base hash (the universal-hashing-family
    construction). Hashing the string once instead of once per seed is
    a ~num_hashes-fold cut in string hashing — the dominant cost of
    signature computation."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE)))


def _mix_coeffs(seed: int) -> tuple[int, int]:
    """Deterministic (a, b) for the linear hash family h_i = a*h + b
    mod p: a in [1, p-1], b in [0, p-1]. Knuth multiplicative constants
    keep the seeds well spread; no RNG state, reproducible anywhere."""
    a = (seed * 2654435761 + 1) % (_MERSENNE - 1) + 1
    b = (seed * 40503 + 9176) % _MERSENNE
    return a, b


def hashed_shingle_set(text: Column | str, k: int) -> Column:
    """Each document's DISTINCT hashed k-char shingles as an
    ``array<int>`` — every k-char substring hashed as in
    :func:`shingle_hashes`, fused into one pass.

    Distinct-HASH vs distinct-STRING sets: identical downstream
    everywhere (min-mix, intersect and set sizes are all set functions
    of the hash values; a string-collision duplicate never changes a
    set function) — and deduping AFTER hashing makes array_distinct
    compare ints, not strings.

    int element type: base hashes live in [0, 2^31-2] (pmod by the
    Mersenne prime), so the cast is lossless, and the verify stage's
    array_intersect measures 1.75x faster on int than bigint arrays;
    the numpy signature kernel upcasts to int64 before mixing —
    signatures stay bit-identical.

    Deliberately the ARRAY form, not a flat explode: the per-element
    op here is one xxhash64 of a k-char substring — light enough that
    a flat rewrite (explode + partition-local dedup + re-collect over
    ~240 M rows at sf10u) measured SLOWER (13.9 s vs 9.2 s) than the
    interpreted-lambda cost it removes. Contrast operators/winnow.py,
    whose per-element md5+conv chain is heavy enough that flat wins
    3x there."""
    t = F.col(text) if isinstance(text, str) else text
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
        lambda i: F.pmod(F.xxhash64(t.substr(i, F.lit(k))), F.lit(_MERSENNE))
        .cast("int"),
    )
    return F.array_distinct(grams)


def minhash_signature_packed_np(num_hashes: int = 64, n_buckets: int = 128):
    """The engine's one MinHash signature kernel, Arrow-batched numpy,
    emitting per document:

    - ``sig``    — the num_hashes-wide MinHash signature over pre-hashed
      shingles (see :func:`shingle_hashes`): for seed i, min over
      shingles of (a_i * h + b_i) mod p, with (a_i, b_i) from
      :func:`_mix_coeffs`, as one broadcasted multiply-mod-min per
      document, int64-exact (a < 2^31 and h < 2^31 so a*h+b < 2^62);
    - ``packed`` — ``n_buckets`` counts of the doc's shingle hashes by
      ``h & (n_buckets - 1)``, 8 bits each, packed little-endian into
      ``n_buckets / 8`` bigints. NULL if any bucket count exceeds 255
      (the byte cap would silently UNDERstate the bound and make it
      unsound) — :func:`_packed_prune` treats NULL as "cannot bound,
      must verify".

    The per-doc Python loop is amortized: each iteration is one
    C-level matrix op over the whole signature, and Arrow moves only
    the long arrays. The counts are one vectorized bincount inside the
    same pass, so the hash arrays cross the Python boundary once."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    coeffs = [_mix_coeffs(i) for i in range(num_hashes)]
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    shifts = np.arange(8, dtype=np.int64) * 8
    mask = n_buckets - 1

    @F.pandas_udf(
        StructType(
            [
                StructField("sig", ArrayType(LongType())),
                StructField("packed", ArrayType(LongType())),
            ]
        )
    )
    def _sigp(hashes: pd.Series) -> pd.DataFrame:
        sigs, packs = [], []
        for h in hashes:
            arr = np.asarray(h, dtype=np.int64)
            sigs.append(((a_vec * arr[None, :] + b_vec) % _MERSENNE).min(axis=1))
            cnt = np.bincount(arr & mask, minlength=n_buckets)
            if cnt.size > n_buckets or cnt.max() > 255:
                packs.append(None)
            else:
                packs.append(
                    (cnt.astype(np.int64).reshape(-1, 8) << shifts).sum(axis=1)
                )
        return pd.DataFrame({"sig": sigs, "packed": packs})

    return _sigp


def _signatures(base: DataFrame, num_hashes: int) -> DataFrame:
    """Signature stage: (id, sh_hashes) -> (id, n, sig, packed), with
    ``n`` the exact set size (sh_hashes is distinct by construction)
    and ``sig``/``packed`` from :func:`minhash_signature_packed_np`."""
    return base.select(
        "id",
        F.size("sh_hashes").alias("n"),
        minhash_signature_packed_np(num_hashes)(F.col("sh_hashes")).alias("sp"),
    ).select("id", "n", F.col("sp.sig").alias("sig"), F.col("sp.packed").alias("packed"))


def _packed_intersect_ub(pa: Column, pb: Column, n_words: int = 16) -> Column:
    """Sound upper bound on |A ∩ B| from two packed bucket-count
    vectors: for ANY partition of the hash space into buckets,
    |A ∩ B| = Σ_b |A_b ∩ B_b| <= Σ_b min(|A_b|, |B_b|). Unpacks and
    mins the 8-bit counts with plain shift/and/least — every op is
    whole-stage-codegen'd long arithmetic, ~128 least() terms per
    pair, orders of magnitude cheaper than the array_intersect it
    gates."""
    terms = []
    for w in range(1, n_words + 1):
        a, b = F.element_at(pa, w), F.element_at(pb, w)
        for j in range(0, 57, 8):
            terms.append(
                F.least(
                    F.shiftright(a, j).bitwiseAND(F.lit(255)),
                    F.shiftright(b, j).bitwiseAND(F.lit(255)),
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _intersect_counts_np(batches):
    """mapInPandas kernel for the LSH verify stage: EXACT
    set-intersection sizes for candidate pairs whose (distinct) hashed
    shingle arrays were attached by the two candidate-bounded joins.

    Why Python here at all: JVM ``array_intersect`` builds a fresh
    hash set per row (measured ~110 us/pair on 600-element int
    arrays); this kernel's per-pair ``np.sort`` + ``searchsorted``
    measures ~15 us, and a one-element cache skips re-sorting
    consecutive rows that share ``id_a`` (:func:`_verify`, its one
    caller, hands rows over in id_a runs). Exactness is preserved:
    both arrays are distinct by construction, so the match count IS
    |A ∩ B| — bit-identical to the JVM form; the Jaccard
    division/round stays JVM-side so float semantics never cross the
    boundary.

    int64 internally, so the same kernel serves both 31-bit shingle
    hashes (MinHash) and full-range xxhash64 gram hashes
    (operators/ssjoin.py).

    A fully-batch-vectorized variant (tag elements with the pair index
    in the int64 high bits, one np.sort per batch, count adjacent
    duplicates) was measured this round and REJECTED: it allocates
    several ~25-50 MB arrays per batch, and on this host glibc mmaps
    and munmaps blocks that size on every free, so each batch pays
    fresh page faults — 19x SLOWER than this loop (1350 vs 15-19
    us/pair quiet, reproduced with per-step timings; an out=-buffered
    variant still measured 21 us/pair). The row loop's small
    arena-recycled temporaries never hit that path. Revisit only with
    an allocator change."""
    for pdf in batches:
        n = len(pdf)
        out = np.zeros(n, dtype=np.int32)
        ids = pdf["id_a"].to_numpy()
        has, hbs = pdf["h_a"], pdf["h_b"]
        last_id, sa = None, None
        for i in range(n):
            b = hbs.iat[i]
            if last_id != ids[i]:
                a = has.iat[i]
                sa = None if a is None else np.sort(np.asarray(a, dtype=np.int64))
                last_id = ids[i]
            if sa is None or sa.size == 0 or b is None or len(b) == 0:
                continue
            bb = np.asarray(b, dtype=np.int64)
            idx = np.searchsorted(sa, bb)
            idxc = np.minimum(idx, sa.size - 1)
            out[i] = np.count_nonzero((sa[idxc] == bb) & (idx < sa.size))
        yield pd.DataFrame(
            {
                "id_a": pdf["id_a"],
                "id_b": pdf["id_b"],
                "n_a": pdf["n_a"],
                "n_b": pdf["n_b"],
                "inter": out,
            }
        )


def _band_table(
    sigs: DataFrame, bands: int, rows_per_band: int, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(id, sig) -> exploded (id, *extra, band, band_hash) — 24 bytes
    per band plus any passthrough columns, never the signature array
    itself (see minhash_lsh_pairs docstring).

    band_hash is the multi-argument (seed-chained) xxhash64 of the
    band's rows_per_band signature values hashed NATIVELY as longs —
    no cast-to-string/concat round trip (measured ~2x on the band
    stage; the long forms are unambiguous, unlike string concat
    without a separator). band is part of every downstream join key,
    so only within-band collisions matter, at xxhash64's 2^-64. The
    value is also what minhash_index_write persists: build and probe
    must run the same band-hash format, enforced by the index's
    ``_meta.json`` format_version (see _MINHASH_INDEX_FORMAT) —
    bump it if this layout ever changes again."""
    return sigs.select(
        "id",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(
                                    F.col("sig"), b * rows_per_band + r + 1
                                )
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", *extra, "b.band", "b.band_hash")


def _bucket_candidates(
    banded: DataFrame, jaccard_threshold: float, n_parts: int
) -> DataFrame:
    """Candidate stage of :func:`minhash_lsh_pairs`: band table (id, n,
    band, band_hash) -> distinct (id_a, id_b, n_a, n_b) with
    id_a < id_b, hash-partitioned by id_a over ``n_parts`` partitions.

    Bucket GROUPING, not a band-table self-join: group the band table
    once by (band, band_hash), collect each bucket's (id, n) members
    sorted by id, and stream every within-bucket pair out of two
    Generates. The self-join form read the 6 M-row (at sf10u) band
    table twice and, because the checkpoint's frozen estimate undercuts
    the 64 MB auto threshold at EVERY scale, static-broadcast one full
    copy of it (a serial driver-side HashedRelation build). The grouped
    form's only exchange carries the same (id, n) rows exactly once,
    partially collected map-side; array_sort makes the bucket order
    deterministic and gives id_a < id_b for free. That exchange is left
    to AQE: a repartition(n_parts, band, band_hash) before the groupBy
    measured no gain at sf10u and +14% on the sf0.1 bench row.

    The lossless PPJoin length filter (J(A,B) <= min/max of the set
    sizes) drops size-mismatched pairs before they cost dedup or verify
    work (14.6 M -> 9.4 M candidates at sf10u); the 5e-5 slack mirrors
    the round(jaccard, 4) of the final filter.

    ONE exchange serves both the pair dedup and the verify layout: the
    explicit repartition runs first, and dropDuplicates' clustered
    distribution on (id_a, id_b) is satisfied by hash partitioning on
    id_a. The explicit count also keeps AQE's byte-based coalescing
    from squeezing the CPU-heavy verify into a few tasks (candidate
    rows are tiny in bytes); a user-specified repartition is exempt."""
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(F.struct("id", "n"))).alias("__ms"))
        .filter(F.size("__ms") >= 2)
        .select("__ms")
    )
    rest = F.slice("__ms", F.col("__i0") + F.lit(2), F.size("__ms") - F.col("__i0") - F.lit(1))
    return (
        buckets.select("__ms", F.posexplode("__ms").alias("__i0", "__a"))
        .filter(F.col("__i0") < F.size("__ms") - 1)
        .select(
            F.col("__a.id").alias("id_a"),
            F.col("__a.n").alias("n_a"),
            F.explode(rest).alias("__b"),
        )
        .select("id_a", F.col("__b.id").alias("id_b"), "n_a", F.col("__b.n").alias("n_b"))
        .filter(
            F.least("n_a", "n_b").cast("double")
            >= (jaccard_threshold - 5e-5) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .repartition(n_parts, "id_a")
        .dropDuplicates(["id_a", "id_b"])
    )


def _packed_prune(
    cands: DataFrame, sp: DataFrame, rows: int, jaccard_threshold: float
) -> DataFrame:
    """Candidate prune of :func:`minhash_lsh_pairs` before any array
    payload moves: attach the 128-byte packed bucket-count vectors of
    ``sp`` (never the 5 KB hash arrays) and drop every pair whose sound
    bound (:func:`_packed_intersect_ub`) proves J below the threshold;
    a NULL vector (uncappable doc) must verify.

    The candidate J distribution is bimodal at sf10u (9.4 M pairs at
    J <= 0.4 vs 15 k true pairs at J >= 0.8), so at a 0.7 threshold the
    bound clears ~99.8% of the exact-intersect work (verify stage
    25.6 s -> 3.5 s). The bound carries ~0.1-0.15 of additive J slack
    (the per-bucket min picks up noise from non-shared elements), so
    below 0.5 it proves almost nothing and its two joins are pure
    overhead; it runs only from 0.5 (the clusters query verifies at
    0.2, where ~60% of candidates genuinely pass). ``rows`` is the
    measured row count of ``sp``; both joins are gated on it
    (:func:`_sized`)."""
    if jaccard_threshold < 0.5:
        return cands

    def side(s: str) -> DataFrame:
        cols = [F.col("id").alias(f"id_{s}"), F.col("packed").alias(f"pk_{s}")]
        # an id and 16 packed longs
        return sp.select(*cols).hint(_sized(rows, 8 + 8 * 16))

    ub = _packed_intersect_ub(F.col("pk_a"), F.col("pk_b"))
    bound = ub.cast("double") >= (jaccard_threshold - 5e-5) * (
        F.col("n_a") + F.col("n_b") - ub
    )
    return (
        cands.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .filter(F.col("pk_a").isNull() | F.col("pk_b").isNull() | bound)
        .select("id_a", "id_b", "n_a", "n_b")
    )


def _verify(
    pairs: DataFrame, arrays: DataFrame, d: int, rows: int, row_bytes: float
) -> DataFrame:
    """Exact verify stage of the set-similarity operators
    (:func:`minhash_lsh_pairs`, operators/ssjoin.py): |A ∩ B| for every
    candidate pair, returned as (id_a, id_b, n_a, n_b, inter). The
    Jaccard arithmetic stays with each caller.

    ``pairs`` holds (id_a, id_b); ``arrays`` holds one row per ``id``
    with ``h``, a distinct hash array, and ``n``, its size. Every
    column of ``arrays`` attaches to both sides with an _a/_b suffix,
    so pairs that already carry n_a/n_b (MinHash's length filter needs
    them) pass an (id, h) table. Two decisions, each made once:

    - Attach joins: ``arrays`` has ``rows`` measured rows of
      ``row_bytes`` measured width, and :func:`_sized` picks broadcast
      or shuffle_hash for both attaches.
    - Intersect: JVM ``array_intersect`` while ``d``, the measured
      distinct-text count, is below _VERIFY_KERNEL_MIN_DISTINCT, the
      Arrow kernel :func:`_intersect_counts_np` from it on; both exact
      on distinct arrays, with the same integer (coalesce matches the
      kernel's 0 for a null or empty side).

    The kernel sorts each left array once per run of equal id_a. Under
    shuffle_hash the second attach re-exchanges the pair stream by
    id_b, so a sort within partitions on id_a after the last attach
    restores the runs. Under broadcast the attaches keep the candidate
    stage's stream order and no sort runs: a sort of the narrow pairs
    before the joins is dropped by Catalyst (EliminateSorts removes a
    sort under a join), and one of the array-carrying rows after them
    is not paid where candidate volume is largest."""
    attach = _sized(rows, row_bytes, big="shuffle_hash")

    def side(s: str) -> DataFrame:
        cols = [F.col(c).alias(f"{c}_{s}") for c in arrays.columns]
        return arrays.select(*cols).hint(attach)

    paired = (
        pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select("id_a", "id_b", "n_a", "n_b", "h_a", "h_b")
    )
    if d < _VERIFY_KERNEL_MIN_DISTINCT:
        inter = F.coalesce(F.size(F.array_intersect("h_a", "h_b")), F.lit(0))
        return paired.select("id_a", "id_b", "n_a", "n_b", inter.alias("inter"))
    if attach != "broadcast":
        paired = paired.sortWithinPartitions("id_a")
    return paired.mapInPandas(
        _intersect_counts_np,
        StructType(
            [paired.schema[c] for c in ("id_a", "id_b", "n_a", "n_b")]
            + [StructField("inter", IntegerType())]
        ),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.7,
    output: str = "pairs",
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH.

    Stages: exact-duplicate collapse (:func:`_collapse`) -> shingle,
    base-hashing each shingle once (:func:`hashed_shingle_set`) -> 64
    linear-mix MinHash values (:func:`_signatures`) -> 16 bands of 4
    (:func:`_band_table`) -> bucket candidates
    (:func:`_bucket_candidates`) -> packed-bound prune
    (:func:`_packed_prune`) -> exact verify (:func:`_verify`) ->
    Jaccard threshold -> assemble (:func:`_expand_members`, or
    :func:`_minhash_clusters`).

    Shuffle discipline (the part that matters at 100 TB): the band
    table carries ONLY (id, n, band, band_hash) — never the shingle
    arrays — so the 16-way band explode shuffles a few bytes per band,
    not 16 copies of each document's shingles. Candidate pairs are
    deduplicated first and only then joined to the shingle-hash
    arrays, so array payloads move through exactly one
    candidate-bounded join per side.

    Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.

    ``output="clusters"`` returns the CLUSTER-level answer instead:
    one row per verified DISTINCT-TEXT pair — (id_a, id_b, jaccard,
    members_a, members_b, n_member_pairs), where ids are cluster
    representatives and exact-dup clusters of size >= 2 appear as
    self-rows (id_a == id_b, jaccard 1.0, n_member_pairs = C(m, 2)).
    This is the scale-safe form for duplicated corpora: the member
    expansion is quadratic in duplicate mass BY THE ANSWER'S OWN
    SEMANTICS (m copies on each side of a dup pair are m^2 real rows),
    so on a 100x-duplicated corpus the pair form's runtime measures
    answer size. The cluster form carries the identical information
    (every member pair is reconstructible from it) in output
    cardinality independent of duplication.

    Exact-duplicate collapse (see :func:`_dup_profile` and
    :func:`_expand_members`): docs are grouped by content hash and the
    whole LSH pipeline runs on ONE representative per distinct text;
    pairs WITHIN an exact-dup cluster are Jaccard 1.0 by definition,
    emitted without any verify work and only for texts whose shingle
    set is non-empty (two too-short-to-shingle twins score null, not
    1.0, exactly as the uncollapsed pipeline did).
    """
    if output not in ("pairs", "clusters"):
        raise ValueError(f"output must be 'pairs' or 'clusters', got {output!r}")
    n_parts = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    members, n, d, reps, src = _collapse(
        docs, id_col, text_col, profile=output == "pairs"
    )
    if reps is None:
        # direct pipeline: repartition for shingle/signature CPU
        # parallelism (byte-based input splits would underparallelize
        # a small file)
        src = _spread(docs).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__t")
        )
    # The hashed-shingle table feeds three consumers (signatures and
    # both verify sides), so it is checkpointed: the shingling runs
    # once per invocation instead of three times. Eagerly, because its
    # plan holds an exchange (the spread): a lazy checkpoint is
    # completed by whichever of its consumers' concurrent jobs finishes
    # first, which drops the lineage, and tasks of a job submitted
    # before then report that exchange's shuffle-read metrics to
    # accumulators the driver has already collected (hundreds of
    # "Failed to update accumulator" errors per five passes, and those
    # metrics lost). See operators/ssjoin.py for the
    # persist-vs-localCheckpoint trade. The same job measures the
    # table's rows and average array length for the join gates
    # (:func:`_sized`): an observation rides on the checkpoint's own
    # job, where a lazy checkpoint completed by an aggregate would
    # run one job more.
    obs = Observation()
    base = (
        src.select("id", hashed_shingle_set("__t", k).alias("sh_hashes"))
        .observe(obs, F.count(F.lit(1)).alias("rows"), F.avg(F.size("sh_hashes")).alias("len"))
        .localCheckpoint(eager=True)
    )
    rows, avg_len = obs.get["rows"], obs.get["len"] or 0.0
    # the kernel output feeds both the band table and the packed prune
    # (id + n + 64-long sig + 16-long packed ≈ 700 B per DISTINCT doc)
    sp = _signatures(base, num_hashes).localCheckpoint(eager=False)
    banded = _band_table(sp, bands, num_hashes // bands, extra=("n",))
    cands = _bucket_candidates(banded, jaccard_threshold, n_parts)
    cands = _packed_prune(cands, sp, rows, jaccard_threshold)
    # an id and an int array
    arrays = base.select("id", F.col("sh_hashes").alias("h"))
    counted = _verify(cands, arrays, d, rows, 8 + 4 * avg_len)
    # n_a/n_b are exact set sizes, so the union is set arithmetic
    # (|A ∪ B| = |A| + |B| − |A ∩ B|), never an array_union per pair
    inter = F.col("inter")
    jaccard = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    rep_pairs = (
        counted.withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    shingled = base.filter(F.size("sh_hashes") > 0).select("id")
    if output == "clusters":
        return _minhash_clusters(rep_pairs, reps, members, d, shingled)
    if reps is None:
        return rep_pairs
    return _expand_members(
        rep_pairs,
        reps,
        members,
        n,
        d,
        "id_a",
        "id_b",
        None if jaccard_threshold > 1.0 else shingled,
        [F.lit(1.0).alias("jaccard")],
    )


def _minhash_clusters(
    rep_pairs: DataFrame,
    reps: DataFrame,
    members: DataFrame,
    d: int,
    shingled: DataFrame,
) -> DataFrame:
    """Assemble stage of ``minhash_lsh_pairs(output="clusters")``: each
    verified representative pair gains its clusters' member counts,
    and every exact-dup cluster of size >= 2 whose text shingles
    (``shingled``, matching the pair form's exclusion of empty-shingle
    twins) becomes a self-row at jaccard 1.0. ``reps``/``members`` are
    :func:`_collapse`'s. Every join side is a d-row aggregate of
    fixed-width columns, gated by :func:`_sized`; a broadcast skips two
    shuffles of the pair table."""
    sizes = members.groupBy("__th").agg(F.count("*").alias("m"))
    rep_sz = reps.select(F.col("id").alias("rid"), "__th").join(
        sizes.hint(_sized(d, 48)), "__th"
    )

    def side(s: str) -> DataFrame:
        cols = [F.col("rid").alias(f"id_{s}"), F.col("m").alias(f"members_{s}")]
        return rep_sz.select(*cols).hint(_sized(d, 16))

    cross = (
        rep_pairs.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "members_a",
            "members_b",
            (F.col("members_a") * F.col("members_b"))
            .cast("bigint")
            .alias("n_member_pairs"),
        )
    )
    m = F.col("m")
    intra = (
        rep_sz.join(
            shingled.hint(_sized(d, 8)), F.col("rid") == F.col("id"), "left_semi"
        )
        .filter(m >= 2)
        .select(
            F.col("rid").alias("id_a"),
            F.col("rid").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
            m.alias("members_a"),
            m.alias("members_b"),
            (m * (m - 1) / 2).cast("bigint").alias("n_member_pairs"),
        )
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH index (build once, probe per ingest batch)


def _minhash_base(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
):
    """(base, banded) for the persisted index: the shingle, signature
    and band stages of :func:`minhash_lsh_pairs`, without its
    checkpoints."""
    base = docs.select(
        F.col(id_col).alias("id"),
        hashed_shingle_set(text_col, k).alias("sh_hashes"),
    )
    return base, _band_table(_signatures(base, num_hashes), bands, num_hashes // bands)


# Persisted-index format version. The band-hash layout is part of the
# on-disk contract: build and probe MUST compute band_hash the same
# way or every probe silently returns zero band matches. History:
#   1 — band_hash = xxhash64 of a comma-joined STRING of the band's
#       signature values (retired; no live writer since the native
#       multi-arg rewrite)
#   2 — band_hash = multi-argument seed-chained xxhash64 over the
#       band's signature values as native longs (_band_table)
_MINHASH_INDEX_FORMAT = 2


def _index_meta_path(path: str) -> str:
    local = path[len("file://"):] if path.startswith("file://") else path
    return os.path.join(local, "_meta.json")


def _index_params(
    k: int, num_hashes: int, bands: int, n_buckets: int
) -> dict:
    return {
        "format_version": _MINHASH_INDEX_FORMAT,
        "k": k,
        "num_hashes": num_hashes,
        "bands": bands,
        "n_buckets": n_buckets,
    }


def _check_index_meta(path: str, op: str, expected: dict) -> None:
    """Fail fast when a persisted index does not match the reader's
    shingle/band/hash parameters or band-hash format. Without this, a
    parameter or format drift does not error — band hashes simply
    never collide and the probe returns ZERO matches, which an
    admission loop would read as "no duplicates, admit everything".
    An index with data but no ``_meta.json`` predates the metadata
    contract (i.e. an unknown band-hash format) and is rejected for
    the same reason."""
    meta_path = _index_meta_path(path)
    if not os.path.exists(meta_path):
        raise ValueError(
            f"{op}: no _meta.json under {path!r} — this index predates "
            "the metadata contract, so its band-hash format is unknown "
            "and probing it would silently return zero matches. Rebuild "
            "it with minhash_index_write(mode='overwrite')."
        )
    with open(meta_path) as fh:
        meta = json.load(fh)
    mismatched = {
        key: (meta.get(key), val)
        for key, val in expected.items()
        if meta.get(key) != val
    }
    if mismatched:
        detail = ", ".join(
            f"{key}: index has {have!r}, caller passed {want!r}"
            for key, (have, want) in sorted(mismatched.items())
        )
        raise ValueError(
            f"{op}: parameter/format mismatch against the persisted "
            f"index at {path!r} ({detail}). Probing or appending with "
            "mismatched parameters silently yields zero band matches "
            "or a mixed-format index; rebuild with "
            "minhash_index_write(mode='overwrite') or pass the index's "
            "own parameters."
        )


def minhash_index_write(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a probeable MinHash-LSH index of ``docs`` under ``path``:

    - ``bands/`` — (th, band, band_hash) partitioned by
      ``bucket = pmod(band_hash, n_buckets)``, so a probe batch that
      touches few hash buckets prunes to those partition directories
      (static partition pruning — the incremental-ingest win);
    - ``hashes/`` — (th, sh_hashes) for the exact-Jaccard verify;
    - ``members/`` — (id, th) mapping every ingested doc id to its
      content hash.

    The signature tables are keyed by ``th = md5(text)`` — ONE row per
    DISTINCT text, however many exact copies the corpus carries. This
    is the index-shaped form of the exact-dup collapse (see
    :func:`_dup_profile`): without
    it, m copies of a text put m identical band rows in every bucket
    and a probe against them verifies m × (batch copies) identical
    candidate pairs — measured 23x time for 10x data on the sf10
    replication fixture (64 s -> 1472 s). With it, candidates and
    verify work are distinct-text-bounded and member pairs are
    restored by output-bound joins through ``members/``.

    Why an index at all: re-running all-pairs dedup over a 100 TB
    corpus for every ingest batch is O(corpus²); probing a persisted
    index is O(batch × matched buckets) + a candidate-bounded verify.
    ``mode="append"`` adds a batch to the index after it has been
    probed/admitted (the incremental ingest loop); an appended text
    that already exists in the index just adds members rows plus one
    redundant signature row, which the probe deduplicates
    candidate-bounded.

    The index carries a ``_meta.json`` recording (format_version, k,
    num_hashes, bands, n_buckets); append and probe validate it and
    fail fast on mismatch (see _check_index_meta). Appending to an
    EMPTY path is index creation and writes the meta; appending to a
    populated pre-meta index is rejected.
    """
    params = _index_params(k, num_hashes, bands, n_buckets)
    local_root = _index_meta_path(path).rsplit(os.sep, 1)[0]
    if mode == "append" and os.path.isdir(os.path.join(local_root, "bands")):
        # appending to an existing index: validate BEFORE writing a
        # single row, so a mismatch can never mix two band-hash
        # formats (or two shingle grains) in one index
        _check_index_meta(path, "minhash_index_write(mode='append')", params)
    members = docs.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col).cast("string")).alias("th"),
    )
    reps = (
        docs.select(F.md5(F.col(text_col).cast("string")).alias("th"), text_col)
        .dropDuplicates(["th"])
    )
    base, banded = _minhash_base(reps, text_col, "th", k, num_hashes, bands)
    (
        banded.select(F.col("id").alias("th"), "band", "band_hash")
        .withColumn("bucket", F.pmod("band_hash", F.lit(n_buckets)))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/bands")
    )
    base.select(F.col("id").alias("th"), "sh_hashes").write.mode(mode).parquet(
        f"{path}/hashes"
    )
    members.write.mode(mode).parquet(f"{path}/members")
    # meta commits last: a crashed overwrite leaves no (or a stale)
    # meta for partially-written tables, and the reader's check
    # rejects rather than silently probing a half-built index. Local
    # json like sources/snapshots.py manifests; an object-store
    # deployment would route this through the Hadoop FileSystem API
    # (sources/lake.py note).
    with open(_index_meta_path(path), "w") as fh:
        json.dump(params, fh)


def minhash_index_probe(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    n_buckets: int = 64,
    jaccard_threshold: float = 0.7,
    include_self: bool = False,
) -> DataFrame:
    """Find near-duplicates of ``new_docs`` against a persisted index
    (same shingle/band parameters as the build — enforced against the
    index's ``_meta.json``, which fails fast instead of silently
    matching nothing). Returns (new_id, corpus_id, jaccard).

    ``include_self=True`` keeps pairs where the SAME id sits on both
    sides. For a plain forensic probe those pairs are noise, but for
    an at-least-once admission loop they are the replay signal: a
    re-delivered batch matches its own already-indexed rows id-for-id
    at jaccard 1.0, and dropping those pairs would re-admit the whole
    replay (streaming/ingest.py passes True for exactly this).

    Scale shape: the new batch collapses to ONE representative per
    distinct text (the index stores the corpus the same way, see
    minhash_index_write), the rep band table is tiny and BROADCAST,
    and the corpus band scan is filtered to the batch's buckets first
    (collected from the batch — at most ``n_buckets`` values, driver-
    bounded), so the scan prunes to matching partition directories and
    the candidate join is map-side with no corpus shuffle. The exact
    verify runs once per DISTINCT-TEXT pair; member (new_id,
    corpus_id) pairs are restored by broadcasting the verified th
    pairs over a map-side scan of ``members/`` — no corpus shuffle
    anywhere, and the expansion cost is the output cardinality."""
    _check_index_meta(
        path,
        "minhash_index_probe",
        _index_params(k, num_hashes, bands, n_buckets),
    )
    spark = new_docs.sparkSession
    new_members = new_docs.select(
        F.col(id_col).alias("new_id"),
        F.md5(F.col(text_col).cast("string")).alias("th_n"),
    )
    new_reps = (
        new_docs.select(
            F.md5(F.col(text_col).cast("string")).alias("th"), text_col
        )
        .dropDuplicates(["th"])
    )
    new_base, new_banded = _minhash_base(
        new_reps, text_col, "th", k, num_hashes, bands
    )
    # the batch-side shingle+signature pipeline (the probe's dominant
    # Python-UDF cost) is referenced three times below — the bucket
    # collect, the candidate broadcast, and the verify join — so cache
    # it once; the batch is small by definition of incremental ingest
    new_base = new_base.cache()
    new_banded = new_banded.withColumn(
        "bucket", F.pmod("band_hash", F.lit(n_buckets))
    ).cache()
    probe_buckets = [
        r.bucket for r in new_banded.select("bucket").distinct().collect()
    ]

    corpus_bands = spark.read.parquet(f"{path}/bands").filter(
        F.col("bucket").isin(probe_buckets)
    )
    cands = (
        corpus_bands.join(
            F.broadcast(
                new_banded.select(
                    F.col("id").alias("th_n"), "band", "band_hash"
                )
            ),
            ["band", "band_hash"],
        )
        .select(F.col("th").alias("th_c"), "th_n")
        .dropDuplicates(["th_c", "th_n"])
        # consumed twice (hash semi-prune + verify join): cache the
        # candidate-bounded pair set rather than re-scan the bands
        .cache()
    )
    # same per-doc set-size precompute as minhash_lsh_pairs: one
    # array_intersect per DISTINCT-TEXT candidate pair, union size by
    # set arithmetic. An appended re-ingest can leave a duplicate th
    # row in hashes/; dedupe AFTER the candidate semi-prune so the
    # shuffle is candidate-bounded, never corpus-bounded.
    corpus_hashes = (
        spark.read.parquet(f"{path}/hashes")
        .join(F.broadcast(cands.select("th_c").distinct()),
              F.col("th") == F.col("th_c"), "left_semi")
        .dropDuplicates(["th"])
        .select(
            F.col("th").alias("th_c"),
            F.col("sh_hashes").alias("h_c"),
            F.size("sh_hashes").alias("n_c"),
        )
    )
    new_hashes = new_base.select(
        F.col("id").alias("th_n"),
        F.col("sh_hashes").alias("h_n"),
        F.size("sh_hashes").alias("n_n"),
    )
    inter = F.size(F.array_intersect("h_c", "h_n"))
    jaccard = inter.cast("double") / (F.col("n_c") + F.col("n_n") - inter)
    verified = (
        cands.join(corpus_hashes, "th_c")
        .join(F.broadcast(new_hashes), "th_n")
        .withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("th_c", "th_n", "jaccard")
        # consumed twice (members semi-prune + expansion join)
        .cache()
    )
    # expand distinct-text pairs to member pairs: verified pairs are
    # batch-bounded — broadcast them over a map-side members/ scan
    # (dedup guards a double-appended id), then attach batch members
    members = (
        spark.read.parquet(f"{path}/members")
        .join(F.broadcast(verified.select("th_c").distinct()),
              F.col("th") == F.col("th_c"), "left_semi")
        .dropDuplicates(["id", "th"])
        .select(F.col("id").alias("corpus_id"), F.col("th").alias("th_c"))
    )
    expanded = members.join(F.broadcast(verified), "th_c").join(
        F.broadcast(new_members), "th_n"
    )
    if not include_self:
        # forensic probes drop the same-id-both-sides pair as noise;
        # admission loops keep it — it IS the replay hit (see above)
        expanded = expanded.filter(F.col("corpus_id") != F.col("new_id"))
    result = (
        expanded.select("new_id", "corpus_id", "jaccard")
        # materialize, then release this probe's caches: in the
        # streaming _admit loop a probe runs every micro-batch, and
        # without the unpersist the cached blocks accumulate for the
        # stream's lifetime (reclaimed only under LRU pressure). The
        # checkpoint blocks themselves are freed by the ContextCleaner
        # when the returned DataFrame is garbage-collected.
        .localCheckpoint(eager=True)
    )
    for c in (new_base, new_banded, cands, verified):
        c.unpersist()
    return result


# ---------------------------------------------------------------------------
# SimHash


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array: per bit position, sign of the
    sum of ±1 votes from each token's xxhash64. Expressed as 64 JVM
    aggregate folds over the token-hash array (no Python).
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))

    def _bit_voter(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for bit in range(64):
        votes = F.aggregate(hashes, F.lit(0), _bit_voter(bit))
        # bit weight via JVM shiftleft: a python-side 1 << 63 literal
        # overflows Long.MAX; shiftleft wraps to the sign bit correctly
        bit_cols.append(
            F.when(votes > 0, F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(
                F.lit(0).cast("long")
            )
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return total


def simhash64_np(tokens: Column) -> Column:
    """Arrow-batched numpy SimHash: tokens are hashed JVM-side
    (one transform lambda), the 64 bit-vote folds run as one C-level
    (n_tokens × 64) matrix op per document. Bit-identical to
    :func:`simhash64` (same xxhash64 inputs, same vote rule) at ~6x
    its throughput — the 64 interpreted aggregate folds were the
    measured bottleneck of the simhash pipeline, plus ~18 s of Janino
    codegen per plan-cache miss."""
    from pyspark.sql.types import LongType

    bitw = np.arange(64, dtype=np.uint64)
    weights = np.uint64(1) << bitw

    @F.pandas_udf(LongType())
    def _votes(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
            ones = ((arr[:, None] >> bitw[None, :]) & np.uint64(1)).sum(axis=0)
            mask = (2 * ones.astype(np.int64) - len(arr)) > 0
            word = int(np.bitwise_or.reduce(weights[mask])) if mask.any() else 0
            out.append(word - (1 << 64) if word >= (1 << 63) else word)
        return pd.Series(out, dtype="int64")

    return _votes(F.transform(tokens, lambda t: F.xxhash64(t)))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash with chunk-collision blocking:
    split the 64-bit simhash into 4 × 16-bit chunks; by pigeonhole, any
    pair within hamming distance 3 collides on at least one chunk.
    Self-join per chunk, verify exact hamming distance.
    """
    sims = _spread(docs).select(
        F.col(id_col).alias("id"),
        simhash64_np(F.split(F.trim(F.col(text_col)), r"\s+")).alias("simhash"),
    )
    chunks = sims.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("c"),
    ).select("id", "simhash", "c.chunk", "c.chunk_val")

    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            hamming64(F.col("l.simhash"), F.col("r.simhash")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for modest candidate sets or as LSH verifier)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Word n-gram Jaccard similarity via an inverted index: explode
    n-grams, self-join on the gram (candidates share >=1 gram), then
    Jaccard = shared / (|A| + |B| - shared).

    No all-pairs: the join is gram-partitioned, which is how inverted-
    index similarity joins scale. ``max_doc_frequency`` is the hot-
    posting guard for 100 TB: grams appearing in more than that many
    documents (stopword grams — a skew bomb, since a posting list of
    length p yields p^2 candidate pairs in one join partition) are
    dropped from *candidate generation only*; surviving candidates are
    verified with exact Jaccard over the full gram sets, so reported
    values are unaffected and recall only drops for pairs whose every
    shared gram is hot — pairs whose similarity is carried by
    stopword boilerplate.
    """
    # split↔gram-lambda barrier: an inline split re-evaluates per gram
    # under CollapseProject (plan-lint 'slice(split(' finding)
    words_df = _spread(docs).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__ws"),
    ).localCheckpoint(eager=False)
    ws = F.col("__ws")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
        )
    )
    base = words_df.select(
        "id", grams.alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    inv = base.select("id", "n_grams", F.explode("grams").alias("gram"))
    # the join gates (:func:`_sized`) read one aggregate over the words
    # checkpoint, which also completes it: documents, words (an upper
    # bound on grams, as each doc has at most one gram per word) and
    # word characters, from which a gram's average length follows
    n_docs, n_words, n_chars = words_df.agg(
        F.count(F.lit(1)), F.sum(F.size(ws)), F.sum(F.length(F.array_join(ws, "")))
    ).first()
    n_words = n_words or 0
    # a gram string: n words of average length, n - 1 spaces
    gram_bytes = 8 + n * (n_chars or 0) / max(n_words, 1) + n - 1
    # id, n_grams and a gram
    inv_hint = _sized(n_words, 8 + 4 + gram_bytes)

    if max_doc_frequency is None:
        # single-shuffle count path: shared-gram counts double as the
        # exact intersection size because every gram survives
        inv = inv.hint(inv_hint)
        l, r = inv.alias("l"), inv.alias("r")
        shared = (
            l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")))
            .groupBy(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("l.n_grams").alias("na"),
                F.col("r.n_grams").alias("nb"),
            )
            .agg(F.count("*").alias("shared"))
        )
        jaccard = F.col("shared").cast("double") / (
            F.col("na") + F.col("nb") - F.col("shared")
        )
        return (
            shared.withColumn("jaccard", F.round(jaccard, 4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # hot-posting cap: the hot-gram list is tiny (few grams exceed the
    # cap by definition), so it broadcasts; the anti-join bounds every
    # posting list — and therefore every join partition — at the cap
    hot = (
        inv.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_frequency)
        .select("gram")
    )
    capped = inv.join(F.broadcast(hot), "gram", "left_anti").hint(inv_hint)
    lc, rc = capped.alias("l"), capped.alias("r")
    cands = (
        lc.join(rc, (F.col("l.gram") == F.col("r.gram")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact verify on the (candidate-bounded) pair set: join the full
    # gram arrays back so values match the uncapped computation
    # an id and a doc's grams
    arr_hint = _sized(n_docs, 8 + n_words / max(n_docs, 1) * gram_bytes)
    ga = base.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a")).hint(arr_hint)
    gb = base.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b")).hint(arr_hint)
    verified = cands.join(ga, "id_a").join(gb, "id_b")
    shared_sz = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    jaccard = shared_sz / (F.size("g_a") + F.size("g_b") - shared_sz)
    return (
        verified.withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Dedup resolution: candidate pairs -> clusters -> canonical survivor


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id, component) for every node in ``pairs``, where ``component``
    is the minimum id reachable through the pair graph — the cluster
    labeling step that turns near-dup PAIRS into dedup GROUPS.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; rounds run until a
    fixed point. Convergence is bounded by the cluster diameter, and
    LSH-derived near-dup clusters are dense (nearly cliques), so 2-3
    rounds are typical; ``max_iterations`` guards pathological chains.

    Scale notes: each round is one join + one hash aggregate, both on
    (id, label) longs — shuffle volume O(edges). The per-round
    ``localCheckpoint`` truncates the otherwise exponentially-growing
    lineage (the standard Spark pattern for iterative algorithms), and
    the convergence check is a 1-row count action. For graphs with
    long chains at extreme scale, the O(log n)-round alternating
    star algorithms are the drop-in upgrade; near-dup graphs don't
    need them.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        nbr_labels = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), "component")
        )
        new_labels = (
            labels.unionByName(nbr_labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "id")
            .filter(F.col("o.component") != F.col("n.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Attach (component, is_canonical) to every document: documents in
    the same connected component of ``pairs`` share a component label
    (the minimum member id); the minimum-id member is the canonical
    survivor, everything else in the component is a duplicate.
    Singletons (no pair) are their own canonical component."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.join(comp, docs[id_col] == comp.id, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("is_canonical", F.col("component") == F.col(id_col))
        .drop("id")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (delegates candidate generation to LSH)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    num_planes: int = 16,
    output: str = "pairs",
) -> DataFrame:
    """Near-duplicate vectors: random-hyperplane LSH buckets as
    candidates, exact cosine as verifier. See similarity.lsh_bucket
    for the signature construction.

    Exact-duplicate collapse (see :func:`_dup_profile`; without it m
    copies of one vector measured 39x time for 10x data on the sf10
    replication fixture): the bucket join runs on ONE representative
    per distinct vector (grouped by the vector itself — exact float
    equality, no hash collision risk) and pairs expand back through
    vector-keyed joins whose cost is the output cardinality. That
    expansion is this operator's own, not :func:`_expand_members`:
    its rows carry whole float vectors, which the metadata-sized
    broadcast gate does not fit. Intra-cluster pairs compute
    the SAME cosine_expr(v, v) as the direct path would, so the
    zero-vector NaN edge case filters identically.

    ``output="clusters"`` returns the CLUSTER-level answer (the
    embedding twin of minhash_lsh_pairs' R140 form): one row per
    verified distinct-VECTOR pair — (id_a, id_b, cosine, members_a,
    members_b, n_member_pairs) with cluster-representative ids — plus
    self-rows for exact-dup vector clusters of size >= 2 (id_a ==
    id_b, cosine = cos(v, v), n_member_pairs = C(m, 2); zero-vector
    clusters filter out on the NaN cosine exactly like the pair
    path). Output cardinality is independent of exact-duplicate mass,
    while the pair form's member expansion is quadratic in it by the
    answer's own semantics."""
    from .similarity import cosine_expr, lsh_bucket

    if output not in ("pairs", "clusters"):
        raise ValueError(
            f"output must be 'pairs' or 'clusters', got {output!r}"
        )
    src = _spread(embeddings).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    if output == "clusters":
        # cluster output NEEDS the cluster structure; no profile to run
        collapse = True
    else:
        collapse = _dup_profile(src, "vec")[2]
    if collapse:
        reps = src.groupBy("vec").agg(F.min("id").alias("id"))
        base = reps.select("id", "vec").localCheckpoint(eager=False)
    else:
        base = src
    tagged = base.withColumn(
        "bucket", lsh_bucket(F.col("vec"), num_planes=num_planes)
    )
    l, r = tagged.alias("l"), tagged.alias("r")
    # merge hint: `base` is a localCheckpoint over a groupBy(vec), so
    # its LogicalRDD inherits the aggregate's TINY size estimate and
    # the static planner would broadcast the whole distinct-vector
    # table (float arrays included) — accidentally fine when vectors
    # are heavily duplicated, a driver-killing broadcast on a mostly-
    # unique corpus (the operators/winnow.py sf10u trap; AQE cannot
    # demote a statically-planned broadcast). Sort-merge is size-safe
    # at any distinct-vector cardinality.
    rep_pairs = (
        l.join(
            r.hint("merge"),
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cosine_expr(F.col("l.vec"), F.col("r.vec")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )
    if output == "clusters":
        sizes = src.groupBy("vec").agg(F.count("*").alias("m"))
        rep_sz = base.join(sizes, "vec").select(
            F.col("id").alias("rid"), F.col("m")
        )
        # merge hints: rep_sz scales with distinct content and its
        # lineage passes through an aggregate whose frozen-tiny size
        # estimate would otherwise force a static broadcast (the
        # operators/winnow.py sf10u maxResultSize trap)
        cross_cl = (
            rep_pairs.join(
                rep_sz.select(
                    F.col("rid").alias("id_a"), F.col("m").alias("members_a")
                ).hint("merge"),
                "id_a",
            )
            .join(
                rep_sz.select(
                    F.col("rid").alias("id_b"), F.col("m").alias("members_b")
                ).hint("merge"),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "cosine",
                "members_a",
                "members_b",
                (F.col("members_a") * F.col("members_b"))
                .cast("bigint")
                .alias("n_member_pairs"),
            )
        )
        self_cl = (
            base.join(sizes, "vec")
            .filter(F.col("m") >= 2)
            .select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.round(cosine_expr(F.col("vec"), F.col("vec")), 4).alias(
                    "cosine"
                ),
                F.col("m").alias("members_a"),
                F.col("m").alias("members_b"),
                (F.col("m") * (F.col("m") - 1) / 2)
                .cast("bigint")
                .alias("n_member_pairs"),
            )
            .filter(F.col("cosine") >= cosine_threshold)
        )
        return cross_cl.unionByName(self_cl)
    if not collapse:
        return rep_pairs
    # expand representative pairs to member pairs (disjoint clusters:
    # least/greatest restores id_a < id_b; cross and intra disjoint)
    rep_ids = base.select(F.col("id").alias("rid"), "vec")
    cross = (
        rep_pairs.join(
            rep_ids.select(F.col("rid").alias("id_a"), F.col("vec").alias("__v_a")),
            "id_a",
        )
        .join(
            rep_ids.select(F.col("rid").alias("id_b"), F.col("vec").alias("__v_b")),
            "id_b",
        )
        .join(
            src.select(F.col("vec").alias("__v_a"), F.col("id").alias("a_id")),
            "__v_a",
        )
        .join(
            src.select(F.col("vec").alias("__v_b"), F.col("id").alias("b_id")),
            "__v_b",
        )
        .select(
            F.least("a_id", "b_id").alias("id_a"),
            F.greatest("a_id", "b_id").alias("id_b"),
            "cosine",
        )
    )
    mm = src.alias("x").join(
        src.alias("y"),
        (F.col("x.vec") == F.col("y.vec")) & (F.col("x.id") < F.col("y.id")),
    )
    intra = (
        mm.select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.round(cosine_expr(F.col("x.vec"), F.col("y.vec")), 4).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= cosine_threshold)
    )
    return cross.unionByName(intra)


def embedding_index_probe(
    new_vectors: DataFrame,
    index,
    cosine_threshold: float = 0.95,
) -> DataFrame:
    """Incremental embedding near-dup: probe a persisted hyperplane-LSH
    index (similarity.lsh_build — the SAME structure the ANN search
    uses) with an arriving batch and return (new_id, corpus_id,
    cosine) for every near-duplicate against the admitted corpus.

    The minhash twin of this is minhash_index_probe; together they
    close the incremental-ingest story for both text and embedding
    modalities. Scale shape mirrors it: the batch's buckets are
    collected (driver-bounded — at most one per batch row), the
    bucket-partitioned corpus lake prunes to those directories, the
    batch side broadcasts, and exact cosine runs only on bucket-
    collision candidates."""
    from .similarity import cosine_expr, lsh_bucket

    probe = new_vectors.select(
        F.col(index.id_col).alias("new_id"),
        F.col(index.vec_col).alias("new_vec"),
    ).withColumn("bucket", lsh_bucket(F.col("new_vec"), index.num_planes))
    probe = probe.cache()  # bucket collect + candidate join reuse it
    buckets = [r.bucket for r in probe.select("bucket").distinct().collect()]

    corpus = index.table.filter(F.col("bucket").isin(buckets)).select(
        F.col(index.id_col).alias("corpus_id"),
        F.col(index.vec_col).alias("corpus_vec"),
        "bucket",
    )
    cos = F.round(cosine_expr(F.col("corpus_vec"), F.col("new_vec")), 4)
    return (
        corpus.join(F.broadcast(probe), "bucket")
        .filter(F.col("corpus_id") != F.col("new_id"))
        .select("new_id", "corpus_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= cosine_threshold)
        .dropDuplicates(["new_id", "corpus_id"])
    )


def segment_dedup_clean(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """C4-style intra-corpus segment dedup as a TRANSFORM: split every
    document into consecutive ``seg_words``-word segments, keep exactly
    ONE canonical copy (lowest (doc id, position)) of any segment that
    occurs more than once anywhere in the corpus, and reconstruct each
    document's cleaned text from its surviving segments in order —
    the "removed all but one of any three-sentence span occurring more
    than once" cleaning step of C4 (Raffel et al., JMLR 2020 §2.2),
    re-grained to word windows because the synthetic corpus has no
    sentence boundaries.

    Returns (id, clean_text, n_segments, n_dropped). Documents whose
    every segment was dropped come back with clean_text = ''.

    Scale shape (decide with small rows, move big rows once): every
    keep/drop decision depends only on (doc, position, md5(segment)) —
    ~44 bytes per segment — never on the segment text, so the decision
    pipeline runs entirely on that metadata: segments are counted and
    canonicalized by ONE map-side-combinable aggregate keyed on
    md5(segment) — never a rank window partitioned by segment text,
    which would serialize each hot boilerplate segment's millions of
    occurrences through a single reducer at 100 TB — and the keep
    decision joins the (hash, first-occurrence, count) aggregate back
    onto the exploded metadata (AQE picks broadcast vs shuffle by
    measured size). Document TEXT crosses exactly one exchange: the
    per-doc dropped-position lists (ints) are aggregated on metadata
    and joined to the materialized word arrays by doc id, and each
    cleaned text is REBUILT IN PLACE from its own word array by
    slicing the surviving positions — the previous form shuffled the
    full segment text twice (once by segment hash into the decision
    join, once by doc id into a collect_list/array_sort rebuild) to
    move information the 4-byte positions already carry.
    """
    # materialization barrier between the split and the segment
    # lambda: without it CollapseProject inlines split(text) INTO the
    # per-element slice — O(words²/seg_words) re-split per document
    # (the operators/winnow.py trap; verified in the optimized plan).
    # Behind the barrier __ws is a concrete column, so each slice is
    # O(seg_words) over the materialized array. The barrier also feeds
    # the rebuild join below, so the split runs once per doc total.
    # NULL text never segments (posexplode of a null array emits no
    # rows), so the old seg-table-grained pipeline dropped those docs;
    # the doc-grained rebuild must filter them explicitly.
    with_ws = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.split(F.col(text_col), " ").alias("__ws"),
        )
        .filter(F.col("__ws").isNotNull())
        .localCheckpoint(eager=False)
    )
    ws = F.col("__ws")
    n_seg = F.ceil(F.size(ws) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(1), n_seg),
        lambda i: F.array_join(
            F.slice(ws, (i - F.lit(1)) * seg_words + F.lit(1), seg_words), " "
        ),
    )
    # metadata pass: hash each segment where it is born, project the
    # text away before anything crosses a shuffle. seg_meta feeds two
    # consumers (the first-occurrence aggregate and the decision join);
    # without a materialization barrier each consumer re-runs the
    # segment construction — the round-10 after-plan still carried TWO
    # Generate posexplode nodes. The checkpoint stores only
    # (__id, __idx, __h) ≈ 44 B/segment, never text, so the explode +
    # md5 runs once per invocation.
    seg_meta = (
        with_ws.select(
            F.col("__id"), F.posexplode(segs).alias("__pos0", "__seg")
        )
        .select(
            "__id",
            (F.col("__pos0") + 1).alias("__idx"),
            F.md5(F.col("__seg")).alias("__h"),
        )
        .localCheckpoint(eager=False)
    )
    # the total segment count bounds both gated sides' rows
    # (:func:`_sized`) and completes the checkpoint
    seg_count = seg_meta.count()
    firsts = seg_meta.groupBy("__h").agg(
        F.count("*").alias("__cnt"),
        F.min(F.struct("__id", "__idx")).alias("__first"),
    )
    # dropped = duplicated segment occurrences that are not the
    # canonical first: exactly the complement of the old kept filter
    # an md5, a count and an (id, position) struct
    drops = seg_meta.join(firsts.hint(_sized(seg_count, 40 + 8 + 12)), "__h").filter(
        (F.col("__cnt") > 1)
        & ~(
            (F.col("__id") == F.col("__first.__id"))
            & (F.col("__idx") == F.col("__first.__idx"))
        )
    )
    drop_lists = drops.groupBy("__id").agg(
        F.collect_list("__idx").alias("__dropped")
    )
    dropped = F.coalesce(F.col("__dropped"), F.array().cast("array<int>"))
    # surviving positions in document order: array_except streams its
    # first argument in order against a hash set of the second, so the
    # rebuild concatenates segments exactly as the array_sort of the
    # old collect_list form did
    kept_idx = F.array_except(F.sequence(F.lit(1), n_seg), dropped)
    # an id per doc and an int per dropped segment: at most 8 + 4
    # bytes per segment
    return with_ws.join(drop_lists.hint(_sized(seg_count, 8 + 4)), "__id", "left").select(
        F.col("__id").alias(id_col),
        F.array_join(
            F.transform(
                kept_idx,
                lambda i: F.array_join(
                    F.slice(ws, (i - F.lit(1)) * seg_words + F.lit(1), seg_words),
                    " ",
                ),
            ),
            " ",
        ).alias("clean_text"),
        n_seg.cast("bigint").alias("n_segments"),
        F.size(dropped).cast("bigint").alias("n_dropped"),
    )
