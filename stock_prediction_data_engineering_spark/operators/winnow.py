"""Exact-substring overlap detection via winnowing fingerprints.

The dedup family covers set-similarity (MinHash/SimHash/PPJoin over
shingle SETS); this operator covers the orthogonal axis the LLM-data
literature calls exact-substring dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL 2022, which uses a
suffix array): find document pairs that share a long VERBATIM
character run — copy-paste, quotation, mirrored boilerplate —
regardless of how dissimilar the rest of the texts are (a 40-char
quote inside two otherwise-unrelated documents has near-zero Jaccard
but is exactly what contamination screening must catch).

A distributed suffix array is the wrong tool on Spark (global sort
over every suffix). The public alternative is winnowing (Schleimer,
Wilkerson, Aiken, "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2003 — the MOSS algorithm): hash every
character k-gram, then keep the MINIMUM hash of every w consecutive
k-grams. The guarantee is deterministic, not probabilistic: any
shared substring of length >= k + w - 1 contains at least one full
window on both sides, and the minimum of identical windows is the
same hash — so every such pair shares a fingerprint (no false
negatives above the guarantee length). Density is ~2/(w+1) of all
k-grams, so the index is a small fraction of the corpus.

Scale shape (everything keyed or row-local):
  1. k-gram hashing runs over a FLAT exploded (doc, pos) table so the
     md5 chain stays inside whole-stage codegen. The earlier form
     hashed inside array lambdas (transform/slice/array_min), and
     HigherOrderFunction is CodegenFallback — every element went
     through the interpreted evaluator, measured ~20 µs/k-gram at
     sf10u (66 s for 104 M k-grams on 32 cores) vs seconds flat.
  2. the sliding-window minimum is a rows-frame window function
     partitioned by doc — and the k-gram table is hash-partitioned by
     doc from birth, so the window plans NO exchange, only a
     partition-local sort (HashPartitioning(doc) satisfies the
     window's ClusteredDistribution).
  3. duplicate texts are collapsed FIRST (the semantics are defined
     over distinct texts, with cluster sizes carried in the output),
     so an m-copy cluster costs one fingerprint pass, not m, and the
     pair stage never sees the C(m,2) intra-cluster blowup;
  4. fingerprint document frequencies are a keyed count, and
     fingerprints shared by more than ``df_cap`` distinct texts are
     excluded from pairing — corpus-wide boilerplate (license
     headers, templates) is a *frequency* signal, not a *pair*
     signal (q_boilerplate_ngrams measures it); the cap bounds every
     posting list, so pair generation emits at most C(df_cap, 2)
     pairs per fingerprint;
  5. pairs are generated IN-ROW from the df-capped posting lists
     (groupBy(fp).collect_list, bounded by the cap *before* the list
     is built), replacing the fps self-join — one shuffle of the
     fingerprint table instead of two sorted join sides.

No reference-repo counterpart (the reference is a 131-line ingest
DAG, reference dags/stock_data_airflow_local_aws_s3.py); this is
north-star LLM-curation surface (BASELINE.json).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql.window import Window


def _kgram_hash(txt: Column, pos: Column, k: int) -> Column:
    """md5-derived 60-bit int (first 15 hex digits) of the k chars of
    ``txt`` starting at 1-based ``pos`` — the engine-portable hash
    idiom shared with q_feature_hashing, so an ANSI oracle reproduces
    every fingerprint bit-for-bit."""
    return F.conv(
        F.substring(F.md5(F.substr(txt, pos, F.lit(k))), 1, 15), 16, 10
    ).cast("bigint")


def _kgram_table(reps: DataFrame, key: str, k: int) -> DataFrame:
    """Flat k-gram hash table (key, npos, pos, h) over a ``__txt``
    column — one row per 1-based k-gram position. ``reps`` must carry
    one row per distinct text; callers repartition by ``key`` first so
    the CPU-heavy md5 stage is row-parallel (the post-groupBy text
    table is byte-tiny, so AQE's byte-based coalescing would otherwise
    run the entire hash pass on one core) and so the downstream
    window-min plans no exchange.

    The sequence is guarded total: Catalyst may infer a
    size(...) > 0 predicate from the explode and evaluate it on rows
    the caller's length filter has not yet removed (observed with the
    earlier array form), and sequence(1, x) counts DOWN for x < 1."""
    npos = (F.length("__txt") - (k - 1)).alias("npos")
    seq = F.when(
        F.col("npos") >= 1, F.sequence(F.lit(1), F.col("npos"))
    ).otherwise(F.array().cast("array<int>"))
    return (
        reps.select(key, npos, "__txt")
        .select(key, "npos", F.explode(seq).alias("pos"), "__txt")
        .select(
            key,
            "npos",
            "pos",
            _kgram_hash(F.col("__txt"), F.col("pos"), k).alias("h"),
        )
    )


def _fps_from_kgrams(kg: DataFrame, key: str, w: int) -> DataFrame:
    """Distinct winnowing fingerprints (key, fp) from a flat k-gram
    table: minimum hash of each w-row window, positions past the last
    full window dropped. Both the window and the per-doc dedup are
    partition-local when ``kg`` is hash-partitioned by ``key`` —
    HashPartitioning(key) satisfies both required distributions, so
    neither plans an exchange."""
    win = Window.partitionBy(key).orderBy("pos").rowsBetween(0, w - 1)
    return (
        kg.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") + (w - 1) <= F.col("npos"))
        .select(key, "fp")
        .dropDuplicates([key, "fp"])
    )


def _winnow_fps_np(key: str, k: int, w: int):
    """mapInPandas kernel fusing the whole fingerprint pipeline —
    k-gram md5 hashing, sliding-window minimum, per-doc distinct —
    into ONE Arrow pass per document batch.

    Why: the flat JVM pipeline materializes a corpus-scaled k-gram
    row table (104 M rows at sf10u) only to reduce it back to ~2/(w+1)
    density; the rows-frame sliding min re-aggregates w rows per
    position and the per-doc dedup re-hashes the full table — measured
    12 s (md5) + 50 s (window min) + 33 s (dedup) at sf10u. Here the
    text crosses Arrow once (~240 MB corpus-wide) and each document
    costs ~0.7 ms: a hashlib-md5 loop over its positions, one
    vectorized stride-window min, one np.unique.

    Bit-for-bit equality with the JVM form (pinned in
    tests/test_winnow.py): hashlib.md5 over the UTF-8 bytes of the
    CODE-POINT slice txt[p:p+k] is exactly md5(substr(txt, pos, k))
    (UTF8String.substring is code-point based), the first 15 hex
    digits parse to the same 60-bit int as conv(.., 16, 10), and
    sliding_window_view(h, w).min over positions 1..npos-w+1 is the
    rows-frame minimum with the trailing partial windows dropped."""

    def fn(batches):
        for pdf in batches:
            counts = np.zeros(len(pdf), dtype=np.int64)
            fps_list = []
            for i, txt in enumerate(pdf["__txt"]):
                if txt is None:
                    continue
                npos = len(txt) - (k - 1)
                if npos < w:
                    continue
                h = np.empty(npos, dtype=np.int64)
                for p in range(npos):
                    h[p] = int(
                        hashlib.md5(txt[p : p + k].encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                fp = np.unique(
                    np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
                )
                fps_list.append(fp)
                counts[i] = fp.size
            keys = pdf[key].to_numpy().repeat(counts)
            fp_all = (
                np.concatenate(fps_list)
                if fps_list
                else np.array([], dtype=np.int64)
            )
            yield pd.DataFrame({key: keys, "fp": fp_all})

    return fn


def winnow_fingerprints(reps: DataFrame, key: str, k: int, w: int) -> DataFrame:
    """Distinct winnowing fingerprints (key, fp) of a one-row-per-
    distinct-text table carrying ``__txt`` — the fused Arrow-kernel
    form of ``_fps_from_kgrams(_kgram_table(...))`` (kept as the JVM
    semantic reference and for the span path's k-gram table). Callers
    repartition by ``key`` first for row-parallelism, exactly as for
    the JVM form."""
    schema = StructType([reps.schema[key], StructField("fp", LongType())])
    return reps.select(key, "__txt").mapInPandas(_winnow_fps_np(key, k, w), schema)


def _pair_structs(reps_col: Column) -> Column:
    """All i < j element pairs of a sorted posting list as structs —
    in-row generation bounded by the df cap, so the array lambdas run
    over <= df_cap elements (never corpus-scaled; cheap even on the
    interpreted lambda path)."""
    return F.flatten(
        F.transform(
            reps_col,
            lambda x, i: F.transform(
                F.slice(reps_col, i + F.lit(2), F.size(reps_col)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def winnow_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    w: int = 8,
    df_cap: int = 50,
    with_spans: bool = False,
) -> DataFrame:
    """Pairs of DISTINCT texts sharing >= 1 winnowing fingerprint.

    Detects every pair sharing a verbatim run of >= k + w - 1 chars
    (shorter shared runs may or may not surface — standard winnowing
    semantics). Returns (doc_a, doc_b, shared_fp, dup_a, dup_b) where
    doc_a/doc_b are each text's minimum member id, doc_a < doc_b,
    shared_fp counts distinct shared fingerprints, and dup_a/dup_b
    are the exact-duplicate cluster sizes — total member-pair counts
    are derivable as dup_a * dup_b without quadratic output.

    ``with_spans=True`` adds ``max_span_len``: the length in chars of
    the longest shared verbatim run per pair (the Lee et al. ACL'22
    match-length semantics), computed EXACTLY for the surfaced pairs
    by joining their k-gram hash tables and taking the longest
    constant-offset run of consecutive matching positions (a shared
    run of length L matches L - k + 1 consecutive k-grams on one
    diagonal, so max_span_len = max run + k - 1). The refinement is
    pair-bounded: the k-gram join runs only over documents that
    already winnowed into a pair, keyed on (doc, hash) — never a
    corpus-wide product.

    JOIN-STRATEGY NOTE (the sf10u 1.6 GB broadcast trap): every join
    below whose build side scales with DISTINCT text carries an
    explicit ``merge`` hint. The checkpointed text table is a
    LogicalRDD that inherits the pre-checkpoint AGGREGATE's size
    estimate, which Catalyst guesses tiny; on a heavily-duplicated
    corpus that guess is accidentally right (thousands of distinct
    texts) and the planner's broadcasts are fast, but on a mostly-
    unique corpus (.data/sf10u: 377 k distinct) the same static plan
    tried to broadcast the ~200 M-row k-gram table and corpus-sized
    fingerprint sets — >1.6 GB collected to the driver, killed by
    spark.driver.maxResultSize. AQE cannot demote a statically-planned
    broadcast (it only promotes), so the strategy must be pinned where
    the size is structurally unbounded. Sort-merge spills gracefully
    at any scale; on the duplicated profile the extra sorts are over
    thousands of rows — noise.
    """
    min_len = k + w - 1
    par = docs.sparkSession.sparkContext.defaultParallelism
    # one representative per distinct text; carries the cluster size.
    # The groupBy shuffles text payloads once — the same cost class as
    # the ssjoin/dedup members table, and it makes every later stage
    # per-DISTINCT-text (the replication fixture's 10x duplication
    # multiplies this stage's input, not the fingerprint or pair
    # work). localCheckpoint: m feeds the k-gram pass AND the two
    # cluster-size joins at the end — without the barrier the text
    # groupBy re-executes per consumer.
    m = (
        docs.filter(F.length(text_col) >= min_len)
        .repartition(par, id_col)
        .groupBy(F.col(text_col).alias("__txt"))
        .agg(
            F.min(id_col).alias("rep"),
            F.count("*").cast("bigint").alias("dup"),
        )
        .localCheckpoint(eager=False)
    )
    # fingerprints via the fused Arrow kernel (hash + window-min +
    # per-doc distinct in one pass — see _winnow_fps_np; the flat
    # JVM pipeline paid ~95 s at sf10u for the same 22.7 M rows).
    # No checkpoint: the posting block below consumes fps exactly
    # once, so the kernel streams straight into its one exchange.
    fps = winnow_fingerprints(m.repartition(par, "rep"), "rep", k, w)
    # df cap + posting lists: count + cap filter + collect_list in ONE
    # exchange — a partition-unbounded window count over fp (same hash
    # layout the groupBy needs), then a partition-local list agg. The
    # earlier [count agg + sort-merge semi join + re-agg] form
    # exchanged and sorted the fingerprint table three times for the
    # same result (measured 46.7 s -> ~22 s at sf10u). SKEW BOUND:
    # WindowExec buffers each fp group in an
    # ExternalAppendOnlyUnsafeRowArray (spillable, never OOM), so a
    # corpus-hot boilerplate fp routes ALL its (rep, fp) rows through
    # one window task — O(hot-group) disk/straggler on that task,
    # though the cap still drops the group before any posting list is
    # built.
    #
    # Nothing here is broadcast (see JOIN-STRATEGY NOTE).
    capped = (
        fps.withColumn("c", F.count("*").over(Window.partitionBy("fp")))
        .filter((F.col("c") >= 2) & (F.col("c") <= df_cap))
        .drop("c")
    )
    posting = capped.groupBy("fp").agg(
        F.sort_array(F.collect_list("rep")).alias("reps")
    )
    pairs = (
        posting.select(F.explode(_pair_structs(F.col("reps"))).alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_fp"))
    )
    # read sizes off the checkpointed text table so the groupBy does
    # not re-execute for a third consumer
    sizes = m.select("rep", "dup")
    out = (
        pairs.join(
            sizes.select(
                F.col("rep").alias("doc_a"), F.col("dup").alias("dup_a")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("rep").alias("doc_b"), F.col("dup").alias("dup_b")
            ).hint("merge"),
            "doc_b",
        )
        .select("doc_a", "doc_b", "shared_fp", "dup_a", "dup_b")
    )
    if not with_spans:
        return out
    # --- exact match-length refinement (pair-bounded) ---
    # out is consumed twice below (the match join's pair keys AND the
    # final span join); without the barrier the whole fingerprint ->
    # posting -> pair pipeline would re-execute per consumer.
    out = out.localCheckpoint(eager=False)
    pair_keys = out.select("doc_a", "doc_b")
    # the k-gram table is built ONLY over documents that appear in a
    # surfaced pair (a semi join against the pair endpoints — the
    # build side is pair-bounded, the same bound a_side's hash build
    # already rides), so non-paired documents never pay the md5
    # explode; values agree bit-for-bit with the fingerprint kernel's
    # (same md5 chain), so the final inner join stays total. The
    # table streams straight into the prefilter window's exchange —
    # its single consumer — with no checkpoint.
    pair_docs = (
        pair_keys.select(F.col("doc_a").alias("rep"))
        .unionByName(pair_keys.select(F.col("doc_b").alias("rep")))
        .dropDuplicates(["rep"])
    )
    kg = _kgram_table(
        m.repartition(par, "rep").join(
            pair_docs.hint("shuffle_hash"), "rep", "left_semi"
        ),
        "rep",
        k,
    )
    # lossless shared-hash prefilter: a match row needs its k-gram
    # hash present in >= 2 DISTINCT docs, so df=1 hashes (the vast
    # majority on a mostly-unique corpus — 88% of k-gram rows at
    # sf10u) can never produce a match and are dropped from BOTH join
    # sides. One window pass (min/max rep share a frame, so a single
    # exchange-by-h + partition-local sort); checkpointed because both
    # match-join sides consume it.
    wh = Window.partitionBy("h")
    kgs = (
        kg.withColumn("mn", F.min("rep").over(wh))
        .withColumn("mx", F.max("rep").over(wh))
        .filter(F.col("mn") != F.col("mx"))
        .select("rep", "pos", "h")
        .localCheckpoint(eager=False)
    )
    # join strategies split by HONEST build-side bounds: pair_keys
    # (2 ids per surfaced pair) is the only side small enough to
    # hash-build, so it rides a shuffle-hash join that streams kgs
    # without sorting it; a_side is pairs x positions — NOT safely
    # hash-buildable (ShuffledHashJoin cannot spill its build map:
    # observed SparkOutOfMemoryError "not enough memory to build hash
    # map" at sf10u in a loaded session) — so the big-big (doc_b, h)
    # match join is SORT-MERGE, which spills gracefully at any scale.
    # Broadcast stays forbidden throughout (frozen-stats trap above).
    a_side = kgs.select(
        F.col("rep").alias("doc_a"), F.col("pos").alias("pa"), "h"
    ).join(pair_keys.hint("shuffle_hash"), "doc_a")
    # match rows are structurally distinct — kg has one row per
    # (doc, pos) and h is a function of (doc, pos), so a given
    # (doc_a, doc_b, pa, pb) can only arise once; no dedup shuffle
    # (the earlier dropDuplicates re-shuffled the match-bounded table
    # a second time for rows that were already unique).
    matches = (
        kgs.select(
            F.col("rep").alias("doc_b"), F.col("pos").alias("pb"), "h"
        )
        .join(a_side.hint("merge"), ["doc_b", "h"])
        .select("doc_a", "doc_b", "pa", "pb")
    )
    # gaps-and-islands per diagonal: a verbatim run of length L is
    # L - k + 1 consecutive (pa, pb) matches with constant pa - pb
    diag = matches.withColumn("diag", F.col("pa") - F.col("pb"))
    isl = diag.withColumn(
        "isl",
        F.col("pa")
        - F.row_number().over(
            Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
        ),
    )
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(F.count("*").alias("run"))
        .groupBy("doc_a", "doc_b")
        .agg((F.max("run") + (k - 1)).cast("bigint").alias("max_span_len"))
    )
    # inner join is total: a shared fingerprint IS a matching k-gram
    # (the window minimum both sides agreed on), so every surfaced
    # pair has at least one match row and a span >= k
    return out.join(spans, ["doc_a", "doc_b"]).select(
        "doc_a", "doc_b", "shared_fp", "dup_a", "dup_b", "max_span_len"
    )


def winnow_index_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    w: int = 8,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist a probeable exact-substring (winnowing) index:

    - ``fps/`` — (th, fp) rows partitioned by
      ``bucket = pmod(fp, n_buckets)``, ONE row set per DISTINCT text
      (keyed by content hash ``th`` — the same index-shaped
      exact-dup collapse as the MinHash index, operators/dedup.py
      minhash_index_write);
    - ``members/`` — (id, th) for output-bound member expansion.

    A probe batch collects its fingerprints' buckets and prunes the
    corpus scan to those partition directories, so re-checking a new
    batch for verbatim overlap against a standing corpus is O(batch ×
    matched buckets), never O(corpus). ``mode="append"`` admits a
    probed batch into the index (the incremental-ingest loop)."""
    min_len = k + w - 1
    par = docs.sparkSession.sparkContext.defaultParallelism
    flt = docs.filter(F.length(text_col) >= min_len)
    members = flt.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col).cast("string")).alias("th"),
    )
    reps = (
        flt.select(
            F.md5(F.col(text_col).cast("string")).alias("th"),
            F.col(text_col).alias("__txt"),
        )
        .dropDuplicates(["th"])
        .repartition(par, "th")
    )
    fps = winnow_fingerprints(reps, "th", k, w)
    (
        fps.withColumn("bucket", F.pmod("fp", F.lit(n_buckets)))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/fps")
    )
    members.write.mode(mode).parquet(f"{path}/members")


def winnow_index_probe(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    w: int = 8,
    n_buckets: int = 64,
    df_cap: int = 50,
    min_shared: int = 1,
) -> DataFrame:
    """Verbatim-overlap hits of ``new_docs`` against a persisted
    winnowing index (same k/w/n_buckets as the build — caller owns
    that contract). Returns (new_id, corpus_id, shared_fp).

    Scale shape (the minhash_index_probe discipline): the batch
    collapses to one representative per distinct text and its
    fingerprint table is BROADCAST; the corpus scan prunes to the
    batch's buckets (collected — at most n_buckets values); corpus-
    side boilerplate fingerprints (df > df_cap distinct texts within
    the pruned scan) are dropped before pairing, bounding every
    posting; member pairs are restored by output-bound joins through
    ``members/``. No corpus shuffle anywhere."""
    min_len = k + w - 1
    par = new_docs.sparkSession.sparkContext.defaultParallelism
    spark = new_docs.sparkSession
    flt = new_docs.filter(F.length(text_col) >= min_len)
    new_members = flt.select(
        F.col(id_col).alias("new_id"),
        F.md5(F.col(text_col).cast("string")).alias("th_n"),
    )
    new_reps = (
        flt.select(
            F.md5(F.col(text_col).cast("string")).alias("th_n"),
            F.col(text_col).alias("__txt"),
        )
        .dropDuplicates(["th_n"])
        .repartition(par, "th_n")
    )
    new_fps = (
        winnow_fingerprints(new_reps, "th_n", k, w)
        .withColumn("bucket", F.pmod("fp", F.lit(n_buckets)))
        .cache()
    )
    probe_buckets = [
        r.bucket for r in new_fps.select("bucket").distinct().collect()
    ]
    corpus = spark.read.parquet(f"{path}/fps").filter(
        F.col("bucket").isin(probe_buckets)
    )
    # df-cap inside the pruned scan: a fingerprint carried by > df_cap
    # distinct corpus texts is boilerplate, not an overlap signal
    rare = (
        corpus.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") <= df_cap)
        .select("fp")
    )
    pairs = (
        corpus.join(rare, "fp", "left_semi")
        .join(F.broadcast(new_fps.select("th_n", "fp")), "fp")
        .groupBy(F.col("th").alias("th_c"), "th_n")
        .agg(F.count("*").cast("bigint").alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
    # member expansion: the verified th-pair set (batch-output-bound)
    # broadcasts over a map-side scan of members/ — never a corpus
    # shuffle
    hits_th = pairs.join(F.broadcast(new_members), "th_n").select(
        "new_id", "th_c", "shared_fp"
    )
    members = spark.read.parquet(f"{path}/members")
    result = (
        members.select(
            F.col("th").alias("th_c"), F.col("id").alias("corpus_id")
        )
        .join(F.broadcast(hits_th), "th_c")
        .select("new_id", "corpus_id", "shared_fp")
        # materialize, then release the fingerprint cache — same
        # per-micro-batch cache-leak fix as minhash_index_probe
        .localCheckpoint(eager=True)
    )
    new_fps.unpersist()
    return result
