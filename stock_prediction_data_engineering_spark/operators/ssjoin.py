"""Exact set-similarity join via global-frequency prefix filtering.

The dedup family (operators/dedup.py) finds near-duplicates
*approximately* (MinHash/SimHash buckets, candidate verify). This
operator is the exact counterpart: ALL pairs whose token-set Jaccard
clears a threshold, with no false negatives — the AllPairs/PPJoin
prefix-filter algorithm (Bayardo et al., WWW'07; public literature)
expressed as DataFrame ops.

Why it scales: a naive inverted-index join explodes on every shared
token. Prefix filtering orders each document's tokens by GLOBAL
document frequency (rarest first) and indexes only the first
``n - ceil(t*n) + 1`` of them: if Jaccard(A,B) >= t then
|A∩B| >= ceil(t*max(|A|,|B|)), and two sets with overlap >= c must
share a token within their (size-c+1)-prefixes under any one global
order. So candidates are generated from the *rarest* slice of each
document — the postings lists that blow up (stopword-grade tokens)
are exactly the ones the prefix never indexes. Verification is
candidate-bounded and exact.

No reference-repo counterpart (the reference is a 131-line ingest DAG,
reference dags/stock_data_airflow_local_aws_s3.py); this is north-star
LLM-curation surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .dedup import _collapse, _expand_members, _sized, _verify


def split_words(text: Column | str) -> Column:
    """Lowercased word array of a text column (empty regex-split
    tokens removed, so the stream matches a 1-based SQL
    reconstruction exactly). Project this into its OWN column behind
    a materialization barrier before feeding :func:`word_ngrams_over`
    on a hot path — see the construction note there."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def word_ngrams_over(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an existing word-array
    column. Each gram slices the array column — O(n) per gram when
    ``ws`` is a materialized column; if ``ws`` is an unmaterialized
    split expression the whole subtree re-evaluates per gram
    (CollapseProject; O(words²/n) per doc — tools/plan_lint.py flags
    the 'slice(split(' signature)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    # sequence(1, x) counts DOWN when x < 1 — guard short documents.
    return F.when(F.size(ws) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text as an array.

    Construction note (measured, sf0.1): the gram lambda references
    the word array ONCE via slice+array_join. The obvious alternative
    — n element_at() calls per gram — embeds n copies of the whole
    split/filter subtree per gram after projection collapse, which
    codegen does not CSE under a transform lambda: 14 s vs 1.4 s for
    the same 260 k grams. Even the single reference re-evaluates the
    split per gram on the interpreted lambda path, so HOT paths should
    project :func:`split_words` behind a checkpoint barrier and use
    :func:`word_ngrams_over` instead (the round-6 plan-lint finding)."""
    return word_ngrams_over(split_words(text), n)


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= num/den (exact).

    Returns (doc_a, doc_b, inter_grams, union_grams, jac_bp) with
    doc_a < doc_b; the threshold test and jac_bp are pure integer
    arithmetic. Exactness contract: the verify stage intersects
    per-gram xxhash64 values, not the gram strings, so results are
    exact up to hash collisions — P[any collision across a vocabulary
    of |V| distinct grams] <= |V|^2 / 2^65 (~1e-9 at 1e5-gram
    vocabularies). If |V| ever approaches 2^30, assign dense gram ids
    off the df table instead (the fallback noted at the hashing site
    below); under that bound, results are bit-identical across
    engines.

    Plan shape (all keyed, nothing global):
      1. one scan -> distinct (id, gram) explode;
      2. gram document frequencies (vocabulary-sized keyed count);
      3. per-doc rarest-first rank: window keyed by id over the
         doc's own grams (bounded by document length);
      4. candidate pairs from prefix x prefix on gram — the only
         quadratic-risk join, bounded because prefixes hold only
         globally-rare grams (a gram's posting length is its df rank);
      5. exact verify bounded by |candidates| (the verify stage shared
         with MinHash-LSH, operators/dedup.py ``_verify``), integer
         cross-multiplied threshold.
    """
    # Exact-duplicate collapse (operators/dedup.py _collapse,
    # _expand_members): cross-cluster pairs inherit the representatives'
    # exact (inter, union); intra-cluster pairs are inter = union = n,
    # jac_bp = 10000, only for clusters with a non-empty gram set
    # (gram-less docs never enter the prefix index uncollapsed).
    members, prof_n, prof_d, reps, src = _collapse(docs, id_col, text_col)
    if reps is None:
        # CPU-parallelism guard: one byte-tiny parquet file is one
        # input split, which would run the whole tokenize on ONE core
        # (sf0.1 gram scan: 18 s -> ~1 s)
        par = docs.sparkSession.sparkContext.defaultParallelism
        src = docs.repartition(par, id_col).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__t")
        )
    arrs = (
        src.select("id", word_ngrams("__t", ngram).alias("arr"))
        .withColumn("n", F.size("arr"))
        # per-gram xxhash64, computed ONCE inside the checkpoint: the
        # verify stage counts intersections over these int64 sets
        # instead of the string arrays. Distinct strings map to
        # distinct hashes with P[any collision across the vocabulary]
        # <= |V|^2 / 2^65 (~1e-9 at 1e5-gram vocabularies); if |V| ever
        # approaches 2^30, swap to dense gram ids assigned off the df
        # table.
        .withColumn("harr", F.transform("arr", lambda g: F.xxhash64(g)))
    )
    # The tokenized table feeds FOUR consumers (df counts, prefix
    # ranking, both verify sides): a localCheckpoint computes the
    # tokenize, the most expensive stage, once per invocation (sf0.1
    # warm 8.3-10.6 s -> 2.2-2.8 s); unlike persist() it is not
    # plan-cache matched across invocations, so repeated runs re-pay
    # it honestly. Its blocks are unreplicated executor-local: an
    # executor loss fails the job (use persist(MEMORY_AND_DISK) under
    # preemptible executors). Eager because its plan holds an exchange
    # (see the shingle table in operators/dedup.py minhash_lsh_pairs);
    # its job also measures rows, grams and gram characters for the
    # join gates (:func:`_sized`).
    obs = Observation()
    arrs = arrs.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum("n").alias("grams"),
        F.sum(F.length(F.array_join("arr", ""))).alias("chars"),
    ).localCheckpoint(eager=True)
    rows, n_grams = obs.get["rows"], obs.get["grams"] or 0
    gram_bytes = 8 + (obs.get["chars"] or 0) / max(n_grams, 1)

    # the gram-keyed sides have at most one row per gram occurrence
    grams = arrs.select("id", "n", F.explode("arr").alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))

    ranked = grams.join(
        dfreq.hint(_sized(n_grams, gram_bytes + 8)), "gram"
    ).withColumn("rnk", F.row_number().over(Window.partitionBy("id").orderBy("df", "gram")))
    # prefix length = n - ceil(t*n) + 1, all integer:
    # ceil(a*n/b) = (a*n + b - 1) div b
    pref = (
        ranked.withColumn(
            "plen",
            F.expr(
                f"n - (({threshold_num} * n + {threshold_den - 1}) "
                f"div {threshold_den}) + 1"
            ),
        )
        .filter(F.col("rnk") <= F.col("plen"))
        .select("id", "gram", "n", "rnk")
    )

    # candidate self-join with the PPJoin length + position filters:
    # J >= t forces t*na <= nb <= na/t, and a pair seen at prefix
    # positions (pa, pb) can overlap at most 1 + min(na-pa, nb-pb)
    # grams, which must reach ceil(t/(1+t)*(na+nb)); both checks are
    # integer cross-multiplied. The build side (id, gram, n, rnk) is
    # gated like dfreq.
    pref = pref.hint(_sized(n_grams, 8 + gram_bytes + 4 + 4))
    a = pref.alias("a")
    b = pref.alias("b")
    nsum = F.col("a.n") + F.col("b.n")
    ubound = F.least(F.col("a.n") - F.col("a.rnk"), F.col("b.n") - F.col("b.rnk")) + 1
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") * threshold_den >= F.col("a.n") * threshold_num)
            & (F.col("a.n") * threshold_den >= F.col("b.n") * threshold_num)
            & (
                ubound * (threshold_num + threshold_den)
                >= F.lit(threshold_num) * nsum
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # exact verify over the hashed gram sets (operators/dedup.py)
    # an id, a long array and its int size
    arrays = arrs.select("id", F.col("harr").alias("h"), "n")
    counted = _verify(cand, arrays, prof_d, rows, 8 + 8 * n_grams / max(rows, 1) + 4)
    union = F.col("n_a") + F.col("n_b") - F.col("inter")
    verified = counted.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("inter").cast("bigint").alias("inter_grams"),
        union.cast("bigint").alias("union_grams"),
    )
    rep_pairs = verified.filter(
        F.col("inter_grams") * threshold_den
        >= F.lit(threshold_num) * F.col("union_grams")
    ).select(
        "doc_a",
        "doc_b",
        "inter_grams",
        "union_grams",
        F.expr("(inter_grams * 10000) div union_grams").alias("jac_bp"),
    )
    if reps is None:
        return rep_pairs
    eligible = arrs.filter(F.col("n") > 0).select("id", "n")
    x_n = F.col("x.n").cast("bigint")
    return _expand_members(
        rep_pairs, reps, members, prof_n, prof_d, "doc_a", "doc_b",
        None if threshold_num > threshold_den else eligible,
        [x_n.alias("inter_grams"), x_n.alias("union_grams"),
         F.lit(10000).cast("bigint").alias("jac_bp")],
    )
