"""Extended LLM-training-data queries (SURVEY.md §2.10-2.11 beyond the
declared roster): the dedup family, ANN, text analysis, multimodal
plumbing, grouped-map and UDAF surfaces.

Oracle-backed where the semantics are portable ANSI SQL (token
counting, quality arithmetic, md5 fingerprints, UDAF exact twin);
rows-only where they depend on Spark-native hashing (xxhash64
signatures) or binary payloads.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import dedup, multimodal, pq, semdedup, similarity, text
from ..functions import dual_sql as D
from ..registry import query

# ---------------------------------------------------------------------------
# Dedup family (rows-only: xxhash64-based signatures are Spark-native)


@query("q_dedup_minhash")
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (L2). With no true near-
    dups in the synthetic corpus, self-similarity of banded docs is
    exercised against a lowered threshold so the full pipeline
    (shingle->sign->band->join->verify) executes and returns rows."""
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.2)
    # union the per-doc signature summary so the query returns rows
    # even when the corpus has no near-duplicate pair at all. The
    # ordered limit plans as a TakeOrderedAndProject, which is not
    # code-generated: a bare limit's generated code names its counter
    # from a JVM-wide sequence, so each planning would compile new
    # classes (2 per pass). The order also makes the filler rows
    # deterministic.
    sigs = (
        docs.select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        .orderBy("id_a")
        .limit(5)
    )
    return pairs.unionByName(sigs)


@query(
    "q_udtf_chunk_text",
    # dual-dialect (round 8): the 32-word chunk slice as a flat
    # concat_ws over 32 split_part cuts (rtrim drops the padding
    # of the final partial chunk; a 128-deep || chain would hit
    # DuckDB's binder recursion cap) + a numbers-join explode
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) - length(replace(text, ' ', '')) + 1 AS wc FROM documents)
    SELECT doc_id,
           CAST(n.i - 1 AS INTEGER) AS chunk_idx,
           rtrim(concat_ws(' ', split_part(text, ' ', (n.i - 1) * 32 + 1 + 0), split_part(text, ' ', (n.i - 1) * 32 + 1 + 1), split_part(text, ' ', (n.i - 1) * 32 + 1 + 2), split_part(text, ' ', (n.i - 1) * 32 + 1 + 3), split_part(text, ' ', (n.i - 1) * 32 + 1 + 4), split_part(text, ' ', (n.i - 1) * 32 + 1 + 5), split_part(text, ' ', (n.i - 1) * 32 + 1 + 6), split_part(text, ' ', (n.i - 1) * 32 + 1 + 7), split_part(text, ' ', (n.i - 1) * 32 + 1 + 8), split_part(text, ' ', (n.i - 1) * 32 + 1 + 9), split_part(text, ' ', (n.i - 1) * 32 + 1 + 10), split_part(text, ' ', (n.i - 1) * 32 + 1 + 11), split_part(text, ' ', (n.i - 1) * 32 + 1 + 12), split_part(text, ' ', (n.i - 1) * 32 + 1 + 13), split_part(text, ' ', (n.i - 1) * 32 + 1 + 14), split_part(text, ' ', (n.i - 1) * 32 + 1 + 15), split_part(text, ' ', (n.i - 1) * 32 + 1 + 16), split_part(text, ' ', (n.i - 1) * 32 + 1 + 17), split_part(text, ' ', (n.i - 1) * 32 + 1 + 18), split_part(text, ' ', (n.i - 1) * 32 + 1 + 19), split_part(text, ' ', (n.i - 1) * 32 + 1 + 20), split_part(text, ' ', (n.i - 1) * 32 + 1 + 21), split_part(text, ' ', (n.i - 1) * 32 + 1 + 22), split_part(text, ' ', (n.i - 1) * 32 + 1 + 23), split_part(text, ' ', (n.i - 1) * 32 + 1 + 24), split_part(text, ' ', (n.i - 1) * 32 + 1 + 25), split_part(text, ' ', (n.i - 1) * 32 + 1 + 26), split_part(text, ' ', (n.i - 1) * 32 + 1 + 27), split_part(text, ' ', (n.i - 1) * 32 + 1 + 28), split_part(text, ' ', (n.i - 1) * 32 + 1 + 29), split_part(text, ' ', (n.i - 1) * 32 + 1 + 30), split_part(text, ' ', (n.i - 1) * 32 + 1 + 31))) AS chunk,
           CAST(least(32, wc - (n.i - 1) * 32) AS INTEGER) AS n_words
    FROM d JOIN (SELECT a.x + 8 * b.y AS i FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8)) AS a(x) CROSS JOIN (VALUES (0)) AS b(y)) n
      ON (n.i - 1) * 32 < wc
    """,
)
def q_udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for embedding/context windows via a real
    Python UDTF (SURVEY §2.10 D4 — the one-row-to-many surface as the
    first-class API, not an explode rewrite): each doc expands to
    32-word chunks through a registered ``@udtf`` class applied with a
    correlated LATERAL join; oracle is DuckDB list slicing. The UDTF
    is partition-parallel like any projection — rows never leave
    their task."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk string, n_words int")
    class ChunkText:
        def eval(self, text: str, size: int):
            words = text.split(" ") if text is not None else []
            for i in range(0, len(words), size):
                part = words[i : i + size]
                yield (i // size, " ".join(part), len(part))

    spark.udtf.register("chunk_text", ChunkText)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM documents, LATERAL chunk_text(text, 32) c
        """
    )


@query("q_dedup_minhash_clusters")
def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup verdicts at CLUSTER grain (the scale-safe
    output form of q_dedup_minhash): one row per verified distinct-text
    pair carrying member counts and the implied member-pair count,
    plus self-rows for exact-dup clusters. Output cardinality is
    independent of exact-duplicate mass — the pair form's member
    expansion is quadratic in it by the answer's own semantics (see
    operators/dedup.py minhash_lsh_pairs)."""
    docs = table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, output="clusters"
    )


@query("q_dedup_simhash")
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (L2 variant) with chunk blocking; returns
    the per-chunk candidate statistics so the operator is observable
    even with zero sub-threshold pairs."""
    # deterministic id-prefix cap (a bare limit() funnels the plan
    # through a SinglePartition exchange and is order-dependent)
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    sims = docs.select(
        "doc_id",
        dedup.simhash64_np(F.split(F.trim(F.col("text")), r"\s+")).alias("simhash"),
    )
    pairs = dedup.simhash_pairs(docs, max_hamming=20)
    stats = pairs.agg(
        F.count("*").alias("n_pairs"),
        F.min("hamming").alias("min_hamming"),
    )
    return sims.crossJoin(F.broadcast(stats)).select(
        "doc_id", "simhash", "n_pairs", "min_hamming"
    )


@query("q_dedup_ngram_jaccard")
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard pairs via inverted index (L2 variant),
    with the hot-posting cap engaged (the 100 TB skew guard): grams in
    >50 documents are excluded from candidate generation, candidates
    are verified with exact Jaccard over full gram sets."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_doc_frequency=50)


@query("q_dedup_embedding")
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH buckets."""
    emb = table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(emb, cosine_threshold=0.2, num_planes=8)


@query("q_dedup_embedding_clusters")
def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup verdicts at CLUSTER grain (the scale-safe
    output form of q_dedup_embedding, mirroring
    q_dedup_minhash_clusters): one row per verified distinct-VECTOR
    pair with member counts and the implied member-pair count, plus
    self-rows for exact-dup vector clusters. Output cardinality is
    independent of exact-duplicate mass — the pair form's member
    expansion is quadratic in it by the answer's own semantics (see
    operators/dedup.py embedding_near_dup_pairs)."""
    emb = table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(
        emb, cosine_threshold=0.2, num_planes=8, output="clusters"
    )


@query("q_semantic_dedup")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (SemDeDup, Abbas et al. 2023):
    seeded k-means cells, per-cell greedy prune keeping the member
    least similar to its centroid. Rows-only — cell boundaries are
    model-dependent; the greedy rule is pinned against a driver-side
    numpy twin in tests/test_semdedup.py. tau sits at the synthetic
    corpus's p99.9 cosine so the query demonstrably drops rows;
    n_cells auto-sizes to ~sqrt(N) so cell-local quadratic work and
    grouped-map parallelism both track the corpus."""
    emb = table(spark, sf_dir, "embeddings")
    return semdedup.semantic_dedup(emb, tau=0.25)


@query("q_ann_lsh")
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbors from the query vector's LSH bucket
    (L7) — the scale path whose exact twin is q_topk_similar."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return similarity.lsh_topk(emb, qv, k=10, num_planes=6)


@query("q_ann_ivf")
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k (L7 scale path #2): coarse quantizer
    fit by seeded numpy k-means on a bounded sample collected to the
    driver, nprobe nearest cells brute-forced. Rows-only —
    cell boundaries are model-dependent, not SQL-expressible."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return similarity.ivf_topk(emb, qv, k=10, n_cells=8, nprobe=4)


@query("q_ann_pq")
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-k (L7 scale path #3):
    per-subspace k-means codebooks fit on a bounded sample, corpus
    encoded to m one-byte codes (32× compression at 64-dim float32),
    scored by a pure-JVM asymmetric-distance fold over a broadcast
    lookup table. Rows-only — codes are model-dependent, not
    SQL-expressible. Recall vs brute force gated in
    tests/test_ann_recall_gate.py."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return pq.pq_topk(emb, qv, k=10, m=8, nbits=8)


@query("q_ann_ivfpq")
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ approximate top-k (FAISS IVFPQ shape): coarse
    cells prune WHICH codes are scanned (nprobe/n_cells of the
    corpus), residual PQ compresses WHAT each scan reads (~32×).
    Scoring = per-cell constant + the same JVM ADC fold. Rows-only —
    model-dependent."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return pq.ivfpq_topk(emb, qv, k=10, n_cells=8, nprobe=4, m=8, nbits=8)


@query("q_ann_pq_rerank")
def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized search (L7, round-6): ADC over the code
    table picks a 10·k shortlist, then an exact-cosine pass re-scores
    ONLY those rows (pushed-down id predicate on the float table —
    row-group pruned, never a second corpus scan). Recall@10 ≥0.9 at
    <10% byte-equivalent scan on sf0.1 (tools/ann_recall.py); the
    full-shortlist limit provably equals brute force
    (tests/test_pq.py::test_rerank_full_shortlist_equals_brute_force).
    Rows-only — shortlist membership is model-dependent."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    index = pq.pq_build(emb, m=8, nbits=8)
    return pq.pq_search(index, qv, k=10, rerank_from=emb)


@query("q_ann_lsh_rerank")
def q_ann_lsh_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH composed with the exact-rerank stage (L7, round-8): the
    hybrid index stores PQ codes next to the vectors; the search runs
    query-DIRECTED multi-probe (buckets ranked by flipped-bit margin,
    Lv et al. VLDB 2007), ADC over the probed buckets' CODES, then
    true cosine on the shortlist only. Lifts recall@10 from 0.36 to
    ≥0.9 at <10% byte-equivalent scan (ANN_RECALL_r8,
    tests/test_ann_recall_gate.py). Rows-only — model-dependent."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    index = similarity.lsh_build(emb, num_planes=6, pq_m=8)
    return similarity.lsh_search(index, qv, k=10, probe_budget=56, shortlist=100)


@query("q_ann_ivf_rerank")
def q_ann_ivf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat composed with the exact-rerank stage (L7, round-8):
    codes attached at build, wide nprobe over code bytes, exact cosine
    on the shortlist read back from the index's own vectors. Lifts
    recall@10 from 0.595 to ≥0.9 at <10% byte-equivalent scan
    (ANN_RECALL_r8, tests/test_ann_recall_gate.py). Rows-only —
    model-dependent."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    index = similarity.ivf_build(emb, n_cells=16, pq_m=8)
    return similarity.ivf_search(index, qv, k=10, nprobe=12, shortlist=100)


# ---------------------------------------------------------------------------
# Text analysis


@query(
    "q_token_count",
    # dual-dialect: ws_tokens = separator count + 1 on the trimmed
    # text (fixture texts are single-space separated — pinned in
    # test_sql_text); bpe_tokens counted without regexp_extract_all
    # via the character explode: a token starts where a letter run or
    # digit run begins, and every non-alnum non-space char is its own
    # token — exactly the [A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s] alternation
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, substring(text, n.i, 1) AS c,
             CASE WHEN n.i = 1 THEN ' '
                  ELSE substring(text, n.i - 1, 1) END AS p
      FROM documents JOIN {D.nums_rel(D.MAX_DOC_CHARS)} n
        ON n.i <= length(text)
    ),
    bpe AS (
      SELECT doc_id,
             SUM(CASE WHEN {D.IS_LETTER} AND NOT {D.IS_LETTER_P} THEN 1
                      WHEN {D.IS_DIGIT} AND NOT {D.IS_DIGIT_P} THEN 1
                      WHEN NOT {D.IS_LETTER} AND NOT {D.IS_DIGIT}
                           AND c <> ' ' THEN 1
                      ELSE 0 END) AS bpe_tokens
      FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(trim(d.text))
                - length(replace(trim(d.text), ' ', '')) + 1 AS INTEGER)
             AS ws_tokens,
           CAST(b.bpe_tokens AS INTEGER) AS bpe_tokens
    FROM documents d JOIN bpe b ON d.doc_id = b.doc_id
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts per document."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.whitespace_token_count("text").alias("ws_tokens"),
        text.bpe_token_count("text").alias("bpe_tokens"),
    )


@query(
    "q_quality_score",
    # dual-dialect: punct ([^\\w\\s]) and digit counts via per-char
    # classification over the character explode (fixture whitespace is
    # single spaces — pinned in test_sql_text)
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, substring(text, n.i, 1) AS c
      FROM documents JOIN {D.nums_rel(D.MAX_DOC_CHARS)} n
        ON n.i <= length(text)
    ),
    k AS (
      SELECT doc_id,
             SUM(CASE WHEN NOT {D.IS_LETTER} AND NOT {D.IS_DIGIT}
                       AND c <> '_' AND c <> ' ' THEN 1 ELSE 0 END)
               AS n_punct,
             SUM(CASE WHEN {D.IS_DIGIT} THEN 1 ELSE 0 END) AS n_digit
      FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           round(least(CAST(length(trim(d.text))
                    - length(replace(trim(d.text), ' ', '')) + 1 AS DOUBLE)
                    / 100.0, 1.0)
                 * (1.0 - least(CAST(k.n_punct AS DOUBLE)
                                    / greatest(length(d.text), 1)
                                + CAST(k.n_digit AS DOUBLE)
                                    / greatest(length(d.text), 1),
                                1.0)),
                 4) AS quality
    FROM documents d JOIN k ON d.doc_id = k.doc_id
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic per document: length term damped by
    punctuation/digit noise density."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", text.quality_score("text").alias("quality"))


@query("q_lang_id")
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification: explode trigrams,
    broadcast-join tiny per-language profiles, argmax hits."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return text.identify_language(d)


@query(
    "q_doc_fingerprint",
    # dual-dialect (round 9): the whitespace normalization
    # regexp_replace(.., '\\s+', ' ', 'g') is where the engines split
    # (DuckDB requires the 'g' flag, Spark rejects it) — but on the
    # fixture it is the IDENTITY: texts are single-space separated
    # with no tabs/newlines/doubles and no leading/trailing space,
    # preconditions asserted by tests/test_sql_text.py::
    # test_shared_tokenizer_bounds. Verified value-identical to the
    # regex form at sf0.1.
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fp_md5
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized md5 content fingerprint (portable); the rolling
    shingle min/max fingerprint is q_doc_fingerprint_rolling."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", text.md5_fingerprint("text").alias("fp_md5"))


@query("q_doc_fingerprint_rolling")
def q_doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint (xxhash64 shingles —
    Spark-native, rows-only)."""
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", text.rolling_shingle_fingerprint("text").alias("fp")).select(
        "doc_id",
        F.col("fp.min_hash").alias("fp_min"),
        F.col("fp.max_hash").alias("fp_max"),
    )


# ---------------------------------------------------------------------------
# UDF surfaces: grouped map (D2) and UDAF (D3)


@query("q_grouped_map_zscore")
def q_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key grouped-map pandas transform (D2) — the Spark analog of
    the reference's per-symbol Python fetch function: arbitrary pandas
    code per group, Arrow-batched."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=0)
        pdf["value_z"] = 0.0 if (std == 0 or pd.isna(std)) else (pdf["value"] - pdf["value"].mean()) / std
        return pdf[["user_id", "event_id", "value_z"]]

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").applyInPandas(
        zscore, schema="user_id long, event_id long, value_z double"
    )


@query(
    "q_udaf_range_cents",
    oracle="""
    SELECT user_id,
           CAST(round((max(value) - min(value)) * 100, 0) AS BIGINT) AS range_cents
    FROM events
    GROUP BY user_id
    """,
)
def q_udaf_range_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF (D3) via GROUPED_AGG pandas_udf, with an exact SQL
    twin: per-user value range in integer cents (2-decimal inputs make
    the product a whole number, so both engines agree exactly)."""

    @F.pandas_udf("long")
    def range_cents(v: pd.Series) -> int:
        return int(round((v.max() - v.min()) * 100))

    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(range_cents("value").alias("range_cents"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (rows-only: synthetic binary payloads)


@query("q_multimodal_features")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns -> decoded features via mapInPandas (L8).
    Image rows are REAL binary PGM decoded by the pure-numpy P5
    kernel; audio/video rows use the deterministic synthetic
    container (operators/multimodal.py documents the codec
    boundary)."""
    media = multimodal.media_table(spark, n=64)
    return multimodal.extract_features(media)


@query("q_multimodal_frame_sample")
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: JVM-side sequence explode over frame
    counts (L8)."""
    media = multimodal.media_table(spark, n=64)
    return multimodal.sample_frames(media, every=2)
