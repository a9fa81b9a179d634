"""Training-corpus curation queries (SURVEY.md §2.11 north star):
Gopher-style quality rules, benchmark-contamination detection,
domain-mixture sampling, and merge-candidate bigram counting — the
filter/audit layer a 100 TB pretraining pipeline runs between raw
ingest and tokenization.

All text features are JVM-side higher-order array expressions (split /
transform / filter / array_distinct) — no Python in the per-document
path. The testdata corpus is single-space-separated word soup (no
newlines/punctuation), so the rule set targets repetition and
stopword-density signals rather than line/markup heuristics; the
operators generalize unchanged to real text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import dual_sql as D
from ..registry import query

# word 3-gram list, distinct per document, as a SQL expression over a
# `words` array column; guarded so short docs yield an empty list
# (Spark's sequence(1, n) would count DOWN for n < 1)
_TRIGRAMS = (
    "CASE WHEN size(words) >= 3 THEN "
    "transform(sequence(1, size(words) - 2), "
    "i -> array_join(slice(words, i, 3), ' ')) "
    "ELSE array() END"
)
_BIGRAMS = (
    "CASE WHEN size(words) >= 2 THEN "
    "transform(sequence(1, size(words) - 1), "
    "i -> concat(element_at(words, i), ' ', element_at(words, i + 1))) "
    "ELSE array() END"
)


@query(
    "q_quality_rules",
    # dual-dialect: the list-lambda feature extraction re-expressed as
    # keyed aggregates over the shared split_part explode — distinct
    # words/bigrams via COUNT(DISTINCT ..), stopword hits via CASE
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, text, length(text) AS n_len,
             length(text) - length(replace(text, ' ', '')) + 1 AS wc
      FROM documents
    ),
    agg AS (
      SELECT doc_id,
             COUNT(DISTINCT token) AS n_dw,
             SUM(CASE WHEN token IN ('a', 'the') THEN 1 ELSE 0 END) AS n_stop
      FROM {D.space_tokens()} s GROUP BY doc_id
    ),
    bg AS (
      SELECT f.doc_id,
             COUNT(DISTINCT split_part(f.text, ' ', n.i) || ' '
                   || split_part(f.text, ' ', n.i + 1)) AS n_db
      FROM feat f JOIN {D.nums_rel(D.MAX_DOC_WORDS - 1)} n
        ON n.i <= f.wc - 1
      GROUP BY f.doc_id
    )
    SELECT f.doc_id, CAST(f.wc AS BIGINT) AS word_cnt,
           CAST(floor(CAST(a.n_dw AS DOUBLE) / f.wc * 10000) AS BIGINT)
             AS ttr_bp,
           CASE WHEN f.wc >= 2 THEN CAST(floor(
               (1 - CAST(b.n_db AS DOUBLE) / (f.wc - 1)) * 10000) AS BIGINT)
           END AS dup_bigram_bp,
           CAST(floor(CAST(a.n_stop AS DOUBLE) / f.wc * 10000) AS BIGINT)
             AS stop_bp,
           CAST(floor(CAST(f.n_len - f.wc + 1 AS DOUBLE) / f.wc * 100)
                AS BIGINT) AS mean_wlen_c,
           (f.wc BETWEEN 20 AND 1000
            AND CAST(floor(CAST(a.n_dw AS DOUBLE) / f.wc * 10000) AS BIGINT)
                >= 3000
            AND coalesce(CASE WHEN f.wc >= 2 THEN CAST(floor(
                  (1 - CAST(b.n_db AS DOUBLE) / (f.wc - 1)) * 10000)
                  AS BIGINT) END, 0) <= 2500
            AND CAST(floor(CAST(a.n_stop AS DOUBLE) / f.wc * 10000) AS BIGINT)
                <= 1500) AS passes
    FROM feat f JOIN agg a ON f.doc_id = a.doc_id
    LEFT JOIN bg b ON f.doc_id = b.doc_id
    """,
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scorecard (Gopher/C4-style rule family):
    word count bounds, type-token ratio, duplicate-bigram fraction
    (repetition), stopword density, mean word length — plus the
    combined keep/drop flag. Ratios are quotients of exact integers
    emitted via floor (tie-safe). One projection pass, no shuffle —
    behind a row-honest repartition: duplicated text compresses
    ~100:1 in parquet, so byte-based scan splits hand a 500k-row
    corpus to 2-3 cores and the bigram lambdas serialize (measured at
    sf10: 12.9 s → 1.9 s from the repartition alone; the text-pure
    dup collapse, operators/text.py collapse_text_scores, measured a
    WASH here once parallelism was fixed — this lambda family is
    parallelism-bound, not dup-bound)."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return quality_scorecard(docs)


def quality_scorecard(docs: DataFrame) -> DataFrame:
    """df-level body of q_quality_rules (factored out so the corpus
    admission pipeline can gate arbitrary batches on the same rules —
    tools/pipeline_accounting.py). One projection pass, no shuffle."""
    d = docs.select(
        "doc_id",
        F.length("text").alias("n_len"),
        F.split("text", " ").alias("words"),
    )
    d = d.select(
        "doc_id",
        "n_len",
        F.size("words").alias("wc"),
        F.size(F.array_distinct("words")).alias("n_distinct"),
        F.size(F.array_distinct(F.expr(_BIGRAMS))).alias("n_distinct_bg"),
        F.size(
            F.filter("words", lambda x: x.isin("a", "the"))
        ).alias("n_stop"),
    )
    ttr_bp = F.floor(F.col("n_distinct").cast("double") / F.col("wc") * 10000).cast(
        "bigint"
    )
    dup_bg_bp = F.when(
        F.col("wc") >= 2,
        F.floor(
            (1 - F.col("n_distinct_bg").cast("double") / (F.col("wc") - 1)) * 10000
        ).cast("bigint"),
    )
    stop_bp = F.floor(F.col("n_stop").cast("double") / F.col("wc") * 10000).cast(
        "bigint"
    )
    mean_wlen_c = F.floor(
        (F.col("n_len") - F.col("wc") + 1).cast("double") / F.col("wc") * 100
    ).cast("bigint")
    d = d.select(
        "doc_id",
        F.col("wc").cast("bigint").alias("word_cnt"),
        ttr_bp.alias("ttr_bp"),
        dup_bg_bp.alias("dup_bigram_bp"),
        stop_bp.alias("stop_bp"),
        mean_wlen_c.alias("mean_wlen_c"),
    )
    passes = (
        F.col("word_cnt").between(20, 1000)
        & (F.col("ttr_bp") >= 3000)
        & (F.coalesce(F.col("dup_bigram_bp"), F.lit(0)) <= 2500)
        & (F.col("stop_bp") <= 1500)
    )
    return d.withColumn("passes", passes)


def contamination_pairs(docs: DataFrame) -> DataFrame:
    """df-level body of q_contamination_check (factored out so tests
    can drive it with duplicated fixtures).

    Scale shape: grams are distinct-per-doc before the join (bounds
    posting duplication), and the join strategy is left to AQE on
    purpose: when the benchmark side is genuinely eval-suite-sized it
    broadcasts at runtime (AQE sees the actual post-filter bytes), and
    when it grows with the corpus — as it does in this fixture, where
    membership is doc_id % 97 — it shuffles on the gram key instead
    of OOMing the driver. A forced broadcast measured SLOWER at both
    sf0.1 (1.37 s vs 0.75 s) and sf1 (7.13 s vs 6.98 s) and caps out
    at spark.driver.maxResultSize long before 100 TB.

    Exact-duplicate collapse (adaptive, operators/dedup.py
    ``_dup_profile``): output cardinality is quadratic in
    exact-duplicate mass by the query's own semantics — the 10 copies
    of one text straddle the % 97 cut, so every (train-copy,
    bench-copy) pair is a real answer row. That output is irreducible,
    but the GRAM JOIN need not pay it: when the profile engages the
    collapse, grams are computed for ONE
    representative per distinct text, the overlap join runs at
    cluster level (directed pairs, self-pairs included — a cluster
    with members on both sides of the cut overlaps itself on its full
    gram set), and members are stamped back on by two content-hash
    joins whose cost is output-bound. Candidate work drops from
    O((m·D)²-ish) to O(D²-ish) for m-fold duplication."""
    from ..operators.dedup import _dup_profile

    words = docs.select(
        F.col("doc_id"), F.split("text", " ").alias("words")
    )
    members = docs.select(
        "doc_id", F.md5(F.col("text").cast("string")).alias("__th")
    ).localCheckpoint(eager=False)
    if not _dup_profile(members, "__th")[2]:  # dup mass immaterial: direct path
        grams = words.select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_TRIGRAMS))).alias("g"),
        )
        bench = grams.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("bench_doc_id"), "g"
        )
        train = grams.filter(F.col("doc_id") % 97 != 0).select(
            F.col("doc_id").alias("train_doc_id"), "g"
        )
        return (
            train.join(bench, "g")
            .groupBy("train_doc_id", "bench_doc_id")
            .agg(F.count("*").alias("n_shared"))
        )
    reps = members.groupBy("__th").agg(F.min("doc_id").alias("rid"))
    rep_grams = (
        words.join(reps, F.col("doc_id") == F.col("rid"), "inner")
        .select(
            "__th",
            F.explode(F.array_distinct(F.expr(_TRIGRAMS))).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    # directed cluster-pair overlap, self-pairs included: |∩| between
    # the two clusters' gram sets is the n_shared every member pair
    # inherits
    directed = (
        rep_grams.select(F.col("__th").alias("__th_t"), "g")
        .join(rep_grams.select(F.col("__th").alias("__th_b"), "g"), "g")
        .groupBy("__th_t", "__th_b")
        .agg(F.count("*").alias("n_shared"))
    )
    train_m = members.filter(F.col("doc_id") % 97 != 0).select(
        F.col("__th").alias("__th_t"), F.col("doc_id").alias("train_doc_id")
    )
    bench_m = members.filter(F.col("doc_id") % 97 == 0).select(
        F.col("__th").alias("__th_b"), F.col("doc_id").alias("bench_doc_id")
    )
    return directed.join(train_m, "__th_t").join(bench_m, "__th_b").select(
        "train_doc_id", "bench_doc_id", "n_shared"
    )


@query(
    "q_contamination_check",
    # dual-dialect (round 8): list-lambda n-gram generation
    # re-expressed through the shared split_part / positioned-
    # tokenizer explodes (functions/dual_sql.py); verified
    # value-identical to the list form at sf0.1
    oracle=f"""
    WITH 
    grams AS (
      SELECT DISTINCT doc_id, split_part(text, ' ', n.i) || ' ' || split_part(text, ' ', n.i + 1) || ' ' || split_part(text, ' ', n.i + 2) AS g
      FROM (SELECT doc_id, text, length(text) - length(replace(text, ' ', '')) + 1 AS wc FROM documents) d
      JOIN {D.nums_rel(D.MAX_DOC_WORDS - 2)} n ON n.i <= wc - 2
    )
    SELECT t.doc_id AS train_doc_id, b.doc_id AS bench_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM grams t JOIN grams b USING (g)
    WHERE b.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
    GROUP BY train_doc_id, bench_doc_id
    """,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: word-3-gram overlap between the
    training corpus and a held-out benchmark slice (deterministic
    doc_id % 97 membership), reporting shared distinct n-grams per
    (train, bench) document pair. See :func:`contamination_pairs` for
    the plan (adaptive exact-dup collapse + AQE-decided join)."""
    return contamination_pairs(table(spark, sf_dir, "documents"))


def contamination_screen(docs: DataFrame) -> DataFrame:
    """Aggregated contamination gate: per TRAIN document, how many
    benchmark documents it shares a word-3-gram with (``n_bench_hits``)
    and its worst-case containment (``max_containment_bp`` = max shared
    distinct grams over any one bench doc / the train doc's distinct
    gram count, basis points, integer arithmetic).

    Why this exists next to :func:`contamination_pairs`: the pair form
    is output-QUADRATIC in exact-duplicate mass by its own semantics —
    m train copies × m bench copies of one text are m² real answer
    rows, so on a heavily duplicated corpus its runtime is dominated by
    writing the answer (SCALING_r4.md measured 16× for 10× data on the
    100%-duplicated fixture). A gate doesn't need the pairs: the
    decision per train doc is "how contaminated is it", which this
    aggregate answers in O(#train docs) output rows NO MATTER how
    duplicated the corpus is. Pairs remain available behind
    :func:`contamination_pairs` (q_contamination_check) for forensics.

    Scale shape: grams are computed for ONE representative per distinct
    text (the exact-dup collapse, unconditional here — the screen's whole
    point is the duplicated regime, and on dup-free corpora reps ≡ docs
    so the collapse is a no-op groupBy); the overlap join and BOTH
    aggregations run at cluster grain; the bench side collapses to a
    per-cluster member COUNT (never member rows); only the train side
    expands, by one output-bound join. Every member of a train cluster
    inherits its cluster's verdict — identical texts are identically
    contaminated."""
    words = docs.select(
        F.col("doc_id"), F.split("text", " ").alias("words")
    )
    members = docs.select(
        "doc_id", F.md5(F.col("text").cast("string")).alias("__th")
    ).localCheckpoint(eager=False)
    # the member count bounds the rows of every gated side below, each
    # an md5 with at most one long (operators/dedup.py _sized)
    from ..operators.dedup import _sized

    n_members = members.count()
    reps = members.groupBy("__th").agg(F.min("doc_id").alias("rid"))
    rep_grams = (
        words.join(reps, F.col("doc_id") == F.col("rid"), "inner")
        .select(
            "__th",
            F.explode(F.array_distinct(F.expr(_TRIGRAMS))).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    n_g = rep_grams.groupBy("__th").agg(F.count("*").alias("n_g"))
    train_m = members.filter(F.col("doc_id") % 97 != 0)
    bench_sizes = (
        members.filter(F.col("doc_id") % 97 == 0)
        .groupBy("__th")
        .agg(F.count("*").alias("bench_members"))
    )
    # prune each gram side to clusters that actually have members on
    # that side before the overlap join (a cluster wholly on one side
    # of the cut contributes nothing)
    t_grams = rep_grams.join(
        train_m.select("__th").distinct().hint(_sized(n_members, 40)),
        "__th",
        "left_semi",
    )
    b_grams = rep_grams.join(
        bench_sizes.select("__th").hint(_sized(n_members, 40)), "__th", "left_semi"
    )
    overlap = (
        t_grams.select(F.col("__th").alias("__th_t"), "g")
        .join(b_grams.select(F.col("__th").alias("__th_b"), "g"), "g")
        .groupBy("__th_t", "__th_b")
        .agg(F.count("*").alias("n_shared"))
    )
    # bench member counts fold in at cluster grain: a matched bench
    # cluster of size s is s distinct bench-doc hits for every train
    # member — the sum, never the expansion
    per_cluster = (
        overlap.join(
            bench_sizes.select(F.col("__th").alias("__th_b"), "bench_members").hint(
                _sized(n_members, 48)
            ),
            "__th_b",
        )
        .groupBy("__th_t")
        .agg(
            F.sum("bench_members").cast("bigint").alias("n_bench_hits"),
            F.max("n_shared").alias("max_shared"),
        )
        .join(
            n_g.select(F.col("__th").alias("__th_t"), "n_g").hint(_sized(n_members, 48)),
            "__th_t",
        )
    )
    return train_m.hint(_sized(n_members, 48)).join(
        per_cluster, F.col("__th") == F.col("__th_t")
    ).select(
        F.col("doc_id").alias("train_doc_id"),
        F.col("n_bench_hits"),
        # integer basis points ((a*10000) div b): exact on both engines,
        # immune to float accumulation-order drift
        F.expr("(max_shared * 10000) div n_g")
        .cast("bigint")
        .alias("max_containment_bp"),
    )


@query(
    "q_contamination_screen",
    # dual-dialect (round 8): list-lambda n-gram generation
    # re-expressed through the shared split_part / positioned-
    # tokenizer explodes (functions/dual_sql.py); verified
    # value-identical to the list form at sf0.1
    oracle=f"""
    WITH 
    grams AS (
      SELECT DISTINCT doc_id, split_part(text, ' ', n.i) || ' ' || split_part(text, ' ', n.i + 1) || ' ' || split_part(text, ' ', n.i + 2) AS g
      FROM (SELECT doc_id, text, length(text) - length(replace(text, ' ', '')) + 1 AS wc FROM documents) d
      JOIN {D.nums_rel(D.MAX_DOC_WORDS - 2)} n ON n.i <= wc - 2
    ),
    pairs AS (
      SELECT t.doc_id AS train_doc_id, b.doc_id AS bench_doc_id,
             COUNT(*) AS n_shared
      FROM grams t JOIN grams b USING (g)
      WHERE b.doc_id % 97 = 0 AND t.doc_id % 97 <> 0
      GROUP BY 1, 2
    ),
    tn AS (
      SELECT doc_id, COUNT(*) AS n_g FROM grams
      WHERE doc_id % 97 <> 0 GROUP BY doc_id
    )
    SELECT p.train_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           CAST(((MAX(p.n_shared) * 10000) - (MAX(p.n_shared) * 10000) % (tn.n_g)) / (tn.n_g) AS BIGINT) AS max_containment_bp
    FROM pairs p JOIN tn ON p.train_doc_id = tn.doc_id
    GROUP BY p.train_doc_id, tn.n_g
    """,
)
def q_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregated benchmark-contamination gate (the O(#train docs)
    output form of q_contamination_check): per train document, the
    count of bench documents sharing ≥1 word-3-gram and the worst-case
    containment in basis points. See :func:`contamination_screen` for
    why the aggregate — not the pair list — is the scale-safe gate."""
    return contamination_screen(table(spark, sf_dir, "documents"))


@query(
    "q_domain_mixture",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN source IN ('src0','src1','src2','src3','src4')
                           OR substr(md5(text), 1, 1) IN ('0','1','2','3')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents
    GROUP BY source
    """,
)
def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling audit: per-source kept counts under a
    weighted keep rule (priority sources kept whole, the long tail
    content-hash-sampled to ~1/4) — the deterministic reweighting step
    that shapes a pretraining mixture. Membership is md5-of-content, so
    the sample is reproducible across engines and runs (TABLESAMPLE is
    neither). One scan + one small aggregate."""
    docs = table(spark, sf_dir, "documents")
    keep = F.col("source").isin("src0", "src1", "src2", "src3", "src4") | F.substring(
        F.md5("text"), 1, 1
    ).isin("0", "1", "2", "3")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
    )


@query(
    "q_token_bigrams",
    # dual-dialect: adjacent fields cut straight out of the text with
    # two split_part calls per position — no list_transform needed
    oracle=f"""
    WITH w AS (
      SELECT text,
             length(text) - length(replace(text, ' ', '')) + 1 AS wc
      FROM documents
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
      SELECT split_part(w.text, ' ', n.i) || ' '
             || split_part(w.text, ' ', n.i + 1) AS bigram
      FROM w JOIN {D.nums_rel(D.MAX_DOC_WORDS - 1)} n ON n.i <= w.wc - 1
    ) b
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 50
    """,
)
def q_token_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus word bigrams — the pair-count scan at the heart of
    a BPE merge step (most frequent adjacent pair wins). Explode →
    partial+final count → TakeOrderedAndProject: the full bigram table
    never sorts globally, only the top-k heap moves to one task."""
    docs = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("words")
    )
    return (
        docs.select(F.explode(F.expr(_BIGRAMS)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(50)
    )


@query(
    "q_repetition_stats",
    oracle=f"""
    WITH wcnt AS (
      SELECT doc_id, token AS w, COUNT(*) AS cnt
      FROM {D.space_tokens()} s
      GROUP BY doc_id, token
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS word_cnt,
           CAST(MAX(cnt) AS BIGINT) AS top_word_cnt,
           CAST(floor(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) * 10000) AS BIGINT)
             AS top_share_bp,
           CAST(floor((1 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt)) * 10000)
                AS BIGINT) AS dup_word_bp
    FROM wcnt GROUP BY doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition profile per document: total words, the
    most-common word's count and corpus share (basis points), and the
    duplicate-word fraction (1 - distinct/total). High top-word share
    or dup fraction flags degenerate repetitive text that inflates
    loss-free token counts — the repetition filters in Gopher table A1.

    Scale shape: explode → ONE hash exchange keyed (doc_id, word) for
    the per-word counts, then the per-doc rollup re-keys on doc_id (a
    prefix of the first key, so AQE-local). Both aggregates take
    map-side partials; no per-doc quadratic array work (the
    alternative — a higher-order lambda counting each distinct word
    inside the array — is O(n²) per document and runs on one core).
    The explode runs behind a row-honest repartition (the
    compressed-duplicate scan-split trap: byte-sized splits hand the
    whole map side to 2-3 cores; measured at sf10 13.7 s → 1.7 s).
    """
    words = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    )
    wcnt = words.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    return wcnt.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("word_cnt"),
        F.max("cnt").cast("bigint").alias("top_word_cnt"),
        F.floor(F.max("cnt").cast("double") / F.sum("cnt") * 10000)
        .cast("bigint")
        .alias("top_share_bp"),
        F.floor((1 - F.count("*").cast("double") / F.sum("cnt")) * 10000)
        .cast("bigint")
        .alias("dup_word_bp"),
    )


@query(
    "q_domain_resample",
    oracle="""
    WITH n AS (
      SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(n_s) AS min_n FROM n),
    caps AS (
      SELECT source,
             CAST(floor(sqrt(CAST(n_s * min_n AS DOUBLE))) AS BIGINT) AS cap
      FROM n, m
    ),
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source, (r.rn <= c.cap) AS kept
    FROM r JOIN caps c USING (source)
    """,
)
def q_domain_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 domain rebalancing: each source keeps
    floor(sqrt(n_s * min_n)) documents — the integer-exact geometric
    mean of its own size and the smallest domain's, i.e. p_s ∝ n_s^τ
    with τ = 0.5, the standard mixture-flattening temperature for
    pretraining corpora (oversized web crawls shrink toward the
    mixture, tiny curated sources keep everything). Membership is a
    content-hash rank, so the kept set is reproducible across engines,
    partitionings, and re-ingestions.

    Determinism: sqrt on a <2^52 integer is correctly rounded IEEE on
    both engines, so floor(sqrt(·)) ≡ isqrt — no libm pow anywhere.

    Scale shape: one tiny per-source count (map-side partials), a
    1-row min broadcast over it, one window exchange keyed by source
    for the content-hash rank, and a broadcast join of the per-source
    caps back onto the ranked docs.
    """
    docs = table(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    m = n.agg(F.min("n_s").alias("min_n"))
    caps = n.crossJoin(F.broadcast(m)).select(
        "source",
        F.floor(F.sqrt((F.col("n_s") * F.col("min_n")).cast("double")))
        .cast("bigint")
        .alias("cap"),
    )
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    r = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rn")
    )
    return r.join(F.broadcast(caps), "source").select(
        "doc_id", "source", (F.col("rn") <= F.col("cap")).alias("kept")
    )


@query("q_bpe_merges")  # rows-only: iterative argmax loop, not one SQL
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 10 learned BPE merges over the documents corpus
    (operators/bpe.py): the tokenizer-training step of the pretraining
    pipeline. The corpus-sized work is one word-frequency aggregate;
    the merge loop runs on the vocabulary-sized distinct-word table
    with a deterministic (count desc, pair lex) tie-break. Rows-only:
    each merge is defined on the output of the previous one — an
    inherently iterative computation no single SQL statement
    expresses; correctness is pinned against a brute-force reference
    implementation in tests/test_text_multimodal.py."""
    from ..operators.bpe import learn_bpe

    merges = learn_bpe(
        table(spark, sf_dir, "documents"), num_merges=10
    )
    return spark.createDataFrame(merges)


@query("q_bpe_encode")  # rows-only: depends on the learned merge loop
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token histogram under a trained BPE tokenizer: learn 10
    merges (q_bpe_merges' loop), ENCODE the corpus with them, and
    report the 50 most frequent tokens — the train->apply round trip
    a real tokenizer pipeline runs (operators/bpe.py encode_words has
    the rank-order merge semantics and the vocabulary-sized scale
    argument: the K merge folds run once per DISTINCT word, never per
    occurrence). Rows-only for the same reason as q_bpe_merges;
    pinned against a pure-python reference encoder in
    tests/test_text_multimodal.py."""
    from ..operators.bpe import encode_corpus_token_counts, learn_bpe

    docs = table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, num_merges=10)
    return encode_corpus_token_counts(docs, merges, top_k=50)


@query(
    "q_assoc_rules",
    # dual-dialect: DISTINCT over the split_part explode replaces
    # list_distinct; the HUGEINT lift row goes through intdiv_exact
    # (DECIMAL(38,0)) — numerator both_df*n*1e4 stays < 2^53 through
    # sf10 (5e5 * 5e5 * 1e4 = 2.5e15) but exactness shouldn't hang on
    # that margin
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT doc_id, token AS w FROM {D.space_tokens()} s
    ),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM items),
    uni AS (
      SELECT w, COUNT(*) AS df FROM items GROUP BY w
    ),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, COUNT(*) AS both_df
      FROM items a JOIN items b
        ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
    )
    SELECT w1, w2, CAST(both_df AS BIGINT) AS both_df,
           CAST({D.intdiv('both_df * 10000', 'n')} AS BIGINT) AS support_bp,
           CAST({D.intdiv('both_df * 10000', 'u1.df')} AS BIGINT)
             AS confidence_bp,
           {D.intdiv_exact('both_df * n * 10000', 'u1.df * u2.df')}
             AS lift_x10000
    FROM pairs
    JOIN uni u1 ON pairs.w1 = u1.w
    JOIN uni u2 ON pairs.w2 = u2.w
    CROSS JOIN n_docs
    WHERE both_df >= 50
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset association rules (the a-priori 2-itemset
    pass): treating each document as a basket of distinct words,
    report support, confidence(w1→w2), and lift for every co-occurring
    pair above a support floor — the market-basket analytics shape,
    and in corpus work the co-occurrence statistic behind collocation
    detection.

    All three metrics are integer floor-divisions of exact counts
    (basis points / ×10000) — no log-PMI, because libm log is not
    correctly rounded and would break cross-engine hashes; lift
    carries the same ordering information.

    Scale shape: distinct (doc, item) pairs → self-join ON doc_id —
    the pair explosion is bounded by (per-doc distinct items)², the
    quadratic-blowup knob every itemset miner exposes; at 100 TB cap
    per-basket cardinality or df-cap hot items first, exactly like the
    n-gram Jaccard inverted index (operators/dedup.py). The support
    floor prunes before the unigram joins; those join a
    vocabulary-sized table, broadcast."""
    items = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    n_docs = items.agg(F.count_distinct("doc_id").alias("n"))
    uni = items.groupBy("w").agg(F.count("*").alias("df"))
    a = items.select("doc_id", F.col("w").alias("w1"))
    b = items.select("doc_id", F.col("w").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("both_df"))
        .filter(F.col("both_df") >= 50)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    out = (
        pairs.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_docs))
    )
    return out.select(
        "w1",
        "w2",
        F.col("both_df").cast("bigint").alias("both_df"),
        F.expr("(both_df * 10000) div n").alias("support_bp"),
        F.expr("(both_df * 10000) div df1").alias("confidence_bp"),
        # lift multiplies TWO corpus-growing counts on each side of the
        # division — int64 dies around 1000x today's corpus; the
        # products run in decimal(38,0) (oracle: HUGEINT), exact
        F.expr(
            "(cast(both_df as decimal(19,0)) * n * 10000)"
            " div (cast(df1 as decimal(19,0)) * df2)"
        ).cast("bigint").alias("lift_x10000"),
    )


# the chi-square term, written once and reused token-identically on
# both engines (registry float discipline: exact BIGINT numerators,
# then one double expression evaluated in a fixed order, floored to
# integer ppb BEFORE summation so the aggregate is order-independent)
_CHI2_TERM = (
    "cast(floor("
    "cast(c * n_all - c_all * n as double) * "
    "cast(c * n_all - c_all * n as double) / "
    "(cast(n as double) * cast(n as double) * "
    "cast(n_all as double) * cast(c_all as double)) "
    "* 1000000000) as bigint)"
)


@query(
    "q_domain_divergence",
    # dual-dialect: regex-run tokenizer re-expressed as the shared
    # gaps-and-islands character explode (dual_sql.py alnum_tokens)
    oracle=f"""
    WITH toks AS (
      SELECT source, tok FROM {D.alnum_tokens(extra_cols="source")} a
    ),
    corpus AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_all
               FROM toks GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM toks),
    per_src AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
                FROM toks GROUP BY source, tok),
    src_tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                FROM toks GROUP BY source),
    grid AS (
      SELECT s.source, s.n, v.c_all, t.n_all, COALESCE(p.c, 0) AS c
      FROM src_tot s
      CROSS JOIN corpus v
      CROSS JOIN tot t
      LEFT JOIN per_src p ON p.source = s.source AND p.tok = v.tok
    )
    SELECT source, n AS n_tokens,
           CAST(SUM({_CHI2_TERM}) AS BIGINT) AS chi2_ppb
    FROM grid GROUP BY source, n
    """,
)
def q_domain_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per domain: chi-square divergence of each
    source's token distribution against the whole corpus — the audit
    that catches a crawl slice whose language suddenly shifts (spam
    injection, template flood) before it trains. Chi-square instead of
    KL because it needs no logarithm: libm log is not identically
    rounded across engines, while +,x,/ and floor are IEEE-exact, so
    each term is floored to integer ppb deterministically and the sum
    is order-independent.

    Plan: one tokenize scan feeds three keyed counts (corpus, per-
    source, totals); the comparison grid is vocabulary x n_sources
    rows — built by broadcasting the tiny source-totals/grand-total
    sides against the corpus vocabulary, never touching raw tokens
    again. At 100 TB the bigint numerator c*n_all needs DECIMAL(38,0)
    once corpus tokens exceed ~3e9 x source tokens; swap documented
    here, shape unchanged."""
    # Row-honest repartition (compressed-duplicate scan-split trap:
    # byte-sized splits serialize the tokenize on 2-3 cores), and ONE
    # shared tokenize for the four keyed consumers below — without the
    # barrier the explode re-executes per consumer. Measured at sf10:
    # 11.9 s → 3.8 s (repartition) → 2.6 s (+ lazy checkpoint).
    toks = (
        table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"[^a-z0-9]+"),
                    lambda w: w != F.lit(""),
                )
            ).alias("tok"),
        )
        .localCheckpoint(eager=False)
    )
    corpus = toks.groupBy("tok").agg(F.count("*").alias("c_all"))
    tot = toks.agg(F.count("*").alias("n_all"))
    per_src = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    src_tot = toks.groupBy("source").agg(F.count("*").alias("n"))
    grid = (
        F.broadcast(src_tot)
        .crossJoin(corpus)
        .crossJoin(F.broadcast(tot))
        .join(per_src, ["source", "tok"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
    )
    return grid.groupBy("source", F.col("n").alias("n_tokens")).agg(
        F.sum(F.expr(_CHI2_TERM)).cast("bigint").alias("chi2_ppb")
    )


@query(
    "q_token_rarity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tok FROM {D.alnum_tokens()} a
    ),
    df AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST({D.intdiv(f"SUM(CAST({D.intdiv('1000000', 'df')} AS BIGINT))",
                          'COUNT(*)')} AS BIGINT) AS rarity_ppm
    FROM tok JOIN df USING (tok)
    GROUP BY doc_id
    """,
)
def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-rarity score per document: the mean inverse document
    frequency of its tokens, in parts-per-million — high scores flag
    documents built from corpus-rare vocabulary (OCR noise, code
    soup, exotica) without any language model. Integer floor
    divisions only, so cross-engine exact — the idf-weighting cousin
    q_tfidf keeps the per-term ranking role.

    Plan: token explode -> vocabulary-sized df aggregate -> df join
    back (AQE-sized: broadcast when it fits, shuffle when it
    doesn't) -> per-doc aggregate."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    df = toks.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    # no broadcast hint: the df table is vocabulary-sized — bounded
    # relative to the corpus but NOT provably under the broadcast
    # threshold at 100 TB; AQE broadcasts it when it fits and falls
    # back to a shuffle join when it doesn't (a forced hint would OOM)
    return (
        toks.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.expr("sum(1000000 div df) div count(*)")
            .cast("bigint")
            .alias("rarity_ppm"),
        )
    )


def boilerplate_profile(docs: DataFrame) -> DataFrame:
    """df-level body of q_boilerplate_ngrams (factored out so tests can
    drive it with duplicated fixtures).

    Plan: distinct-gram explode -> gram-df aggregate -> join back ->
    per-doc aggregate; gram df is the same inverted-index shape the
    dedup family uses, and the >= 10 threshold reads straight off it.

    Two scale defenses, both measured on the sf10 sweep where this
    query took 596 s:

    1. Exact-dup collapse (adaptive, ALGEBRAIC like leakage_profile):
       corpus df(gram) = sum over clusters containing the gram of the
       cluster size (grams are distinct per doc), and every member of
       a cluster has the SAME per-doc profile — so grams are computed
       once per distinct text, df aggregates a cluster-sized table,
       and one content-hash join stamps the profile onto members.
       Linear in corpus size at any duplication level.
    2. Explicit repartition of the gram table before the df join on
       the direct path: natural-language grams repeat across documents
       and compress heavily in shuffle files, so AQE's byte-based
       advisory coalesces the gram-keyed exchanges far below the real
       decompressed work (observed: a 70M-row join squeezed into 2
       partitions running ~2 threads). The same trap
       operators/dedup.py documents; row counts, not compressed
       bytes, are the honest sizing here."""
    from ..operators.dedup import _dup_profile
    from ..operators.ssjoin import word_ngrams

    n_parts = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    members = docs.select(
        "doc_id", F.md5(F.col("text").cast("string")).alias("__th")
    ).localCheckpoint(eager=False)
    boiler = F.sum(F.when(F.col("docs") >= 10, 1).otherwise(0))
    bp = F.expr(
        "sum(CASE WHEN docs >= 10 THEN 1 ELSE 0 END) * 10000 div count(*)"
    )
    if not _dup_profile(members, "__th")[2]:  # dup mass immaterial: direct path
        from ..operators.ssjoin import split_words, word_ngrams_over

        # barrier between split and the gram lambda: an inline split
        # re-evaluates per gram (plan-lint 'slice(split(' finding)
        g = (
            docs.select("doc_id", split_words("text").alias("__ws"))
            .localCheckpoint(eager=False)
            .select(
                "doc_id",
                F.explode(word_ngrams_over(F.col("__ws"), 5)).alias("gram"),
            )
            .repartition(n_parts, "gram")
        )
        df = g.groupBy("gram").agg(F.count("*").cast("bigint").alias("docs"))
        return (
            g.join(df, "gram")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("bigint").alias("n_grams"),
                boiler.cast("bigint").alias("n_boiler"),
                bp.cast("bigint").alias("boiler_bp"),
            )
        )
    sizes = members.groupBy("__th").agg(F.count("*").alias("m"))
    reps = members.groupBy("__th").agg(F.min("doc_id").alias("rid"))
    from ..operators.ssjoin import split_words, word_ngrams_over

    rep_grams = (
        docs.join(reps, F.col("doc_id") == F.col("rid"), "inner")
        .select("__th", split_words("text").alias("__ws"))
        .localCheckpoint(eager=False)  # split↔gram-lambda barrier
        .select(
            "__th", F.explode(word_ngrams_over(F.col("__ws"), 5)).alias("gram")
        )
        .repartition(n_parts, "gram")
        .localCheckpoint(eager=False)
    )
    # corpus df = sum of cluster sizes over clusters containing the
    # gram (grams are distinct per doc, so each member contributes 1)
    df = (
        rep_grams.join(sizes, "__th")
        .groupBy("gram")
        .agg(F.sum("m").cast("bigint").alias("docs"))
    )
    per_rep = (
        rep_grams.join(df, "gram")
        .groupBy("__th")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            boiler.cast("bigint").alias("n_boiler"),
            bp.cast("bigint").alias("boiler_bp"),
        )
    )
    return members.join(per_rep, "__th").select(
        "doc_id", "n_grams", "n_boiler", "boiler_bp"
    )


@query(
    "q_boilerplate_ngrams",
    # dual-dialect (round 8): list-lambda n-gram generation
    # re-expressed through the shared split_part / positioned-
    # tokenizer explodes (functions/dual_sql.py); verified
    # value-identical to the list form at sf0.1
    oracle=f"""
    WITH tokp AS (SELECT doc_id, tok, pos FROM (SELECT g.doc_id, substring(lower(d.text), g.s, g.l) AS tok, ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.s) AS pos FROM (SELECT doc_id, rid, MIN(i) AS s, COUNT(*) AS l       FROM (SELECT doc_id, i, i - ROW_NUMBER() OVER                  (PARTITION BY doc_id ORDER BY i) AS rid             FROM (SELECT doc_id, n.i AS i,                          substring(lower(text), n.i, 1) AS c                   FROM documents JOIN {D.nums_rel(D.MAX_DOC_CHARS)} n                   ON n.i <= length(text)) ch             WHERE (c >= 'a' AND c <= 'z')                OR (c >= '0' AND c <= '9')) al       GROUP BY doc_id, rid) g JOIN documents d ON g.doc_id = d.doc_id) s),
    g AS (
      SELECT DISTINCT a.doc_id,
             a.tok || ' ' || b.tok || ' ' || c.tok || ' '
                   || d.tok || ' ' || e.tok AS gram
      FROM tokp a
      JOIN tokp b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      JOIN tokp c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
      JOIN tokp d ON a.doc_id = d.doc_id AND d.pos = a.pos + 3
      JOIN tokp e ON a.doc_id = e.doc_id AND e.pos = a.pos + 4
    ),
    df AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS docs
           FROM g GROUP BY gram)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN docs >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           CAST(((SUM(CASE WHEN docs >= 10 THEN 1 ELSE 0 END) * 10000) - (SUM(CASE WHEN docs >= 10 THEN 1 ELSE 0 END) * 10000) % (COUNT(*))) / (COUNT(*)) AS BIGINT) AS boiler_bp
    FROM g JOIN df USING (gram)
    GROUP BY doc_id
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-corpus boilerplate detection (C4-style cleaning signal):
    a document's distinct word 5-grams that recur in >= 10 documents
    are boilerplate (headers, footers, templates); the per-doc
    boilerplate ratio drives removal. Differs from
    q_contamination_check (external benchmark membership) — this is
    the corpus audited against itself. See :func:`boilerplate_profile`
    for the plan (algebraic dup collapse + row-honest repartition)."""
    return boilerplate_profile(table(spark, sf_dir, "documents"))


@query(
    "q_bigram_surprisal",
    # dual-dialect: adjacent alnum-run tokens via the positioned
    # tokenizer (with_pos) + a pos/pos+1 self-equi-join
    oracle=f"""
    WITH tokp AS (
      SELECT doc_id, tok, pos FROM {D.alnum_tokens(with_pos=True)} a
    ),
    bg AS (
      SELECT a.doc_id, a.tok AS w1, b.tok AS w2
      FROM tokp a JOIN tokp b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bg GROUP BY w1, w2)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST({D.intdiv(
               f"SUM(CAST({D.intdiv('c1 * 1000000', 'c12')} AS BIGINT))",
               'COUNT(*)')} AS BIGINT) AS surprisal_ppm
    FROM bg JOIN uni USING (w1) JOIN bi USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency score without a model: per document, the mean
    inverse bigram transition probability — c(w1)/c(w1,w2) — in parts
    per million. Fluent text follows common transitions (low score);
    word salad and OCR noise take rare transitions (high score). The
    log-free integer form keeps it oracle-exact; a log-surprisal
    variant is one monotone map away and ranks identically.

    Plan: bigram explode (lag-free: pairs built from the word array
    itself) -> two vocabulary-sized count aggregates -> broadcast
    joins back -> per-doc aggregate."""
    ws = F.filter(
        F.split(F.lower("text"), r"[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    # bigrams as a zip of two shifted slices: each slice references the
    # word array ONCE — an element_at-per-position lambda would embed a
    # copy of the whole split subtree per bigram (the measured 10x trap
    # documented in operators/ssjoin.word_ngrams)
    pairs = F.expr(
        "arrays_zip(slice(__ws, 1, size(__ws) - 1),"
        "           slice(__ws, 2, size(__ws) - 1))"
    )
    bg = (
        table(spark, sf_dir, "documents")
        .select("doc_id", ws.alias("__ws"))
        .filter(F.size("__ws") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    )
    uni = bg.groupBy("w1").agg(F.count("*").cast("bigint").alias("c1"))
    bi = bg.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c12"))
    # no broadcast hints: uni is vocabulary-sized and bi is distinct-
    # bigram-sized — both unbounded at 100 TB; AQE picks broadcast
    # only when they actually fit (a forced hint would OOM on a real
    # corpus). The two count joins share bg's (w1[, w2]) partitioning.
    return (
        bg.join(uni, "w1")
        .join(bi, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.expr("sum(c1 * 1000000 div c12) div count(*)")
            .cast("bigint")
            .alias("surprisal_ppm"),
        )
    )


@query(
    "q_domain_similarity",
    # dual-dialect (round 8): HUGEINT intermediates re-expressed
    # as width-disciplined DECIMAL products (dual_sql.dprod
    # rationale: operand widths sum <= 38 for DuckDB, Spark caps
    # at DECIMAL(38,0) exactly); verified value-identical to the
    # HUGEINT original at sf0.1 and sf1
    oracle=f"""
    WITH tf AS (
      SELECT source, token AS tok, COUNT(*) AS n
      FROM (SELECT doc_id, source, n.i AS pos, split_part(text, ' ', n.i) AS token FROM documents JOIN {D.nums_rel(D.MAX_DOC_WORDS)} n ON n.i <= length(text) - length(replace(text, ' ', '')) + 1) s
      WHERE token <> '' GROUP BY source, token
    ),
    norms AS (
      SELECT source, SUM((CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)))) AS ss FROM tf GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared_tokens,
             SUM((CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0)))) AS num
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, shared_tokens,
           CAST(num AS DOUBLE)
             / sqrt(CAST(na.ss AS DOUBLE) * CAST(nb.ss AS DOUBLE)) AS cos_tf
    FROM pairs
    JOIN norms na ON na.source = src_a
    JOIN norms nb ON nb.source = src_b
    """,
)
def q_domain_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair similarity matrix: cosine of the term-frequency
    vectors of every pair of document sources — the corpus-cartography
    view (which domains overlap, which are distinct) that sits beside
    q_domain_divergence's drift test and q_domain_mixture's weights.

    Shape at scale: the corpus collapses to (source, token, n) in one
    keyed aggregate; the pair join is keyed on token with postings
    bounded by the SOURCE count (each token appears at most once per
    source after the collapse), so the join emits at most
    |sources|^2/2 rows per distinct token and the output is
    |sources|^2-bounded. Dot products and norms are exact
    decimal(38) sums (HUGEINT in the oracle); the cosine is one
    double div-sqrt written token-identically in both engines."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    norms = tf.groupBy("source").agg(
        F.sum(d19("n") * d19("n")).alias("ss")
    )
    a, b = tf.alias("a"), tf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("shared_tokens"),
            F.sum(
                F.col("a.n").cast("decimal(19,0)")
                * F.col("b.n").cast("decimal(19,0)")
            ).alias("num"),
        )
    )
    return (
        pairs.join(
            F.broadcast(
                norms.select(
                    F.col("source").alias("src_a"), F.col("ss").alias("ss_a")
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                norms.select(
                    F.col("source").alias("src_b"), F.col("ss").alias("ss_b")
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_tokens",
            (
                F.col("num").cast("double")
                / F.sqrt(
                    F.col("ss_a").cast("double") * F.col("ss_b").cast("double")
                )
            ).alias("cos_tf"),
        )
    )


@query(
    "q_containment_screen",
    # dual-dialect (round 8): list-lambda n-gram generation
    # re-expressed through the shared split_part / positioned-
    # tokenizer explodes (functions/dual_sql.py); verified
    # value-identical to the list form at sf0.1
    oracle=f"""
    WITH bg AS (
      SELECT DISTINCT doc_id, split_part(text, ' ', n.i) || ' ' || split_part(text, ' ', n.i + 1) AS g
      FROM (SELECT doc_id, text, length(text) - length(replace(text, ' ', '')) + 1 AS wc FROM documents) d
      JOIN {D.nums_rel(D.MAX_DOC_WORDS - 1)} n ON n.i <= wc - 1
    ),
    bench AS (
      SELECT doc_id AS bench_id, g FROM bg WHERE doc_id % 97 = 0
    ),
    train AS (SELECT doc_id, g FROM bg WHERE doc_id % 97 <> 0),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
    ),
    inter AS (
      SELECT t.doc_id, b.bench_id, COUNT(*) AS n_shared
      FROM train t JOIN bench b ON t.g = b.g
      GROUP BY t.doc_id, b.bench_id
    )
    SELECT i.doc_id, i.bench_id,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(s.n_grams AS BIGINT) AS n_grams,
           CAST(((i.n_shared * 10000) - (i.n_shared * 10000) % (s.n_grams)) / (s.n_grams) AS BIGINT) AS containment_bp
    FROM inter i JOIN sizes s ON s.doc_id = i.doc_id
    WHERE i.n_shared * 10 >= s.n_grams
    """,
)
def q_containment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment contamination screen: training
    documents whose DISTINCT word-bigram set is >= 10 % contained in
    some benchmark document (the %97 eval cut, as in
    q_contamination_check). Containment |T∩B|/|T| is the right
    measure when the eval item is embedded in a longer training doc —
    Jaccard divides by the union and never fires. Bigrams, not single
    tokens, carry the candidate bar: unigram postings on a natural
    vocabulary make nearly every doc pair a candidate (measured: the
    unigram form produced a 22M-row intermediate at sf1), while
    bigram overlap between unrelated documents is rare, so the
    candidate aggregate stays sparse.

    Why this scales where a general containment JOIN cannot: set-
    containment has no symmetric prefix filter (a 1-token probe set
    forces indexing the entire other side), but contamination
    screening is asymmetric BY NATURE — the benchmark side is
    eval-suite-sized, so its token table broadcasts and the corpus
    side streams map-side through one token-keyed aggregate. Exact
    integers end-to-end (cross-multiplied threshold, bp via integer
    division)."""
    from ..operators.dedup import _dup_profile

    # row-honest repartition before the CPU-heavy bigram explode: the
    # documents file is few input splits and byte-tiny relative to its
    # per-row compute, so without this the whole gram build runs on
    # two cores (the operators/dedup.py byte-based-sizing trap;
    # observed live at sf10). Join strategy is left to AQE throughout
    # (the q_contamination_check lesson): a REAL benchmark side is
    # eval-suite-sized and broadcasts from measured bytes; a corpus-
    # growing side shuffles on the gram key instead of OOMing the
    # driver.
    par = spark.sparkContext.defaultParallelism
    src = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    members = src.select(
        "doc_id", F.md5(F.col("text").cast("string")).alias("__th")
    ).localCheckpoint(eager=False)
    out_cols = lambda df: df.filter(  # noqa: E731
        F.col("n_shared") * 10 >= F.col("n_grams")
    ).select(
        "doc_id",
        "bench_id",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.expr("(n_shared * 10000) div n_grams")
        .cast("bigint")
        .alias("containment_bp"),
    )
    if not _dup_profile(members, "__th")[2]:  # dup mass immaterial: direct path
        grams = src.select(
            "doc_id", F.split("text", " ").alias("words")
        ).select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_BIGRAMS))).alias("g"),
        )
        bench = grams.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("bench_id"), "g"
        )
        train = grams.filter(F.col("doc_id") % 97 != 0)
        sizes = train.groupBy("doc_id").agg(
            F.count("*").alias("n_grams")
        )
        inter = (
            train.join(bench, "g")
            .groupBy("doc_id", "bench_id")
            .agg(F.count("*").alias("n_shared"))
        )
        return out_cols(inter.join(sizes, "doc_id"))
    # exact-dup collapse (the contamination_pairs move):
    # containment is text-pure, so the gram join, the size table, AND
    # the threshold all evaluate at cluster level — only PASSING
    # cluster pairs expand to members, so candidate work is
    # distinct-text-bounded and expansion is output-bound (the direct
    # path paid dup^2 in the aggregate: measured 405 s / 441M rows at
    # sf10; cluster-level the same answer streams from ~4.5k pairs)
    reps = members.groupBy("__th").agg(F.min("doc_id").alias("rid"))
    rep_grams = (
        src.join(reps, F.col("doc_id") == F.col("rid"), "inner")
        .select("__th", F.split("text", " ").alias("words"))
        .select(
            "__th",
            F.explode(F.array_distinct(F.expr(_BIGRAMS))).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    sizes_th = rep_grams.groupBy("__th").agg(
        F.count("*").alias("n_grams")
    )
    directed = (
        rep_grams.select(F.col("__th").alias("__th_t"), "g")
        .join(rep_grams.select(F.col("__th").alias("__th_b"), "g"), "g")
        .groupBy("__th_t", "__th_b")
        .agg(F.count("*").alias("n_shared"))
    )
    passing = directed.join(
        sizes_th.select(
            F.col("__th").alias("__th_t"), "n_grams"
        ),
        "__th_t",
    ).filter(F.col("n_shared") * 10 >= F.col("n_grams"))
    train_m = members.filter(F.col("doc_id") % 97 != 0).select(
        F.col("__th").alias("__th_t"), "doc_id"
    )
    bench_m = members.filter(F.col("doc_id") % 97 == 0).select(
        F.col("__th").alias("__th_b"), F.col("doc_id").alias("bench_id")
    )
    return out_cols(passing.join(train_m, "__th_t").join(bench_m, "__th_b"))


@query(
    "q_dsir_select",
    # dual-dialect: shared tokenizer + positional hex decode — the
    # 15-hex-digit value mod 256 only depends on its last two digits,
    # so hex_int(substring(md5, 14, 2)) is the same bucket without the
    # (Spark-NULL) hex-string CAST
    oracle=f"""
    WITH tb AS (
      SELECT doc_id, source,
             {D.hex_int('substring(md5(tok), 14, 2)', 2)} % 256 AS bucket
      FROM {D.alnum_tokens(extra_cols="source")} a
    ),
    tot AS (
      SELECT SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS tt,
             SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS tr
      FROM tb
    ),
    lam AS (
      SELECT bucket,
             CAST(round((ln((SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                             + 1.0) / CAST(tot.tt + 256 AS DOUBLE))
                       - ln((SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                             + 1.0) / CAST(tot.tr + 256 AS DOUBLE)))
                        * 1000000, 0) AS BIGINT) AS lam_micro
      FROM tb CROSS JOIN tot
      GROUP BY bucket, tot.tt, tot.tr
    ),
    per_doc AS (
      SELECT doc_id, bucket, COUNT(*) AS c
      FROM tb WHERE source <> 'src0' GROUP BY doc_id, bucket
    )
    SELECT d.doc_id,
           CAST(SUM(d.c * l.lam_micro) AS BIGINT) AS weight_micro
    FROM per_doc d JOIN lam l USING (bucket)
    GROUP BY d.doc_id
    ORDER BY weight_micro DESC, doc_id
    LIMIT 50
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw-pool document by how much more
    likely its hashed-unigram bag is under the target domain ('src0')
    than under the raw pool, and take the top 50. The deterministic
    rank-by-weight variant of the paper's Gumbel-top-k — reproducible
    across engines, which is what the oracle checks.

    Numeric discipline: per-bucket log-ratios (add-1 smoothed, natural
    log of identical IEEE doubles on both engines) are quantized ONCE
    to integer micro-units — round(λ·1e6) — so the per-document score
    is an exact integer dot product; engine float-summation order can
    never leak into the ranking (same pattern as q_label_centroids).

    Scale shape: the exploded token stream is consumed EXACTLY ONCE,
    by one (class, doc, bucket)-keyed count with map-side combine;
    the bucket distributions and grand totals then roll up from that
    pre-aggregate (doc-count-bounded, then 256 rows, then 1 row — a
    lazy localCheckpoint materializes it so its two consumers don't
    re-run the explode, measured 49.7 s → ~17 s at sf10). The
    log-ratio table is a ~256-row broadcast; the final score is one
    doc-keyed integer aggregate. All keys uniform (md5 buckets), no
    skew. At 100 TB the bucket count B is the only knob (the paper
    uses 10k buckets).
    """
    # row-honest repartition: duplicated text compresses ~100:1, so
    # byte-based split sizing reads the corpus as a handful of
    # partitions and the explode+md5 map side loses the machine (the
    # same AQE trap q_boilerplate_ngrams hit; measured 2 partitions at
    # sf10 → 47 s, 32 partitions → map side fully parallel)
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    b = F.lit(256)
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"[^a-z0-9]+"), lambda t: t != F.lit("")
            )
        ).alias("tok"),
    )
    tb = toks.select(
        "doc_id",
        (F.col("source") == "src0").alias("is_t"),
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint"), b
        ).alias("bucket"),
    )
    per_all = (
        tb.groupBy("is_t", "doc_id", "bucket")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    dist = per_all.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("is_t"), F.col("c")).otherwise(0)).alias("cr"),
    )
    tot = dist.agg(
        F.sum("ct").alias("tt"),
        F.sum("cr").alias("tr"),
    )
    lam = dist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + 256).cast("double"))
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + 256).cast("double"))
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("lam_micro"),
    )
    per_doc = per_all.filter(~F.col("is_t")).select("doc_id", "bucket", "c")
    w = (
        per_doc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lam_micro")).cast("bigint").alias("weight_micro"))
    )
    return w.orderBy(F.col("weight_micro").desc(), "doc_id").limit(50)


@query(
    "q_char_entropy",
    # dual-dialect: character explode via substring + numbers join
    # (fixture texts are newline-free, so this equals the old
    # regexp_extract_all(text, '.') form; pinned in test_sql_text)
    oracle=f"""
    WITH ch AS (
      SELECT doc_id, substring(text, n.i, 1) AS c
      FROM documents JOIN {D.nums_rel(D.MAX_DOC_CHARS)} n
        ON n.i <= length(text)
    ),
    cnt AS (
      SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(k) AS BIGINT) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CAST(round(k * ln(CAST(k AS DOUBLE)) * 1000000, 0)
                           AS BIGINT)) AS BIGINT) AS s_micro
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_chars, n_distinct,
           CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000, 0) AS BIGINT)
             - CAST({D.intdiv('s_micro', 'n_chars')} AS BIGINT)
             AS entropy_micro_nats
    FROM agg
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy screen (the CCNet/Gopher-style
    noise signal: near-zero entropy = boilerplate/padding, abnormally
    high = binary junk). H = ln(n) - (1/n)·Σ cᵢ·ln(cᵢ), reported in
    integer micro-nats.

    Numeric discipline: each cᵢ·ln(cᵢ) term is quantized to integer
    micro-units BEFORE the sum (counts are exact integers on both
    engines, so the per-term doubles are identical), making the
    aggregate an exact integer sum and the final value integer
    arithmetic — summation order cannot perturb the result (same
    pattern as q_dsir_select / q_label_centroids).

    Scale shape: char explode → one (doc, char)-keyed count with
    map-side combine (the char alphabet bounds per-doc state), then a
    doc-keyed rollup. Linear; the row-honest repartition guards the
    map side against byte-based under-parallelism on duplicated
    corpora."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    ch = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("."), 0)).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(
            F.round(F.col("k") * F.log(F.col("k").cast("double")) * 1000000, 0)
            .cast("bigint")
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    return agg.select(
        "doc_id",
        "n_chars",
        "n_distinct",
        (
            F.round(F.log(F.col("n_chars").cast("double")) * 1000000, 0)
            .cast("bigint")
            - F.expr("s_micro div n_chars")
        ).alias("entropy_micro_nats"),
    )


@query(
    "q_segment_dedup_clean",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    seg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
             array_to_string(list_slice(ws, (i-1)*10+1, i*10), ' ') AS seg
      FROM w, UNNEST(range(1, CAST(ceil(len(ws)/10.0) AS BIGINT) + 1)) AS t(i)
    ),
    f AS (SELECT seg, COUNT(*) AS cnt,
                 -- struct MIN = lexicographic (doc_id, seg_idx) min:
                 -- exactly the engine's F.min(F.struct(...)), with no
                 -- encoding bound (the earlier doc_id*100000+seg_idx
                 -- key collided for docs with >=100000 segments)
                 MIN({'d': doc_id, 's': seg_idx}) AS fk
          FROM seg GROUP BY seg),
    k AS (SELECT s.doc_id, s.seg_idx, s.seg,
                 (f.cnt = 1 OR (s.doc_id = f.fk.d AND s.seg_idx = f.fk.s))
                   AS keep
          FROM seg s JOIN f USING (seg))
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
                               ORDER BY seg_idx), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM k GROUP BY doc_id
    """,
)
def q_segment_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment dedup as a cleaned-corpus TRANSFORM (not an
    audit): every 10-word segment occurring more than once corpus-wide
    survives only at its first (doc, position) occurrence; documents
    are reconstructed from their surviving segments. The one
    curation op the audit family (q_boilerplate_ngrams flags,
    q_repetition_stats scores) didn't have — the output IS the
    cleaned training corpus. Plan notes on the skew-safe
    aggregate-then-join shape in operators/dedup.py
    segment_dedup_clean."""
    from ..operators.dedup import segment_dedup_clean

    return segment_dedup_clean(table(spark, sf_dir, "documents"))
