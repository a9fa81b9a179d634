"""Training-data assembly queries (SURVEY.md §2.11 north star): the
steps that turn a curated corpus into model-ready training shards —
sequence packing into fixed context windows, deterministic
train/val/test splitting, per-domain quality filtering, duplicate-
cluster accounting, and hot-key skew profiling.

Everything here is pure JVM column arithmetic (window cumulative sums,
md5 buckets, keyed aggregates); determinism conventions follow the
registry: integer-only outputs (floor/div, basis points), content-hash
membership instead of TABLESAMPLE, and total orderings on key
prefixes wherever a LIMIT appears.

Reference parity: the reference stops at a partitioned lake
(/root/reference/data_collection/dags/stock_data_airflow_local_aws_s3.py:64-76);
these queries extend it downstream to the tokenizer-feed stage a
100 TB pretraining pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import dual_sql as D
from ..registry import query

# whitespace token count as an integer column (the corpus tokenizer
# convention shared with operators/text.py)
_WC = "size(split(text, ' '))"

CONTEXT_TOKENS = 2048


def pack_assignment(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens_col: str,
    capacity: int = CONTEXT_TOKENS,
) -> DataFrame:
    """Concat-and-chunk pack assignment: within each ``group_col``,
    rows are laid end-to-end in ``order_col`` order and sliced into
    fixed ``capacity``-token windows. Adds ``pack_id`` (the window the
    row starts in) and ``pack_offset`` (its position inside it).

    One cumulative-sum window partitioned by group — the packing is
    embarrassingly parallel across groups and integer-exact, so any
    engine (or a later incremental run) reproduces the same layout."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return (
        df.withColumn("__cb", cum_before)
        .withColumn("pack_id", F.expr(f"__cb div {int(capacity)}"))
        .withColumn("pack_offset", F.col("__cb") % int(capacity))
        .drop("__cb")
    )


@query(
    "q_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum_before - cum_before % {CONTEXT_TOKENS})
                / {CONTEXT_TOKENS} AS BIGINT) AS pack_id,
           CAST(cum_before % {CONTEXT_TOKENS} AS BIGINT) AS pack_offset
    FROM c
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per source domain, documents
    are laid end-to-end in doc_id order and sliced into fixed
    2048-token context windows; each doc reports the window it starts
    in and its token offset inside it (a doc may spill into the
    next window — that's the GPT-style packing convention, no padding
    waste).

    Scale shape: ONE cumulative-sum window partitioned by source — the
    same per-key exchange every other per-domain op uses, no global
    ordering anywhere. At 100 TB the pack assignment is embarrassingly
    parallel per domain; the output is the shard-writer's input."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(_WC).cast("bigint").alias("n_tokens"),
    )
    return pack_assignment(docs, "source", "doc_id", "n_tokens")


@query(
    "q_train_split",
    oracle="""
    WITH s AS (
      SELECT source,
             CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM s
    GROUP BY source, split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by content
    hash: the first two hex chars of md5(text) partition [0x00, 0xff]
    at 0xcc (204/256 ≈ 79.7 %) and 0xe6 (26/256 ≈ 10.2 %). Content
    hashing (not doc_id, not TABLESAMPLE) keeps the assignment stable
    under re-ingestion, re-partitioning, and engine changes, and sends
    exact duplicates to the same split — no train/test leakage through
    dup pairs. Output: per (source, split) doc and token counts.

    Scale shape: one narrow map + one small two-key aggregate."""
    bucket = F.substring(F.md5("text"), 1, 2)
    split = (
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            split.alias("split"),
            F.expr(_WC).cast("bigint").alias("n_tokens"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


@query(
    "q_train_split_exact",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
)
def q_train_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion 80/10/10 split per source: rank docs by content
    hash within each domain and cut at 80 %/90 % — guaranteed stratum
    proportions (integer rank arithmetic, no binomial variance),
    unlike `q_train_split`'s hash-threshold assignment.

    The trade-off both variants document: hash-threshold keeps exact
    duplicates in the same split and is stable under corpus growth but
    only hits proportions in expectation; rank-cut hits proportions
    exactly but adjacent-ranked dup twins can straddle a cut and any
    insertion reshuffles ranks. Run exact-split AFTER dedup (the
    corpus-to-shards pipeline order) and the straddle case vanishes.

    Scale shape: one window exchange per source (rank and count share
    it) — same shape as the quality gate."""
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    wn = Window.partitionBy("source")
    r = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    split = (
        F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
    )
    return r.select("doc_id", "source", split.alias("split"))


@query(
    "q_quality_filter",
    # dual-dialect: TTR from keyed aggregates over the split_part
    # explode (COUNT(*) per doc = field count, incl. empty fields —
    # same as len(string_split))
    oracle=f"""
    WITH m AS (
      SELECT d.doc_id, d.source,
             CAST(floor(CAST(t.n_dw AS DOUBLE) / t.n_w * 10000) AS BIGINT)
               AS ttr_bp
      FROM documents d JOIN (
        SELECT doc_id, COUNT(DISTINCT token) AS n_dw, COUNT(*) AS n_w
        FROM {D.space_tokens()} s GROUP BY doc_id
      ) t ON d.doc_id = t.doc_id
    ),
    r AS (
      SELECT doc_id, source, ttr_bp,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY ttr_bp DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM m
    )
    SELECT doc_id, source, ttr_bp FROM r WHERE rn * 2 <= n
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality gate: keep the top half of each source by
    type-token ratio (integer basis points, ties broken by doc_id so
    the cut is total-ordered and engine-independent). The quantile is
    taken *within* each domain — a global cut would silently drop
    whole low-TTR domains from the mixture.

    Scale shape: one window exchange partitioned by source (rank +
    per-partition count share it); integer-only comparisons, no
    percent_rank floats near the boundary."""
    m = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.floor(
            F.size(F.array_distinct(F.split("text", " "))).cast("double")
            / F.size(F.split("text", " "))
            * 10000
        ).cast("bigint").alias("ttr_bp"),
    )
    w = Window.partitionBy("source").orderBy(F.col("ttr_bp").desc(), "doc_id")
    wn = Window.partitionBy("source")
    r = m.select(
        "doc_id",
        "source",
        "ttr_bp",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return r.filter(F.col("rn") * 2 <= F.col("n")).select(
        "doc_id", "source", "ttr_bp"
    )


@query(
    "q_dup_cluster_stats",
    oracle="""
    WITH c AS (
      SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM documents GROUP BY h
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM c GROUP BY cluster_size
    """,
)
def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how much of the corpus sits in
    exact-duplicate clusters of each size — the number a dedup pass is
    judged by ("dropping non-canonical members removes X % of docs").

    Scale shape: two keyed aggregates, the second over at most one row
    per distinct document — partial (map-side) aggregation absorbs the
    heavy first groupBy, and the histogram is tiny."""
    clusters = (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("h"))
        .agg(F.count("*").alias("cluster_size"))
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).alias("n_docs"),
    )


@query(
    "q_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY md5(text), doc_id) AS BIGINT)
               AS train_pos
    FROM documents
    """,
)
def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training order: every document gets an
    exact 1-based position in a content-hash shuffle (ORDER BY
    md5(text), doc_id). Pretraining wants the corpus well-mixed but
    REPRODUCIBLE — the same corpus must yield the same batch sequence
    on any engine, any partitioning, any rerun; rand() gives none of
    that.

    Scale shape: the distributed two-phase global rank
    (operators/ranking.py) — range partition on the hash, per-slice
    row_number + offset map — no SinglePartition window anywhere."""
    from ..operators.ranking import _with_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("__h")
    )
    ranked, _ = _with_global_rank(
        docs, [F.col("__h"), F.col("doc_id")], "train_pos"
    )
    return ranked.select(
        "doc_id", F.col("train_pos").cast("bigint").alias("train_pos")
    )


@query("q_dedup_incremental")  # rows-only: filesystem side effect
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup exercised end-to-end: build the
    persisted MinHash-LSH index over the standing corpus (docs with
    doc_id % 5 != 0), probe the remaining ~20 % as the arriving
    batch, and return its near-dup hits against the corpus — the
    O(batch)-per-ingest path that replaces O(corpus²) re-dedup
    (operators/dedup.py minhash_index_write/probe; measured in
    tools/scale_sweep_dedup.py). Rows-only: the oracle cannot observe
    the filesystem side effect."""
    import os
    import tempfile

    from ..operators.dedup import minhash_index_probe, minhash_index_write

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    os.makedirs(scratch, exist_ok=True)
    path = os.path.join(tempfile.mkdtemp(dir=scratch, prefix="mh_idx_"), "idx")

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    minhash_index_write(docs.filter(F.col("doc_id") % 5 != 0), path)
    return minhash_index_probe(docs.filter(F.col("doc_id") % 5 == 0), path)


@query(
    "q_heavy_keys",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM k
    )
    SELECT user_id, cnt,
           CAST(((cnt * 10000) - (cnt * 10000) % total) / total
                AS BIGINT) AS share_bp,
           CAST(((cnt * n_keys * 100) - (cnt * n_keys * 100) % total)
                / total AS BIGINT) AS skew_x100
    FROM k, t
    ORDER BY cnt DESC, user_id
    LIMIT 20
    """,
)
def q_heavy_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew profile of the events stream: the 20 heaviest
    user_ids with their share of all events (basis points) and their
    multiple of the mean per-key load (×100) — the diagnostic that
    decides whether a downstream join needs salting
    (operators/skew.py) before it hits the cliff.

    Scale shape: one keyed count (map-side partials absorb the heavy
    keys themselves), a 1-row grand total broadcast back over the key
    table, then TakeOrderedAndProject — the full key table never sorts
    globally."""
    k = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    t = k.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        k.crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "cnt",
            F.expr("(cnt * 10000) div total").alias("share_bp"),
            F.expr("(cnt * n_keys * 100) div total").alias("skew_x100"),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(20)
    )


_FIVEGRAMS = (
    "CASE WHEN size(words) >= 5 THEN "
    "transform(sequence(1, size(words) - 4), "
    "i -> array_join(slice(words, i, 5), ' ')) "
    "ELSE array() END"
)


def leakage_profile(docs: DataFrame) -> DataFrame:
    """df-level body of q_split_leakage (factored out so tests can
    drive it with duplicated fixtures).

    Scale shape: 5-grams are distinct-per-doc before the join (bounds
    posting duplication). The eval side is ~20 % of the corpus — it
    grows WITH the corpus, so the join strategy is deliberately left
    to AQE: at small scale AQE broadcasts it from measured runtime
    bytes (faster than the hint ever was: 1.04 s vs 1.43 s at sf0.1),
    and at corpus scale it shuffles on the gram key — the only plan
    that survives 100 TB, where a forced broadcast of 20 % of the
    corpus is a driver OOM.

    Exact-duplicate collapse (adaptive, ALGEBRAIC — stronger than the
    pair expansion of operators/dedup.py ``_expand_members`` because
    this query's output is per-eval-doc aggregates, not pairs): the
    split is a function of md5(text), so every member of an exact-dup
    cluster shares one split label, and for an eval doc e in cluster E the
    answer is pure cluster-level algebra over train clusters T —

        n_train_docs(e)   = sum_T  m_T * [shared(T, E) > 0]
        n_shared_grams(e) = sum_T  m_T * shared(T, E)

    (m_T = cluster size, shared = gram overlap between the two
    distinct texts). So when the profile (operators/dedup.py
    ``_dup_profile``) engages the collapse, the gram join runs once
    per distinct-text pair, the two sums aggregate a cluster-sized table, and members
    are stamped on by one content-hash join — the whole path is
    LINEAR in corpus size even though the direct pipeline's
    intermediate match set grows quadratically in duplication (the
    direct path's per-gram fan-out is m^2 per cluster; measured 5.5x
    time for 10x data on the fully-duplicated sf1 fixture)."""
    from ..operators.dedup import _dup_profile

    bucket = F.substring(F.md5("text"), 1, 2)
    split = (
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    )
    members = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("string")).alias("__th"),
        split.alias("split"),
    ).localCheckpoint(eager=False)
    if not _dup_profile(members, "__th")[2]:  # dup mass immaterial: direct path
        grams = docs.select(
            "doc_id",
            split.alias("split"),
            F.split("text", " ").alias("words"),
        ).select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(F.expr(_FIVEGRAMS))).alias("g"),
        )
        train = grams.filter(F.col("split") == "train").select(
            F.col("doc_id").alias("train_doc_id"), "g"
        )
        eval_ = grams.filter(F.col("split") != "train").select(
            F.col("doc_id").alias("eval_doc_id"), "g"
        )
        return (
            train.join(eval_, "g")
            .groupBy("eval_doc_id")
            .agg(
                F.count_distinct("train_doc_id").alias("n_train_docs"),
                F.count("*").alias("n_shared_grams"),
            )
        )
    sizes = members.groupBy("__th").agg(
        F.count("*").alias("m"), F.first("split").alias("split")
    )
    reps = members.groupBy("__th").agg(F.min("doc_id").alias("rid"))
    rep_grams = (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        .join(reps, F.col("doc_id") == F.col("rid"), "inner")
        .join(sizes.select("__th", "split"), "__th")
        .select(
            "__th",
            "split",
            F.explode(F.array_distinct(F.expr(_FIVEGRAMS))).alias("g"),
        )
        .localCheckpoint(eager=False)
    )
    shared = (
        rep_grams.filter(F.col("split") == "train")
        .select(F.col("__th").alias("__th_t"), "g")
        .join(
            rep_grams.filter(F.col("split") != "train").select(
                F.col("__th").alias("__th_e"), "g"
            ),
            "g",
        )
        .groupBy("__th_t", "__th_e")
        .agg(F.count("*").alias("shared"))
    )
    per_eval_cluster = (
        shared.join(
            sizes.select(F.col("__th").alias("__th_t"), F.col("m").alias("m_t")),
            "__th_t",
        )
        .groupBy("__th_e")
        .agg(
            F.sum("m_t").alias("n_train_docs"),
            F.sum(F.col("shared") * F.col("m_t")).alias("n_shared_grams"),
        )
    )
    return (
        members.filter(F.col("split") != "train")
        .select(F.col("__th").alias("__th_e"), F.col("doc_id").alias("eval_doc_id"))
        .join(per_eval_cluster, "__th_e")
        .select("eval_doc_id", "n_train_docs", "n_shared_grams")
    )


@query(
    "q_split_leakage",
    # dual-dialect: word 5-grams as five split_part cuts per start
    # position (SELECT DISTINCT replaces list_distinct)
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, text,
             length(text) - length(replace(text, ' ', '')) + 1 AS wc,
             CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, split,
             split_part(text, ' ', n.i) || ' '
             || split_part(text, ' ', n.i + 1) || ' '
             || split_part(text, ' ', n.i + 2) || ' '
             || split_part(text, ' ', n.i + 3) || ' '
             || split_part(text, ' ', n.i + 4) AS g
      FROM labeled JOIN {D.nums_rel(D.MAX_DOC_WORDS - 4)} n
        ON n.i <= wc - 4
    )
    SELECT e.doc_id AS eval_doc_id,
           CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM grams t JOIN grams e USING (g)
    WHERE t.split = 'train' AND e.split <> 'train'
    GROUP BY eval_doc_id
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: for every val/test document, how many
    training documents share a word 5-gram with it, and how many
    (gram, train-doc) collisions there are in total. The content-hash
    split already pins exact duplicates to one side; this catches the
    NEAR-duplicate leakage the split cannot see — the decontamination
    gate run before an eval set is trusted. See :func:`leakage_profile`
    for the plan (adaptive algebraic dup collapse + AQE-decided join).
    """
    return leakage_profile(table(spark, sf_dir, "documents"))


@query(
    "q_chunk_windows",
    # dual-dialect (round 8): 64-word windows at stride 48 via a
    # flat concat_ws over split_part cuts (see q_udtf_chunk_text)
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) - length(replace(text, ' ', '')) + 1 AS wc FROM documents)
    SELECT doc_id,
           CAST(n.i - 1 AS BIGINT) AS chunk_idx,
           CAST(least(64, wc - (n.i - 1) * 48) AS BIGINT) AS chunk_len,
           rtrim(concat_ws(' ', split_part(text, ' ', (n.i - 1) * 48 + 1 + 0), split_part(text, ' ', (n.i - 1) * 48 + 1 + 1), split_part(text, ' ', (n.i - 1) * 48 + 1 + 2), split_part(text, ' ', (n.i - 1) * 48 + 1 + 3), split_part(text, ' ', (n.i - 1) * 48 + 1 + 4), split_part(text, ' ', (n.i - 1) * 48 + 1 + 5), split_part(text, ' ', (n.i - 1) * 48 + 1 + 6), split_part(text, ' ', (n.i - 1) * 48 + 1 + 7), split_part(text, ' ', (n.i - 1) * 48 + 1 + 8), split_part(text, ' ', (n.i - 1) * 48 + 1 + 9), split_part(text, ' ', (n.i - 1) * 48 + 1 + 10), split_part(text, ' ', (n.i - 1) * 48 + 1 + 11), split_part(text, ' ', (n.i - 1) * 48 + 1 + 12), split_part(text, ' ', (n.i - 1) * 48 + 1 + 13), split_part(text, ' ', (n.i - 1) * 48 + 1 + 14), split_part(text, ' ', (n.i - 1) * 48 + 1 + 15), split_part(text, ' ', (n.i - 1) * 48 + 1 + 16), split_part(text, ' ', (n.i - 1) * 48 + 1 + 17), split_part(text, ' ', (n.i - 1) * 48 + 1 + 18), split_part(text, ' ', (n.i - 1) * 48 + 1 + 19), split_part(text, ' ', (n.i - 1) * 48 + 1 + 20), split_part(text, ' ', (n.i - 1) * 48 + 1 + 21), split_part(text, ' ', (n.i - 1) * 48 + 1 + 22), split_part(text, ' ', (n.i - 1) * 48 + 1 + 23), split_part(text, ' ', (n.i - 1) * 48 + 1 + 24), split_part(text, ' ', (n.i - 1) * 48 + 1 + 25), split_part(text, ' ', (n.i - 1) * 48 + 1 + 26), split_part(text, ' ', (n.i - 1) * 48 + 1 + 27), split_part(text, ' ', (n.i - 1) * 48 + 1 + 28), split_part(text, ' ', (n.i - 1) * 48 + 1 + 29), split_part(text, ' ', (n.i - 1) * 48 + 1 + 30), split_part(text, ' ', (n.i - 1) * 48 + 1 + 31), split_part(text, ' ', (n.i - 1) * 48 + 1 + 32), split_part(text, ' ', (n.i - 1) * 48 + 1 + 33), split_part(text, ' ', (n.i - 1) * 48 + 1 + 34), split_part(text, ' ', (n.i - 1) * 48 + 1 + 35), split_part(text, ' ', (n.i - 1) * 48 + 1 + 36), split_part(text, ' ', (n.i - 1) * 48 + 1 + 37), split_part(text, ' ', (n.i - 1) * 48 + 1 + 38), split_part(text, ' ', (n.i - 1) * 48 + 1 + 39), split_part(text, ' ', (n.i - 1) * 48 + 1 + 40), split_part(text, ' ', (n.i - 1) * 48 + 1 + 41), split_part(text, ' ', (n.i - 1) * 48 + 1 + 42), split_part(text, ' ', (n.i - 1) * 48 + 1 + 43), split_part(text, ' ', (n.i - 1) * 48 + 1 + 44), split_part(text, ' ', (n.i - 1) * 48 + 1 + 45), split_part(text, ' ', (n.i - 1) * 48 + 1 + 46), split_part(text, ' ', (n.i - 1) * 48 + 1 + 47), split_part(text, ' ', (n.i - 1) * 48 + 1 + 48), split_part(text, ' ', (n.i - 1) * 48 + 1 + 49), split_part(text, ' ', (n.i - 1) * 48 + 1 + 50), split_part(text, ' ', (n.i - 1) * 48 + 1 + 51), split_part(text, ' ', (n.i - 1) * 48 + 1 + 52), split_part(text, ' ', (n.i - 1) * 48 + 1 + 53), split_part(text, ' ', (n.i - 1) * 48 + 1 + 54), split_part(text, ' ', (n.i - 1) * 48 + 1 + 55), split_part(text, ' ', (n.i - 1) * 48 + 1 + 56), split_part(text, ' ', (n.i - 1) * 48 + 1 + 57), split_part(text, ' ', (n.i - 1) * 48 + 1 + 58), split_part(text, ' ', (n.i - 1) * 48 + 1 + 59), split_part(text, ' ', (n.i - 1) * 48 + 1 + 60), split_part(text, ' ', (n.i - 1) * 48 + 1 + 61), split_part(text, ' ', (n.i - 1) * 48 + 1 + 62), split_part(text, ' ', (n.i - 1) * 48 + 1 + 63))) AS chunk_text
    FROM d JOIN (SELECT a.x + 4 * b.y AS i FROM (VALUES (1),(2),(3),(4)) AS a(x) CROSS JOIN (VALUES (0)) AS b(y)) n
      ON (n.i - 1) * 48 + 1 <= wc
    """,
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: every document is cut into
    64-word windows with stride 48 (16-word overlap, so no sentence is
    orphaned at a boundary) — the retrieval-corpus prep step between
    curation and embedding. Emits the chunk index, its exact word
    count, and the chunk text itself (the embedder's input).

    Scale shape: one narrow projection + a generator explode — zero
    shuffles, embarrassingly parallel per input split. Chunk count per
    doc is ceil(wc / 48), so output size is ~wc/48-linear in corpus
    tokens; the explode never materializes a per-doc quadratic. The
    overlap convention (start positions 1, 49, 97, ... and a clamped
    final slice) is integer arithmetic reproduced exactly by both
    engines."""
    starts = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("words"))
        .withColumn("wc", F.size("words"))
        .select(
            "doc_id",
            "words",
            "wc",
            F.explode(F.expr("sequence(1, wc, 48)")).alias("s"),
        )
    )
    return starts.select(
        "doc_id",
        F.expr("(s - 1) div 48").alias("chunk_idx"),
        F.least(F.lit(64), F.col("wc") - F.col("s") + 1)
        .cast("bigint")
        .alias("chunk_len"),
        F.expr("array_join(slice(words, s, 64), ' ')").alias("chunk_text"),
    )


@query(
    "q_seqlen_histogram",
    oracle="""
    WITH t AS (
      -- split-count == separator-count + 1 exactly (single-char sep),
      -- expressible in the Spark/DuckDB common subset
      SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS BIGINT) AS wc
      FROM documents
    ),
    b AS (
      -- 2^floor(log2(wc)) == 1 << (bit_length - 1); bin() renders
      -- unpadded binary in both engines, no float log near powers of 2
      SELECT wc,
             (1 << (length(bin(wc)) - 1)) AS bucket_lo
      FROM t
    )
    SELECT CAST(bucket_lo AS BIGINT) AS bucket_lo,
           CAST(bucket_lo * 2 - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(wc) AS BIGINT) AS sum_tokens
    FROM b GROUP BY bucket_lo ORDER BY bucket_lo
    """,
)
def q_seqlen_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram in power-of-two buckets — the
    context-window planning profile (how much of the corpus fits a
    2k/4k/8k window, where truncation or packing waste concentrates).
    Bucket [2^k, 2^(k+1)) membership is computed with pure integer
    shifts and comparisons (count of powers of two <= wc), NOT
    floor(log2(wc)) — libm log rounding is not identical across
    engines, shift arithmetic is.

    Scale shape: one narrow map + one ~20-group aggregate with
    map-side partials; nothing here changes at 100x."""
    t = table(spark, sf_dir, "documents").select(
        F.expr(_WC).cast("bigint").alias("wc")
    )
    bits = F.size(
        F.filter(
            F.expr("transform(sequence(0, 20), x -> shiftleft(1, x))"),
            lambda p: p <= F.col("wc"),
        )
    )
    return (
        t.withColumn("bits", bits)
        .withColumn(
            "bucket_lo", F.expr("cast(shiftleft(1, bits - 1) as bigint)")
        )
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"), F.sum("wc").alias("sum_tokens"))
        .select(
            "bucket_lo",
            (F.col("bucket_lo") * 2 - 1).cast("bigint").alias("bucket_hi"),
            "n_docs",
            "sum_tokens",
        )
        .orderBy("bucket_lo")
    )


@query("q_text_search")  # rows-only: BM25 log + filesystem side effect
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text retrieval exercised end-to-end: build the persisted
    inverted index (operators/search.py) over the documents corpus,
    then run a BM25 top-20 keyword query against it — the bucket-
    pruned O(posting lists) path that replaces an O(corpus) scan per
    query. Rows-only: BM25's log() is not identically rounded across
    engines; ranking parity is pinned by tests/test_search.py against
    a pure-python reference scorer."""
    import os
    import tempfile

    from ..operators.search import search_index_query, search_index_write

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/root/repo/.scratch")
    os.makedirs(scratch, exist_ok=True)
    path = os.path.join(
        tempfile.mkdtemp(dir=scratch, prefix="ft_idx_"), "idx"
    )
    search_index_write(table(spark, sf_dir, "documents"), path)
    return search_index_query(
        spark, path, ["data", "stream", "window"], top_k=20
    )


@query(
    "q_group_split",
    oracle="""
    WITH s AS (
      SELECT event_type,
             user_id,
             CASE WHEN substr(md5(CAST(user_id AS STRING)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substr(md5(CAST(user_id AS STRING)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    )
    SELECT split, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM s GROUP BY split, event_type
    """,
)
def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware ~80/10/10 split (the GroupKFold discipline for
    behavioral data): the SPLIT KEY is the user, not the row, so every
    event of a user lands in exactly one split — the leakage mode
    q_train_split's content hashing cannot prevent when near-identical
    rows share an ENTITY rather than a text. Same hex-threshold
    partition of md5 as q_train_split (engine-portable, re-ingestion
    stable); output is the per-(split, event_type) audit a pipeline
    checks before training.

    Scale shape: one narrow map (md5 of the group key rides the scan)
    + one small aggregate whose key space is |splits| x |types|;
    COUNT(DISTINCT user_id) is the only wide state and is bounded by
    the user dimension, with Spark's planner expanding it to a
    two-phase exact distinct. No joins, no skew (md5 uniformizes)."""
    bucket = F.substring(F.md5(F.col("user_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    )
    ev = table(spark, sf_dir, "events").select(
        split.alias("split"), "event_type", "user_id"
    )
    return ev.groupBy("split", "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
