"""Vector similarity operators (SURVEY.md §2.11 L5/L6) over the
``embeddings`` table (64-dim float arrays).

Brute-force dot/cosine stays JVM-side via higher-order array
functions (zip_with + aggregate fold) — no Python boundary, no UDF.
The fold is sequential per row, so double accumulation is
deterministic; DuckDB's list_dot_product folds in the same index
order, and results are rounded to 4 decimals on both sides.

The ANN scale path (LSH bucketing) lives in operators/similarity.py
(rows-only query q_ann_lsh).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query


def dot(a: Column | str, b: Column | str) -> Column:
    """JVM-side dot product of two float array columns, in double."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(dot(a, a))


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> DataFrame:
    return (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select(F.col("embedding").alias("qvec"))
    )


@query(
    "q_vector_dot",
    oracle="""
    SELECT e.vec_id,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[])), 4) AS dot
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    """,
)
def q_vector_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force dot product of every embedding against a query
    vector (L5). The single-row query side is broadcast; the scan side
    streams — linear, shuffle-free."""
    e = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    return e.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(dot("embedding", "qvec"), 4).alias("dot")
    )


@query(
    "q_topk_similar",
    oracle="""
    WITH sims AS (
        SELECT e.vec_id,
               round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))),
                     4) AS cosine
        FROM embeddings e
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    )
    SELECT vec_id, cosine
    FROM sims
    ORDER BY cosine DESC, vec_id
    LIMIT 20
    """,
)
def q_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine similarity search, brute-force baseline (L6).

    Ranking happens on the 4-decimal-rounded similarity with vec_id as
    the tiebreak, so the top-k set is identical across engines. Spark
    plans TakeOrderedAndProject — per-partition top-k then a k-sized
    merge on the driver, no global sort.
    """
    e = table(spark, sf_dir, "embeddings")
    q = _query_vec(spark, sf_dir)
    cosine = F.round(
        dot("embedding", "qvec") / (norm("embedding") * norm("qvec")), 4
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(20)
    )


@query(
    "q_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label,
             unnest(list_transform(range(1, len(embedding) + 1),
                    i -> struct_pack(pos := i - 1, x := embedding[i]))) AS u
      FROM embeddings
    ),
    m AS (
      SELECT label, CAST(u.pos AS INT) AS pos,
             CAST(floor(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS micro
      FROM flat
    )
    SELECT label, pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(micro) AS BIGINT) AS sum_micro,
           CAST(floor(CAST(SUM(micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS centroid_micro
    FROM m GROUP BY label, pos
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, component-wise — the reduce step
    of k-means / IVF training (operators/similarity.py ``kmeans_fit``
    runs it in numpy on a driver-side sample; this is the same
    aggregate expressed as a declarative query, per (label,
    dimension)).

    Float discipline: float-typed components widen to DOUBLE (exact,
    IEEE subset) and quantize to integer micro-units via floor BEFORE
    summation, so the aggregate is exact integer addition — engine
    float-summation order can never leak into the result, unlike a
    naive AVG(embedding[i]) whose accumulation order differs per
    engine/partitioning. The centroid is floor(sum/n) of a determinate
    double quotient.

    Scale shape: posexplode → one hash aggregate keyed (label, pos) —
    64x row inflation in flight but 24 bytes a row, with map-side
    partials; output is |labels| x dims. No driver-side math.
    """
    e = table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    m = flat.select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * 1000000)
        .cast("bigint")
        .alias("micro"),
    )
    return m.groupBy("label", "pos").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("micro").cast("bigint").alias("sum_micro"),
        F.floor(F.sum("micro").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("centroid_micro"),
    )
