"""Text-analysis operators for training-data pipelines (north-star
extension, BASELINE.json): language ID, quality scoring, token
counting, document fingerprinting. All JVM-side column expressions —
no Python in the hot path — so they run inside whole-stage codegen
and scale linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Adaptive exact-duplicate collapse for text-pure scorers


def collapse_text_scores(
    docs: DataFrame,
    scorer,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Run a TEXT-PURE per-document scorer with the adaptive
    exact-duplicate collapse (operators/dedup.py ``_dup_profile``,
    extended from dedup candidate generation to audit projections):
    identical texts have identical scores, so when the profile engages
    the collapse the scorer runs on ONE representative per distinct
    text and the scores join back to every member id by content hash —
    compute scales with DISTINCT text, not corpus rows. A dup-free
    corpus runs the scorer directly with zero added shuffle.

    Contract: ``scorer(df[id_col, text_col]) -> df[id_col, *scores]``,
    one output row per input row, every score column a function of the
    text alone. Output: ``(id_col, *scores)`` for every input doc.

    Scale shape when collapsed: one row-honest repartition (the
    compressed-duplicate scan-split trap — a 100:1-compressible corpus
    arrives in 2-3 byte-sized partitions), one hash exchange keyed by
    content hash to pick representatives, the scorer over the distinct
    texts, and a join of the (tiny) rep-score table back onto the
    (id, hash) membership — AQE broadcasts it.

    When it pays: measured at sf10 (500 k rows, 100× duplicated) the
    JVM lambda scorers (quality scorecard, repetition explode) are
    PARALLELISM-bound, not dup-bound — once the repartition fixes the
    split sizing, direct ≈ 1.9 s vs collapsed ≈ 2.2 s (the md5 +
    full-text exchange costs what the 100× compute saving buys back).
    Those queries therefore run direct; this wrapper is for scorers
    whose per-text compute dominates one md5-keyed text exchange —
    Arrow/pandas UDF featurizers, heavy regex stacks, per-text model
    scoring — where compute-per-distinct-text is the real budget."""
    from .dedup import _dup_profile

    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    hashed = (
        docs.select(id_col, text_col)
        .repartition(par, id_col)
        # NULL-safe content key: md5(NULL) is NULL and every equi-join
        # below drops NULL keys, which would make NULL-text docs vanish
        # from the collapsed path while the direct path scores them
        # (contract: one output row per input doc, whichever path runs).
        # The sentinel starts with \x00 so no real text collides with it.
        .withColumn(
            "__th",
            F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit("\x00__null__"))),
        )
        .localCheckpoint(eager=False)
    )
    if not _dup_profile(hashed, "__th")[2]:
        return scorer(docs.select(id_col, text_col))
    reps = hashed.groupBy("__th").agg(
        F.min(id_col).alias("__rep_id"),
        # within a hash group every text is identical — any member's
        # text IS the cluster's text
        F.first(text_col).alias(text_col),
    )
    rep_scores = scorer(
        reps.select(F.col("__rep_id").alias(id_col), text_col)
    ).withColumnRenamed(id_col, "__rep_id")
    score_cols = [c for c in rep_scores.columns if c != "__rep_id"]
    return (
        hashed.select(id_col, "__th")
        .join(reps.select("__th", "__rep_id"), "__th")
        .join(rep_scores, "__rep_id")
        .select(id_col, *score_cols)
    )


# ---------------------------------------------------------------------------
# Token counting

# BPE-ish pretokenizer: word pieces, numbers, or single non-space
# symbols — a regex approximation of byte-pair pretokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    # split on runs of whitespace; trim so edge whitespace doesn't add
    # empty tokens
    return F.size(F.split(F.trim(t), r"\s+"))


def bpe_token_count(text: Column | str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(BPE_TOKEN_RE))


# ---------------------------------------------------------------------------
# Quality scoring

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def quality_features(text: Column | str) -> dict[str, Column]:
    """Cheap quality heuristics used by corpus filters: length, mean
    word length, punctuation density, stopword ratio, digit density."""
    t = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(t)
    words = F.split(F.trim(t), r"\s+")
    n_words = F.size(words)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_digit = F.regexp_count(t, F.lit(r"[0-9]"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # array_intersect dedups; counts distinct stopwords present
    n_stop = F.size(F.array_intersect(words, stop_arr))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": (n_chars - n_words + 1).cast("double") / n_words,
        "punct_ratio": n_punct.cast("double") / F.greatest(n_chars, F.lit(1)),
        "digit_ratio": n_digit.cast("double") / F.greatest(n_chars, F.lit(1)),
        "stopword_hits": n_stop,
    }


def quality_score(text: Column | str) -> Column:
    """Composite [0,1]-ish quality score: rewards mid-length docs with
    low punctuation/digit noise. Deterministic arithmetic only."""
    f = quality_features(text)
    length_term = F.least(f["n_words"].cast("double") / 100.0, F.lit(1.0))
    noise_term = f["punct_ratio"] + f["digit_ratio"]
    return F.round(length_term * (1.0 - F.least(noise_term, F.lit(1.0))), 4)


# ---------------------------------------------------------------------------
# Language identification (character n-gram heuristic)

# Tiny per-language trigram profiles. A real deployment would learn
# these from held-out corpora; the operator's shape (explode trigrams,
# broadcast-join the profile table, argmax score) is what matters for
# the engine, and is identical with 10k-row profiles.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", "ent", " th", "he ", "er "),
    "de": ("der", "ein", "ich", "sch", "und", "en ", "ch ", "ie "),
    "es": ("que", "los", "ión", "ado", "nte", "de ", "os ", "la "),
    "fr": ("les", "ent", "ion", "que", "eur", "de ", "es ", "le "),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这"),
}


def lang_profile_df(spark) -> DataFrame:
    rows = [
        (lang, gram) for lang, grams in LANG_PROFILES.items() for gram in grams
    ]
    return spark.createDataFrame(rows, "lang_cand string, gram string")


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """All character n-grams of the text, as an array column (JVM-side
    sequence+transform, no UDF)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
        lambda i: t.substr(i, F.lit(n)),
    )


def identify_language(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document predicted language: explode trigrams, broadcast-join
    the profile table, count hits per candidate language, argmax with a
    deterministic tiebreak (lang name).

    One explode + one broadcast join + one agg: linear in corpus size,
    profile table broadcast (it is tiny by construction).
    """
    spark = docs.sparkSession
    # trigrams for alphabetic scripts + unigrams for CJK (profiles mix
    # both granularities); concat keeps repeat counts, which the score
    # needs
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.concat(char_ngrams(text_col, 3), char_ngrams(text_col, 1))
        ).alias("gram"),
    )
    scored = (
        grams.join(F.broadcast(lang_profile_df(spark)), "gram")
        .groupBy(id_col, "lang_cand")
        .agg(F.count("*").alias("hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("hits").desc(), F.col("lang_cand"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("lang_cand").alias("lang_pred"), F.col("hits").alias("lang_hits"))
    )
    # left join back so no-signal docs stay with lang_pred = null
    return docs.select(id_col).join(best, id_col, "left")


# ---------------------------------------------------------------------------
# Document fingerprinting

def md5_fingerprint(text: Column | str) -> Column:
    """Canonicalized exact-content fingerprint: lowercase, collapse
    whitespace, md5. Portable across engines (oracle-checkable)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(t)), r"\s+", " "))


def rolling_shingle_fingerprint(text: Column | str, k: int = 8) -> Column:
    """Winnowing-style content fingerprint: min and max 64-bit hash
    over the k-char shingle set. Survives small edits at either end of
    the document; xxhash64 is Spark-native (rows-only checked)."""
    t = F.col(text) if isinstance(text, str) else text
    hashes = F.transform(char_ngrams(t, k), lambda s: F.xxhash64(s))
    return F.struct(
        F.array_min(hashes).alias("min_hash"),
        F.array_max(hashes).alias("max_hash"),
    )
