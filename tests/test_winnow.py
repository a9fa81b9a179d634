"""Winnowing exact-substring overlap: the detection guarantee, the
duplicate-cluster accounting, and the boilerplate cap."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_prediction_data_engineering_spark.operators.winnow import winnow_pairs

# distinct filler prefixes long enough that docs share nothing except
# what the test plants (k=24: any 24-gram from different fillers
# differs). No trailing space: the char immediately adjacent to a
# planted quote must differ across docs, or the shared verbatim run is
# quote+separator (52) rather than the quote itself (51).
_FILLER_A = "alpha bravo charlie delta echo foxtrot golf hotel india"
_FILLER_B = "juliet kilo lima mike november oscar papa quebec romeo"
_FILLER_C = "sierra tango uniform victor whiskey xray yankee zulu one"
_QUOTE = "the quick brown fox jumps over the lazy dog tonight"  # 51 chars


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: bigint, text: string")


def test_shared_long_run_is_always_detected(spark):
    # guarantee: shared run of len >= k + w - 1 = 31 chars must pair
    out = winnow_pairs(
        _docs(
            spark,
            [
                (1, _FILLER_A + _QUOTE + _FILLER_A),
                (2, _FILLER_B + _QUOTE + _FILLER_B),
                (3, _FILLER_C * 3),  # no planted quote
            ],
        )
    ).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_exact_duplicates_collapse_with_cluster_sizes(spark):
    # 3 copies of A-with-quote, 2 copies of B-with-quote: ONE
    # representative pair, cluster sizes carried
    rows = [(i, _FILLER_A + _QUOTE + _FILLER_A) for i in (1, 2, 3)]
    rows += [(i, _FILLER_B + _QUOTE + _FILLER_B) for i in (10, 11)]
    out = winnow_pairs(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b, r.dup_a, r.dup_b) == (1, 10, 3, 2)
    assert r.shared_fp >= 1


def test_boilerplate_cap_drops_corpus_wide_fingerprints(spark):
    # the quote appears in 4 distinct texts; with df_cap=3 none of the
    # quote's fingerprints may generate pairs
    rows = [
        (1, _FILLER_A + _QUOTE),
        (2, _FILLER_B + _QUOTE),
        (3, _FILLER_C + _QUOTE),
        (4, _QUOTE + _FILLER_A[::-1]),
    ]
    capped = winnow_pairs(_docs(spark, rows), df_cap=3).collect()
    uncapped = winnow_pairs(_docs(spark, rows), df_cap=50).collect()
    assert len(uncapped) >= 6  # all C(4,2) pairs share the quote
    assert len(capped) < len(uncapped)


def test_short_texts_never_enter(spark):
    # below the guarantee length (31) a doc has no full window
    out = winnow_pairs(
        _docs(spark, [(1, "short shared text!"), (2, "short shared text!")])
    ).collect()
    assert out == []


def test_matches_oracle_fingerprints_bitwise(spark, duck):
    # the md5->60-bit-int idiom must produce identical fingerprints in
    # both engines for the oracle to hold at any scale: compare the
    # full fingerprint SET for one real document
    row = duck.sql(
        "SELECT doc_id, text FROM documents "
        "WHERE length(text) >= 31 ORDER BY doc_id LIMIT 1"
    ).fetchone()
    doc_id, text = row
    duck_fps = {
        r[0]
        for r in duck.sql(
            f"""
            WITH kg AS (
              SELECT i AS pos,
                     ('0x' || substr(md5(substr(t.txt, CAST(i AS INT), 24)),
                                     1, 15))::BIGINT AS h,
                     length(t.txt) - 23 AS npos
              FROM (SELECT text AS txt FROM documents
                    WHERE doc_id = {doc_id}) t,
                   unnest(generate_series(1, length(t.txt) - 23)) AS g(i)
            )
            SELECT DISTINCT MIN(h) OVER (ORDER BY pos ROWS BETWEEN
                                         CURRENT ROW AND 7 FOLLOWING)
            FROM kg QUALIFY pos + 7 <= npos
            """
        ).fetchall()
    }
    df = _docs(spark, [(doc_id, text)])
    hs = F.transform(
        F.sequence(F.lit(1), F.length("text") - 23),
        lambda i: F.conv(
            F.substring(F.md5(F.substr(F.col("text"), i, F.lit(24))), 1, 15),
            16,
            10,
        ).cast("bigint"),
    )
    spark_fps = {
        r.fp
        for r in df.withColumn("hs", hs)
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - 7),
                        lambda j: F.array_min(F.slice(F.col("hs"), j, 8)),
                    )
                )
            ).alias("fp")
        )
        .collect()
    }
    assert spark_fps == duck_fps


def test_kernel_fps_match_jvm_form(spark):
    # the fused Arrow kernel (hashlib md5 + stride-window min +
    # np.unique) must reproduce the JVM semantic-reference pipeline
    # bit-for-bit — including on non-ASCII text, where both sides must
    # slice by CODE POINT and hash the UTF-8 bytes, and on texts at or
    # below the k + w - 1 guarantee length, which must yield no rows
    from stock_prediction_data_engineering_spark.operators.winnow import (
        _fps_from_kgrams,
        _kgram_table,
        winnow_fingerprints,
    )

    texts = [
        (1, _FILLER_A + " " + _QUOTE + " " + _FILLER_B),
        (2, "café déjà-vu naïve façade über straße çœur ångström φύση 日本語テキスト!"),
        (3, "x" * 40),
        (4, "short"),  # no k-grams at all
        (5, "a" * 31),  # exactly k + w - 1: one window, one fingerprint
        (6, "y" * 30),  # k-grams exist but no full window: no rows
    ]
    reps = spark.createDataFrame(texts, "rep: bigint, __txt: string")
    jvm = _fps_from_kgrams(
        _kgram_table(reps.repartition(4, "rep"), "rep", 24), "rep", 8
    )
    ker = winnow_fingerprints(reps.repartition(4, "rep"), "rep", 24, 8)
    jvm_rows = sorted((r.rep, r.fp) for r in jvm.collect())
    ker_rows = sorted((r.rep, r.fp) for r in ker.collect())
    assert jvm_rows == ker_rows
    assert {r for r, _ in jvm_rows} == {1, 2, 3, 5}


# ---------------------------------------------------------------------------
# property: the winnowing guarantee holds for arbitrary planted runs

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ALPHA = "abcdefghijklmnopqrstuvwxyz 0123456789"


@given(
    data=st.data(),
    run_len=st.integers(min_value=31, max_value=80),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_planted_run_always_pairs(spark, data, run_len):
    # two random texts (chance overlap vanishingly unlikely to matter
    # either way — the assertion is one-sided: the planted pair MUST
    # appear) with one shared run of >= k + w - 1 = 31 chars planted
    # at random offsets
    rnd = data.draw(st.randoms(use_true_random=False))
    run = "".join(rnd.choice(_ALPHA) for _ in range(run_len))
    pad = lambda n: "".join(rnd.choice(_ALPHA) for _ in range(n))  # noqa: E731
    t1 = pad(rnd.randint(0, 60)) + run + pad(rnd.randint(0, 60))
    t2 = pad(rnd.randint(0, 60)) + run + pad(rnd.randint(0, 60))
    if t1 == t2:  # identical texts collapse into one cluster, no pair
        t2 = t2 + "x"
    out = winnow_pairs(
        _docs(spark, [(1, t1), (2, t2)]), df_cap=10
    ).collect()
    assert any((r.doc_a, r.doc_b) == (1, 2) for r in out), (t1, t2)


# ---------------------------------------------------------------------------
# persisted winnowing index (write / probe / append)


def _idx_path(tmp_path):
    return str(tmp_path / "wn_idx")


def test_index_probe_finds_planted_overlap(spark, tmp_path):
    from stock_prediction_data_engineering_spark.operators.winnow import (
        winnow_index_probe,
        winnow_index_write,
    )

    corpus = _docs(
        spark,
        [
            (1, _FILLER_A + _QUOTE + _FILLER_A),
            (2, _FILLER_B * 3),
            (3, _FILLER_C * 3),
        ],
    )
    batch = _docs(
        spark,
        [
            (100, _FILLER_C[::-1] + _QUOTE),  # shares the quote with 1
            (101, "zz " + _FILLER_B[:40].upper() + " qq"),  # shares nothing
        ],
    )
    path = _idx_path(tmp_path)
    winnow_index_write(corpus, path)
    hits = winnow_index_probe(batch, path).collect()
    assert {(r.new_id, r.corpus_id) for r in hits} == {(100, 1)}
    assert all(r.shared_fp >= 1 for r in hits)


def test_index_append_admits_batch(spark, tmp_path):
    from stock_prediction_data_engineering_spark.operators.winnow import (
        winnow_index_probe,
        winnow_index_write,
    )

    path = _idx_path(tmp_path)
    winnow_index_write(
        _docs(spark, [(1, _FILLER_A + _QUOTE + _FILLER_A)]), path
    )
    batch1 = _docs(spark, [(50, _FILLER_B + _QUOTE)])
    assert {
        (r.new_id, r.corpus_id)
        for r in winnow_index_probe(batch1, path).collect()
    } == {(50, 1)}
    # admit batch1, then a later batch must see BOTH standing docs
    winnow_index_write(batch1, path, mode="append")
    batch2 = _docs(spark, [(60, _QUOTE + _FILLER_C)])
    assert {
        (r.new_id, r.corpus_id)
        for r in winnow_index_probe(batch2, path).collect()
    } == {(60, 1), (60, 50)}


def test_index_probe_matches_standalone_pairs(spark, duck, tmp_path):
    """Index probe and the standalone join must agree on real data:
    split sf0.01 documents 80/20, probe the 20 % — every standalone
    pair that crosses the split must be an index hit and vice versa."""
    from stock_prediction_data_engineering_spark.catalog import table as t
    from stock_prediction_data_engineering_spark.operators.winnow import (
        winnow_index_probe,
        winnow_index_write,
        winnow_pairs,
    )

    docs = t(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    path = _idx_path(tmp_path)
    winnow_index_write(corpus, path)
    got = {
        (r.new_id, r.corpus_id)
        for r in winnow_index_probe(batch, path).collect()
    }
    # sf0.01 has no exact-duplicate texts, so rep pairs ARE doc pairs
    expected = {
        (r.doc_a, r.doc_b) if r.doc_a % 5 == 0 else (r.doc_b, r.doc_a)
        for r in winnow_pairs(docs).collect()
        if (r.doc_a % 5 == 0) != (r.doc_b % 5 == 0)
    }
    assert got == expected


def test_max_span_len_exact_on_planted_overlaps(spark):
    """with_spans=True reports the longest shared verbatim run EXACTLY
    (Lee et al. ACL'22 match-length semantics) on planted overlaps:
    a single shared quote reports its own length, two shared runs
    report the longer one, exact duplicates report the full text
    length, and span extension across the plant boundary is ruled out
    by distinct fillers."""
    quote2 = "pack my box with five dozen liquor jugs right now"  # 50
    rows = [
        (1, _FILLER_A + _QUOTE + _FILLER_A),               # quote only
        (2, _FILLER_B + _QUOTE + _FILLER_B),               # quote only
        (3, _FILLER_C + _QUOTE + _FILLER_C + quote2 + "x"),  # both
        (4, "y" + quote2 + _FILLER_A * 2),                 # quote2 only
        (5, _FILLER_B + _QUOTE + _FILLER_B),               # dup of 2
    ]
    out = {
        (r.doc_a, r.doc_b): r
        for r in winnow_pairs(_docs(spark, rows), with_spans=True).collect()
    }
    assert out[(1, 2)].max_span_len == len(_QUOTE)
    assert out[(1, 3)].max_span_len == len(_QUOTE)
    assert out[(2, 3)].max_span_len == len(_QUOTE)
    # doc 3 shares _QUOTE (51) with 1/2 but only quote2 (50) with 4
    assert out[(3, 4)].max_span_len == len(quote2)
    # exact duplicates (2, 5) collapse into one row with dup=2 — the
    # self-evident full-length span never materializes as a pair; the
    # cluster is visible through dup_b on (1, 2)
    assert out[(1, 2)].dup_b == 2
    assert (2, 5) not in out
    # no pair is reported below the winnowing guarantee floor
    assert all(r.max_span_len >= 24 for r in out.values())
