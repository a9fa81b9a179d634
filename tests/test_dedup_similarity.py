"""Semantics tests for the dedup family and similarity search, on
fixtures with PLANTED near-duplicates (the synthetic corpus has none,
so rows-only checks alone would never prove recall)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill and the birds sing in the "
        "garden near the old stone wall every single morning"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("lazy", "sleepy")),  # near dup of 0
        (3, "completely different text about spark query engines and "
            "distributed columnar execution with shuffles and codegen"),
        (4, base.replace("morning", "evening").replace("cat", "kitten")),  # near dup
        (5, "another unrelated document mentioning parquet files and "
            "partition pruning strategies for large analytical scans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_near_dups(planted_docs):
    from stock_prediction_data_engineering_spark.operators.dedup import minhash_lsh_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(planted_docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.8   # near dup
    assert (0, 4) in pairs
    # unrelated docs never pair
    assert not any(3 in p or 5 in p for p in pairs)


def _verify_fixture(spark):
    """Exact dups, a near dup, two too-short twins (empty shingle and
    gram sets exercise the null/empty intersect edge) and 20 unrelated
    rows sharing a boilerplate suffix (word-3-gram Jaccard 7/19 between
    any two of them): 25 docs, 23 distinct texts, so the exact-dup
    collapse engages."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill and the birds sing in the "
        "garden near the old stone wall every single morning"
    )
    rows = [(0, base), (1, base), (2, base.replace("lazy", "sleepy"))]
    rows += [(3, "tiny"), (4, "tiny")]  # too short to shingle at k=5
    rows += [
        (10 + i, f"document number {i} about unrelated topic {i * 7} "
                 f"with shared boilerplate suffix common to all rows")
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), len(rows)


def _verify_operators():
    """Both callers of the shared verify stage (operators/dedup.py
    _verify), each in every output form, at thresholds that send many
    candidates through the exact intersect."""
    from stock_prediction_data_engineering_spark.operators import dedup
    from stock_prediction_data_engineering_spark.operators.ssjoin import (
        jaccard_similarity_join,
    )

    return {
        "minhash_pairs": lambda d: dedup.minhash_lsh_pairs(d, jaccard_threshold=0.2),
        "minhash_clusters": lambda d: dedup.minhash_lsh_pairs(
            d, jaccard_threshold=0.2, output="clusters"
        ),
        "ssjoin": lambda d: jaccard_similarity_join(d, threshold_num=1, threshold_den=3),
    }


def test_minhash_verify_branches_bit_identical(spark, monkeypatch):
    """The adaptive verify gate (operators/dedup.py
    _VERIFY_KERNEL_MIN_DISTINCT, read only by the shared _verify stage)
    picks JVM array_intersect below the candidate-volume crossover and
    the Arrow sort+searchsorted kernel above it. Both branches must
    produce BIT-IDENTICAL answers for both operators that call it —
    MinHash-LSH in both output forms and the exact similarity join.
    Each branch is forced by moving the gate: 0 (every corpus takes the
    Arrow kernel) or above the fixture's distinct-text count (JVM)."""
    from stock_prediction_data_engineering_spark.operators import dedup

    docs, n_rows = _verify_fixture(spark)
    gates = {"jvm": n_rows + 1, "arrow": 0}
    for name, op in _verify_operators().items():
        got = {}
        for kern, gate in gates.items():
            monkeypatch.setattr(dedup, "_VERIFY_KERNEL_MIN_DISTINCT", gate)
            df = op(docs)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("MapInPandas" in plan) == (kern == "arrow"), (kern, name)
            got[kern] = sorted(tuple(r) for r in df.collect())
        assert got["jvm"] == got["arrow"], f"branch mismatch for {name}"
        assert len(got["jvm"]) > 0  # the comparison is not vacuous


def test_verify_above_broadcast_budget_keeps_id_a_runs(spark, monkeypatch):
    """Above the broadcast byte budget the verify stage attaches the
    arrays with shuffle_hash joins; the second one re-exchanges the
    pair stream by id_b, so the stage sorts on id_a after the last
    attach to give the Arrow kernel its id_a runs. With the budget and
    the kernel gate at 0 every operator takes that regime: its answers
    equal the default (broadcast) regime's, and the executed plan has
    a Sort on id_a between the last join and MapInPandas."""
    from stock_prediction_data_engineering_spark.operators import dedup

    docs, _ = _verify_fixture(spark)
    ops = {k: v for k, v in _verify_operators().items() if k != "minhash_clusters"}
    want = {name: sorted(tuple(r) for r in op(docs).collect()) for name, op in ops.items()}
    monkeypatch.setattr(dedup, "_BROADCAST_BUDGET_BYTES", 0)
    monkeypatch.setattr(dedup, "_VERIFY_KERNEL_MIN_DISTINCT", 0)
    for name, op in ops.items():
        df = op(docs)
        assert sorted(tuple(r) for r in df.collect()) == want[name], name
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        at = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
        below = lines[at + 1 :]
        join = next(i for i, line in enumerate(below) if "Join" in line)
        assert "ShuffledHashJoin" in below[join], (name, below[join])
        sorts = [line for line in below[:join] if "Sort [id_a" in line]
        assert sorts, (name, below[: join + 1])


def test_verify_gate_reads_array_width_not_row_count(spark, monkeypatch):
    """The verify attach gate (operators/dedup.py _sized) weighs rows
    by their measured width: two corpora with the same row count, one
    of ~8-word and one of ~80-word texts, fall on opposite sides of a
    budget set between their array sizes. The short-text arrays
    broadcast, the long-text ones attach through ShuffledHashJoin, and
    the long corpus answers exactly as it does when broadcast. A gate
    on the row count alone would treat the two corpora alike."""
    import random

    from stock_prediction_data_engineering_spark.operators import dedup

    def corpus(n_words, seed):
        # 10 distinct texts and a one-word variant of each: no exact
        # duplicates, so no collapse, and every variant pair verifies
        rng = random.Random(seed)
        vocab = [f"{rng.choice('bcdfgklmnp')}{i}{rng.choice('aeiou')}" for i in range(300)]
        rows = []
        for i in range(10):
            words = [rng.choice(vocab) for _ in range(n_words)]
            rows.append((2 * i, " ".join(words)))
            words[n_words // 2] = "variant"
            rows.append((2 * i + 1, " ".join(words)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def run(docs):
        df = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
        got = sorted(tuple(r) for r in df.collect())
        plan = df._jdf.queryExecution().executedPlan().toString()
        return got, plan.split("== Initial Plan ==")[0]

    short, long_ = corpus(8, 1), corpus(80, 2)
    want, plan = run(long_)
    assert "ShuffledHashJoin" not in plan and len(want) >= 10
    n_broadcast = plan.count("BroadcastHashJoin")
    # 20 rows of ~40 shingles (~0.2 KB) per short text, ~400 (~1.6 KB)
    # per long one
    monkeypatch.setattr(dedup, "_BROADCAST_BUDGET_BYTES", 10_000)
    got, plan = run(long_)
    assert got == want
    assert plan.count("ShuffledHashJoin") == 2
    assert plan.count("BroadcastHashJoin") == n_broadcast - 2
    _, plan = run(short)
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") == n_broadcast


def test_collapse_helpers_verdict_and_member_expansion(spark):
    """The shared exact-duplicate collapse (operators/dedup.py
    _dup_profile, _expand_members) on hand-built frames: the verdict
    flips exactly at the 95% rule, and expanding representative pairs
    over clusters of sizes 1, 2 and 4 gives the brute-force member-pair
    set, with id_a < id_b and no repeated pair."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        _dup_profile,
        _expand_members,
    )

    def values(cols, rows):
        # an inline VALUES table scans in the JVM; a createDataFrame
        # list would start Python workers on every one of its scans
        body = ", ".join(str(tuple(r)) for r in rows)
        return spark.sql(f"SELECT * FROM VALUES {body} AS t({cols})")

    def profile(n, d):
        return _dup_profile(values("id, __th", [(i, f"h{i % d}") for i in range(n)]), "__th")

    assert profile(20, 19) == (20, 19, True)
    assert profile(21, 20) == (21, 20, False)

    # member ids interleave across clusters, so each representative
    # (min id) is neither the first listed nor the smallest overall
    clusters = {"a": [7], "b": [12, 3], "c": [5, 1, 20, 9]}
    members = values("id, __th", [(i, th) for th, ids in clusters.items() for i in ids])
    rep = {th: min(ids) for th, ids in clusters.items()}
    reps = values("__th, id", rep.items())
    cross_spec = [("a", "b", 50), ("b", "c", 80)]
    rep_pairs = values(
        "id_a, id_b, jaccard",
        [(min(rep[x], rep[y]), max(rep[x], rep[y]), v) for x, y, v in cross_spec],
    )
    # b is not eligible: its twins must not pair (like empty-shingle twins)
    eligible = values("id, w", [(rep["a"], 100), (rep["c"], 100)])

    rows = [
        tuple(r)
        for r in _expand_members(
            rep_pairs, reps, members, 7, 3, "id_a", "id_b", eligible,
            [F.col("x.w").alias("jaccard")],
        ).collect()
    ]
    assert all(a < b for a, b, _ in rows)
    assert len({(a, b) for a, b, _ in rows}) == len(rows)  # no repeats
    cross = {
        (min(p, q), max(p, q), v)
        for x, y, v in cross_spec
        for p in clusters[x]
        for q in clusters[y]
    }
    intra = {(p, q, 100) for th in "ac" for p, q in combinations(sorted(clusters[th]), 2)}
    assert len(cross) == 1 * 2 + 2 * 4 and len(intra) == 6
    assert set(rows) == cross | intra


def test_minhash_bucket_candidates_match_self_join(spark):
    """The MinHash candidate stage (operators/dedup.py
    _bucket_candidates: pair generation by grouping each
    (band, band_hash) bucket and streaming within-bucket pairs) must
    produce EXACTLY the candidate set of a band-table self-join
    (id_a < id_b, same length filter), reconstructed here as the
    reference over a corpus with exact dups, near dups, and unrelated
    rows."""
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        _band_table,
        _bucket_candidates,
        _signatures,
        hashed_shingle_set,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill and the birds sing in the "
        "garden near the old stone wall every single morning"
    )
    rows = [(0, base), (1, base.replace("lazy", "sleepy"))]
    rows += [
        (10 + i, f"document number {i} about unrelated topic {i * 7} "
                 f"with shared boilerplate suffix common to all rows")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    thr = 0.2
    shingled = docs.select(
        F.col("doc_id").alias("id"), hashed_shingle_set("text", 5).alias("sh_hashes")
    )
    banded = _band_table(_signatures(shingled, 64), 16, 4, extra=("n",)).localCheckpoint()

    # reference: the band-table self-join form
    left, right = banded.alias("l"), banded.alias("r")
    ref = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id"))
            & (
                F.least("l.n", "r.n").cast("double")
                >= (thr - 5e-5) * F.greatest("l.n", "r.n")
            ),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    got = _bucket_candidates(banded, thr, 4).select("id_a", "id_b")
    ref_set = sorted(tuple(r) for r in ref.collect())
    got_set = sorted(tuple(r) for r in got.collect())
    assert ref_set == got_set
    assert len(ref_set) > 0  # not vacuous


def test_simhash_hamming_ranks_similarity(planted_docs):
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        hamming64,
        simhash64,
        simhash_pairs,
    )

    # candidate pairs come only from 16-bit-chunk collisions: exact and
    # very-near dups must surface, unrelated docs must not
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs(planted_docs, max_hamming=64).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text, identical simhash
    assert (0, 4) in pairs and pairs[(0, 4)] <= 16
    assert (3, 5) not in pairs  # unrelated: no chunk collision

    # ground-truth ranking on the raw signatures (no blocking):
    # near-dup hamming < unrelated hamming
    sims = {
        r.doc_id: r.sh
        for r in planted_docs.select(
            "doc_id", simhash64(F.split(F.trim("text"), r"\s+")).alias("sh")
        ).collect()
    }
    ham = lambda a, b: bin(sims[a] ^ sims[b]).count("1")
    assert ham(0, 2) < ham(0, 3)
    assert ham(0, 4) < ham(0, 5)


def test_ngram_jaccard_exact_semantics(planted_docs):
    from stock_prediction_data_engineering_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(planted_docs, n=3, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (3, 5) not in pairs


def test_ngram_hot_posting_cap(spark, planted_docs):
    """The max_doc_frequency guard: posting lists are bounded at the
    cap, yet planted near-dup pairs and their exact Jaccard values are
    unchanged — only pairs whose every shared gram is hot (stopword
    boilerplate) can drop out."""
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # add a hot boilerplate gram shared by EVERY doc: uncapped, it
    # inflates every posting self-join; capped, it is excluded
    boiler = "terms of service apply"
    docs = planted_docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(" " + boiler)).alias("text")
    )

    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_doc_frequency=4
        ).collect()
    }
    # recall + exact values preserved for all genuinely similar pairs
    assert capped == uncapped
    assert (0, 1) in capped and capped[(0, 1)] == 1.0

    # and the cap really bounds posting lists: reconstruct the capped
    # inverted index and assert max df <= cap
    words = F.split(F.trim(F.col("text")), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, 3)),
        )
    )
    inv = docs.select(F.explode(grams).alias("gram"))
    df_counts = inv.groupBy("gram").count()
    assert df_counts.agg(F.max("count")).first()[0] > 4  # hot grams exist
    # the guard would drop exactly those; nothing rarer is touched
    hot = df_counts.filter(F.col("count") > 4).count()
    assert hot >= 1


def test_connected_components_multihop(spark):
    """Label propagation must close transitive chains: A~B, B~C, C~D
    puts all four in one component even though A and D never pair —
    exactly what a per-pair GROUP BY cannot express."""
    from stock_prediction_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_resolve_duplicates_keeps_one_per_cluster(spark, planted_docs):
    """End-to-end dedup: minhash pairs -> components -> exactly one
    canonical doc per near-dup cluster; unrelated docs stay canonical
    singletons."""
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_lsh_pairs,
        resolve_duplicates,
    )

    pairs = minhash_lsh_pairs(planted_docs, jaccard_threshold=0.5)
    resolved = resolve_duplicates(planted_docs, pairs)
    rows = {r.doc_id: (r.component, r.is_canonical) for r in resolved.collect()}
    # docs 0/1/2/4 form one near-dup cluster with 0 canonical
    assert rows[0] == (0, True)
    for d in (1, 2, 4):
        assert rows[d] == (0, False)
    # unrelated docs are their own canonical components
    assert rows[3] == (3, True) and rows[5] == (5, True)
    # exactly one canonical row per component
    per_comp = (
        resolved.groupBy("component")
        .agg(F.sum(F.col("is_canonical").cast("int")).alias("n_canon"))
        .collect()
    )
    assert all(r.n_canon == 1 for r in per_comp)


def test_embedding_near_dup_and_ann(spark):
    import math

    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from stock_prediction_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    dim = 16
    def vec(seed, eps=0.0):
        # deterministic unit-ish vector; eps perturbs one component
        v = [math.sin(seed * 31 + j) for j in range(dim)]
        v[0] += eps
        return v

    rows = [
        (0, vec(1)),
        (1, vec(1, 0.01)),   # near dup of 0
        (2, vec(2)),
        (3, vec(3)),
        (4, vec(1, 0.02)),   # near dup of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = emb.withColumn("embedding", F.col("embedding").cast("array<float>"))

    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(emb, cosine_threshold=0.999, num_planes=4).collect()
    }
    assert (0, 1) in pairs and (0, 4) in pairs

    exact = [r.vec_id for r in brute_force_topk(emb, emb.filter("vec_id = 0"), k=3).collect()]
    assert exact[0] == 0 and set(exact) == {0, 1, 4}

    approx = [r.vec_id for r in lsh_topk(emb, emb.filter("vec_id = 0"), k=3, num_planes=2).collect()]
    assert 0 in approx  # the query itself is always in its own bucket


def test_ivf_topk_recall(spark):
    """IVF with all cells probed is exhaustive (== brute force); with
    half the cells probed, recall@5 against the real testdata corpus
    stays useful and the query's own vector is always found."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0)

    exact = [r.vec_id for r in brute_force_topk(emb, qv, k=5).collect()]

    full = [r.vec_id for r in ivf_topk(emb, qv, k=5, n_cells=4, nprobe=4).collect()]
    assert full == exact  # probing every cell degenerates to exact

    probed = [r.vec_id for r in ivf_topk(emb, qv, k=5, n_cells=8, nprobe=4).collect()]
    assert probed[0] == 0  # query finds itself
    assert len(set(probed) & set(exact)) >= 2


def test_ivf_build_once_search_many(spark, tmp_path):
    """The persisted-index API: one ivf_build (quantizer fit + cell
    assignment written partitioned by ivf_cell) serves many searches,
    and matches the one-shot ivf_topk on the same parameters."""
    import os

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        ivf_build,
        ivf_search,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    index = ivf_build(emb, n_cells=8, path=path)

    # the lake is partitioned by cell → per-query partition pruning
    cells = [d for d in os.listdir(path) if d.startswith("ivf_cell=")]
    assert len(cells) == 8

    for qid in (0, 7, 23):
        qv = emb.filter(F.col("vec_id") == qid)
        reused = [(r.vec_id, r.cosine) for r in ivf_search(index, qv, k=5, nprobe=4).collect()]
        oneshot = [(r.vec_id, r.cosine) for r in ivf_topk(emb, qv, k=5, n_cells=8, nprobe=4).collect()]
        assert reused == oneshot
        assert reused[0][0] == qid  # query finds itself

    # sampled fit still yields a working index (the 100 TB path)
    sampled = ivf_build(emb, n_cells=4, sample_fraction=0.5)
    qv = emb.filter(F.col("vec_id") == 0)
    got = [r.vec_id for r in ivf_search(sampled, qv, k=3, nprobe=4).collect()]
    assert got[0] == 0


def test_lsh_build_search_and_multiprobe(spark, tmp_path):
    """Persisted LSH index: bucket-partitioned lake, searches match the
    one-shot path, and multi-probe widens (never shrinks) recall."""
    import os

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        brute_force_topk,
        lsh_build,
        lsh_search,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    path = str(tmp_path / "lsh_index")
    index = lsh_build(emb, num_planes=4, path=path)
    assert [d for d in os.listdir(path) if d.startswith("bucket=")]

    qv = emb.filter(F.col("vec_id") == 3)
    reused = [(r.vec_id, r.cosine) for r in lsh_search(index, qv, k=5).collect()]
    oneshot = [
        (r.vec_id, r.cosine)
        for r in lsh_topk(emb, qv, k=5, num_planes=4, multi_probe=0).collect()
    ]
    assert reused == oneshot
    assert reused[0][0] == 3  # query finds itself in its own bucket

    exact = {r.vec_id for r in brute_force_topk(emb, qv, k=5).collect()}
    base_hits = {r.vec_id for r in lsh_search(index, qv, k=5).collect()} & exact
    probe_hits = {
        r.vec_id for r in lsh_search(index, qv, k=5, multi_probe=2).collect()
    } & exact
    assert len(probe_hits) >= len(base_hits)


def test_ann_recall_beats_random_scan_floor(spark):
    """ANN quality gate (tools/ann_recall.py): on a scan of fraction f
    of the corpus, random selection recalls ~f of the true top-k, so
    an index only earns its keep with recall/f > 1. Both approximate
    paths must clear the floor; IVF (data-adaptive quantizer) must
    also reach absolute recall >= 0.4 at its default nprobe."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from ann_recall import measure

    from conftest import SF_ORACLE

    m = measure(spark, SF_ORACLE, k=10, query_mod=251)  # 2 queries, fast
    assert m["n_queries"] >= 2
    assert m["lift_lsh"] > 1.0, m
    assert m["lift_ivf"] > 1.0, m
    assert m["recall_ivf"] >= 0.4, m
    # the sqrt(N)-sized quantizer must also clear the floor — it's the
    # config the 100 TB guidance in ivf_build's docstring recommends
    assert m["lift_ivf_fine"] > 1.0, m
    assert m["recall_ivf_fine"] >= 0.4, m


def test_simhash_np_matches_jvm_reference(spark):
    """The vectorized SimHash kernel must be bit-identical to the JVM
    aggregate-fold reference on real documents."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE

    from stock_prediction_data_engineering_spark.operators.dedup import (
        simhash64,
        simhash64_np,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(100)
    toks = F.split(F.trim("text"), r"\s+")
    both = docs.select(
        "doc_id",
        simhash64(toks).alias("jvm"),
        simhash64_np(toks).alias("np"),
    ).collect()
    assert len(both) == 100
    for r in both:
        assert r.jvm == r.np, (r.doc_id, r.jvm, r.np)


def test_minhash_index_probe_matches_batch_operator(spark, tmp_path):
    """Incremental-ingest dedup: probing a persisted index with a new
    batch must find exactly the cross (corpus x new) pairs that the
    all-pairs batch operator finds on the union — same shingle/band
    parameters, same threshold."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new_batch = docs.filter(F.col("doc_id") % 5 == 0)

    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path)
    got = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in minhash_index_probe(new_batch, path).collect()
    }

    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    new_ids = {r.doc_id for r in new_batch.select("doc_id").collect()}
    want = set()
    for r in minhash_lsh_pairs(docs).collect():
        if r.id_a in corpus_ids and r.id_b in new_ids:
            want.add((r.id_b, r.id_a, r.jaccard))
        elif r.id_b in corpus_ids and r.id_a in new_ids:
            want.add((r.id_a, r.id_b, r.jaccard))
    assert got == want
    assert len(got) > 0  # the testdata corpus does contain near-dups

    # the probe's corpus scan must be partition-pruned to the batch's
    # buckets: a 1-doc probe touches few buckets, so it must read
    # strictly fewer band files than the full index holds
    import glob

    one_doc = new_batch.orderBy("doc_id").limit(1)
    plan_df = minhash_index_probe(one_doc, path)
    plan_df.collect()
    all_band_files = {
        f for f in glob.glob(f"{path}/bands/bucket=*/*.parquet")
    }
    # count distinct buckets the 1-doc probe can touch: <= bands (16)
    # out of 64 bucket dirs; the pruned read proves the layout works
    from stock_prediction_data_engineering_spark.operators.dedup import (
        _minhash_base,
    )

    _, banded = _minhash_base(one_doc, "text", "doc_id", 5, 64, 16)
    n_probe_buckets = (
        banded.select(F.pmod("band_hash", F.lit(64)).alias("b"))
        .distinct()
        .count()
    )
    n_total_buckets = len(
        {f.split("bucket=")[1].split("/")[0] for f in all_band_files}
    )
    assert n_probe_buckets < n_total_buckets


def test_minhash_index_append_ingest_loop(spark, tmp_path):
    """The incremental loop: probe a batch, then append it; a later
    batch that duplicates the first batch's docs must now hit them."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 300)
    batch1 = docs.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    # batch2 re-ingests batch1's texts under shifted ids (exact dups)
    batch2 = batch1.select((F.col("doc_id") + 100000).alias("doc_id"), "text")

    path = str(tmp_path / "mh_index2")
    minhash_index_write(corpus, path)
    minhash_index_write(batch1, path, mode="append")

    hits = minhash_index_probe(batch2, path)
    # every batch2 doc must hit its batch1 twin at jaccard 1.0
    twins = {
        (r.new_id, r.corpus_id)
        for r in hits.filter(F.col("jaccard") == 1.0).collect()
    }
    for r in batch1.select("doc_id").collect():
        assert (r.doc_id + 100000, r.doc_id) in twins


def test_minhash_index_meta_contract(spark, tmp_path):
    """The persisted index's _meta.json contract (ADVICE round 9):
    probe/append against mismatched parameters, a foreign band-hash
    format version, or a pre-meta index must FAIL FAST instead of
    silently returning zero band matches / mixing formats."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_index_probe,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") < 200)
    batch = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250))

    path = str(tmp_path / "mh_meta")
    minhash_index_write(corpus, path)
    meta_path = os.path.join(path, "_meta.json")
    assert os.path.exists(meta_path)

    # matched params: probe and append both proceed
    assert minhash_index_probe(batch, path).count() >= 0
    minhash_index_write(batch, path, mode="append")

    # mismatched shingle/band params fail fast on probe AND append
    with pytest.raises(ValueError, match="mismatch"):
        minhash_index_probe(batch, path, k=7)
    with pytest.raises(ValueError, match="mismatch"):
        minhash_index_write(batch, path, mode="append", bands=32)

    # a future/foreign band-hash format version is rejected even with
    # identical parameters
    meta = json.load(open(meta_path))
    meta["format_version"] = 1
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(ValueError, match="format"):
        minhash_index_probe(batch, path)

    # a populated pre-meta index (meta file absent) is rejected — its
    # band-hash format is unknown
    os.remove(meta_path)
    with pytest.raises(ValueError, match="_meta.json"):
        minhash_index_probe(batch, path)
    with pytest.raises(ValueError, match="_meta.json"):
        minhash_index_write(batch, path, mode="append")

    # append to an EMPTY path is index creation: proceeds and writes
    # the meta (the streaming ingest loop's first batch does this)
    fresh = str(tmp_path / "mh_meta_fresh")
    minhash_index_write(batch, fresh, mode="append")
    assert json.load(open(os.path.join(fresh, "_meta.json")))[
        "format_version"
    ] >= 2
    assert minhash_index_probe(batch, fresh).count() >= 0


def test_embedding_index_probe_matches_batch_operator(spark, tmp_path):
    """Incremental embedding dedup: probing a persisted LSH index with
    a new batch finds exactly the cross (corpus x new) near-dup pairs
    the all-pairs batch operator finds on the union (same planes, same
    threshold)."""
    from pyspark.sql import functions as F

    from conftest import SF_SMOKE
    from stock_prediction_data_engineering_spark.operators.dedup import (
        embedding_index_probe,
        embedding_near_dup_pairs,
    )
    from stock_prediction_data_engineering_spark.operators.similarity import (
        lsh_build,
    )

    import math

    # the synthetic corpus has no natural pairs at 0.8 (random 64-dim
    # vectors), so plant near-dup twins straddling the corpus/batch
    # boundary — same device as the planted_docs text fixture
    def vec(seed, eps=0.0):
        v = [math.sin(seed * 31 + j) for j in range(16)]
        v[0] += eps
        return v

    rows = []
    for i in range(40):
        rows.append((i, vec(i)))
        if i % 4 == 1:  # corpus row whose twin lands in the batch
            rows.append((i * 100, vec(i, 0.01)))  # id%4==0 -> batch
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)

    index = lsh_build(
        corpus, num_planes=8, path=str(tmp_path / "emb_idx")
    )
    got = {
        (r.new_id, r.corpus_id, r.cosine)
        for r in embedding_index_probe(
            batch, index, cosine_threshold=0.8
        ).collect()
    }

    corpus_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    new_ids = {r.vec_id for r in batch.select("vec_id").collect()}
    want = set()
    for r in embedding_near_dup_pairs(
        emb, cosine_threshold=0.8, num_planes=8
    ).collect():
        if r.id_a in corpus_ids and r.id_b in new_ids:
            want.add((r.id_b, r.id_a, r.cosine))
        elif r.id_b in corpus_ids and r.id_a in new_ids:
            want.add((r.id_a, r.id_b, r.cosine))
    assert got == want
    assert len(got) > 0


def test_jaccard_prefix_join_exact_vs_bruteforce(planted_docs):
    """The prefix-filter similarity join returns EXACTLY the pairs a
    brute-force python Jaccard over the same shingle sets returns —
    no false negatives from the prefix pruning, no false positives
    from the candidate join."""
    import re
    from itertools import combinations

    from stock_prediction_data_engineering_spark.operators.ssjoin import (
        jaccard_similarity_join,
    )

    rows = planted_docs.collect()

    def grams(text, n=3):
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    sets = {r.doc_id: grams(r.text) for r in rows}
    expected = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter * 2 >= union:
            expected.add((a, b, inter, union))

    got = {
        (r.doc_a, r.doc_b, r.inter_grams, r.union_grams)
        for r in jaccard_similarity_join(
            planted_docs, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert got == {(a, b, i, u) for (a, b, i, u) in expected}
    # the planted dups must actually surface
    assert any(p[:2] == (0, 1) for p in got)


def test_jaccard_prefix_join_threshold_monotone(planted_docs):
    """Raising the threshold can only shrink the result set, and every
    surviving pair's jac_bp clears the integer threshold."""
    from stock_prediction_data_engineering_spark.operators.ssjoin import (
        jaccard_similarity_join,
    )

    lo = {
        (r.doc_a, r.doc_b)
        for r in jaccard_similarity_join(
            planted_docs, threshold_num=1, threshold_den=2
        ).collect()
    }
    hi_rows = jaccard_similarity_join(
        planted_docs, threshold_num=9, threshold_den=10
    ).collect()
    hi = {(r.doc_a, r.doc_b) for r in hi_rows}
    assert hi <= lo
    assert all(r.jac_bp >= 9000 for r in hi_rows)


def test_hll_merge_estimates_within_tolerance(spark):
    """Per-year HLL estimates and the sketch-UNION total must each be
    within 5% of the exact distinct counts — and the total must come
    from merging the yearly sketch states, which this asserts by
    checking it approximates the GLOBAL distinct (not the sum of
    yearly distincts, which double-counts returning customers)."""
    from pyspark.sql import functions as F

    from conftest import SF_ORACLE
    from stock_prediction_data_engineering_spark.catalog import table
    from stock_prediction_data_engineering_spark.queries.aggregates import (
        q_hll_merge,
    )

    got = {r.grain: r.est_customers for r in q_hll_merge(spark, SF_ORACLE).collect()}
    o = table(spark, SF_ORACLE, "orders").select(
        F.year("o_orderdate").alias("y"), "o_custkey"
    )
    exact_per_year = {
        str(r.y): r.d
        for r in o.groupBy("y").agg(F.count_distinct("o_custkey").alias("d")).collect()
    }
    exact_total = o.select("o_custkey").distinct().count()
    sum_of_years = sum(exact_per_year.values())

    for y, exact in exact_per_year.items():
        assert abs(got[y] - exact) <= max(2, 0.05 * exact), (y, got[y], exact)
    assert abs(got["__total__"] - exact_total) <= max(2, 0.05 * exact_total)
    # the union total tracks the global distinct, not the yearly sum
    assert sum_of_years > exact_total  # testdata has returning customers
    assert got["__total__"] < 0.8 * sum_of_years


def test_collapse_expansion_equivalence_under_heavy_duplication(spark):
    """The exact-dup collapse (engaged: 10 copies per text) must
    return exactly what brute force returns for the similarity join,
    and the LSH pair set must contain every intra-cluster pair at
    jaccard 1.0 plus cross pairs mirroring the representative pairs."""
    import re
    from itertools import combinations

    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from stock_prediction_data_engineering_spark.operators.ssjoin import (
        jaccard_similarity_join,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill near the old stone wall"
    )
    texts = {
        0: base,
        1: base.replace("lazy", "sleepy"),
        2: "entirely different content about distributed shuffle hash "
           "joins and adaptive query execution in columnar engines",
    }
    # 10 exact copies of each text; ids interleaved so min-id reps are
    # nontrivial
    rows = [(t * 100 + c, txt) for t, txt in texts.items() for c in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n=3):
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}

    sets = {i: grams(txt) for i, txt in rows}
    expected = set()
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter * 2 >= union:
            expected.add((a, b, inter, union))
    got = {
        (r.doc_a, r.doc_b, r.inter_grams, r.union_grams)
        for r in jaccard_similarity_join(
            docs, threshold_num=1, threshold_den=2
        ).collect()
    }
    assert got == expected
    # sanity: brute force includes intra-cluster AND cross-cluster pairs
    assert (0, 1, len(sets[0]), len(sets[0])) in expected          # twins
    assert any(a < 100 <= b for (a, b, _i, _u) in expected)        # cross

    # LSH: every intra-cluster pair at jaccard exactly 1.0, and the
    # 0<->1 near-dup clusters fully cross-paired
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    for t in texts:
        ids = [t * 100 + c for c in range(10)]
        for a, b in combinations(ids, 2):
            assert pairs.get((a, b)) == 1.0, (a, b)
    cross_01 = [(a, b) for (a, b) in pairs if a < 100 <= b < 200]
    assert len(cross_01) == 100  # all 10x10 member pairs of clusters 0,1
    assert len({pairs[p] for p in cross_01}) == 1  # identical jaccard


def test_minhash_cluster_output_reconstructs_member_pairs(spark):
    """output='clusters' must carry EXACTLY the pair-mode information:
    expanding each cluster row (cross rows -> members_a x members_b
    pairs at the row's jaccard; self rows -> C(m,2) intra pairs at 1.0)
    reproduces the pair-mode answer, and the cluster output's
    cardinality is independent of duplication (one row per distinct-
    text pair, not per member pair)."""
    from itertools import combinations

    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm window sill near the old stone wall"
    )
    texts = {
        0: base,
        1: base.replace("lazy", "sleepy"),
        2: "entirely different content about distributed shuffle hash "
           "joins and adaptive query execution in columnar engines",
    }
    rows = [(t * 100 + c, txt) for t, txt in texts.items() for c in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pair_rows = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    cluster_rows = minhash_lsh_pairs(
        docs, jaccard_threshold=0.5, output="clusters"
    ).collect()

    # cluster cardinality: 3 self rows (one per exact-dup cluster) +
    # 1 cross row (texts 0<->1) — NOT the 135+100 member pairs
    assert len(cluster_rows) == 4
    members = {t: [t * 100 + c for c in range(10)] for t in texts}
    th_of = {t * 100 + c: t for t in texts for c in range(10)}

    rebuilt = set()
    for r in cluster_rows:
        if r.id_a == r.id_b:  # exact-dup cluster self-row
            ids = members[th_of[r.id_a]]
            assert r.members_a == r.members_b == len(ids)
            assert r.n_member_pairs == len(ids) * (len(ids) - 1) // 2
            assert r.jaccard == 1.0
            for a, b in combinations(sorted(ids), 2):
                rebuilt.add((a, b, 1.0))
        else:
            ids_a, ids_b = members[th_of[r.id_a]], members[th_of[r.id_b]]
            assert r.n_member_pairs == r.members_a * r.members_b
            for a in ids_a:
                for b in ids_b:
                    rebuilt.add((min(a, b), max(a, b), r.jaccard))
    got = {(r.id_a, r.id_b, r.jaccard) for r in pair_rows}
    assert rebuilt == got
    # total member-pair accounting matches the pair-mode row count
    assert sum(r.n_member_pairs for r in cluster_rows) == len(pair_rows)


def test_embedding_cluster_output_reconstructs_member_pairs(spark):
    """The embedding twin of the minhash cluster test: expanding each
    cluster row of embedding_near_dup_pairs(output='clusters') (cross
    rows -> members_a x members_b pairs at the row's cosine; self rows
    -> C(m,2) intra pairs) reproduces the pair-mode answer exactly,
    and cluster cardinality is duplication-independent."""
    from itertools import combinations

    from stock_prediction_data_engineering_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    vecs = {
        0: [1.0, 0.0, 0.2, 0.1],
        1: [0.98, 0.02, 0.21, 0.1],  # near-dup of 0
        2: [-1.0, 0.5, -0.3, 0.9],  # far from both
    }
    rows = [
        (t * 100 + c, [float(x) for x in v])
        for t, v in vecs.items()
        for c in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pair_rows = embedding_near_dup_pairs(
        emb, cosine_threshold=0.9, num_planes=2
    ).collect()
    cluster_rows = embedding_near_dup_pairs(
        emb, cosine_threshold=0.9, num_planes=2, output="clusters"
    ).collect()

    members = {t: [t * 100 + c for c in range(8)] for t in vecs}
    th_of = {t * 100 + c: t for t in vecs for c in range(8)}
    # duplication-independent cardinality: one self row per exact-dup
    # cluster (3) plus at most one cross row per distinct-vector pair
    assert len(cluster_rows) <= 3 + 3

    rebuilt = set()
    for r in cluster_rows:
        if r.id_a == r.id_b:
            ids = members[th_of[r.id_a]]
            assert r.members_a == r.members_b == len(ids)
            assert r.n_member_pairs == len(ids) * (len(ids) - 1) // 2
            for a, b in combinations(sorted(ids), 2):
                rebuilt.add((a, b, r.cosine))
        else:
            ids_a, ids_b = members[th_of[r.id_a]], members[th_of[r.id_b]]
            assert r.n_member_pairs == r.members_a * r.members_b
            for a in ids_a:
                for b in ids_b:
                    rebuilt.add((min(a, b), max(a, b), r.cosine))
    got = {(r.id_a, r.id_b, r.cosine) for r in pair_rows}
    assert rebuilt == got
    assert sum(r.n_member_pairs for r in cluster_rows) == len(pair_rows)


def test_audit_collapse_equivalence_under_heavy_duplication(spark):
    """contamination_pairs and leakage_profile must return exactly the
    brute-force answers when the exact-dup collapse engages (10 copies
    per text, ids arranged so copies straddle the %97 bench cut)."""
    import hashlib
    import re
    from collections import defaultdict

    from stock_prediction_data_engineering_spark.queries.llm_curation import (
        contamination_pairs,
    )
    from stock_prediction_data_engineering_spark.queries.llm_pipeline import (
        leakage_profile,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    texts = [
        base,                                  # md5 -> 'train'
        base + " omega8",                      # md5 -> 'test'; shares 5-grams with base
        base.replace("delta", "spark"),
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen",
        "zz",  # too short for 3- and 5-grams: must never pair
    ]
    # ids t*1000 + c: the 10 copies of a text take 10 CONSECUTIVE
    # residues mod 97, so some clusters straddle the bench/train cut
    # (id 0 and id 3007 = 31*97 are bench; their cluster twins train)
    rows = [(t * 1000 + c, txt) for t, txt in enumerate(texts) for c in range(10)]
    assert any(i % 97 == 0 for i, _ in rows) and any(i % 97 != 0 for i, _ in rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n):
        ws = [w for w in re.split(r" ", text) if True]
        return {
            " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
        } if len(ws) >= n else set()

    g3 = {i: grams(t, 3) for i, t in rows}
    exp_pairs = set()
    for b_id, _ in rows:
        if b_id % 97 != 0:
            continue
        for t_id, _ in rows:
            if t_id % 97 == 0:
                continue
            n = len(g3[t_id] & g3[b_id])
            if n:
                exp_pairs.add((t_id, b_id, n))
    got_pairs = {
        (r.train_doc_id, r.bench_doc_id, r.n_shared)
        for r in contamination_pairs(docs).collect()
    }
    assert got_pairs == exp_pairs
    # the collapse really engaged on a case with self-cluster pairs
    # (copies of one text on both sides of the cut => n_shared = |grams|)
    assert any(
        g3[t] == g3[b] and n == len(g3[t]) for (t, b, n) in exp_pairs
    )

    def split_of(text):
        h = hashlib.md5(text.encode()).hexdigest()[:2]
        return "train" if h < "cc" else ("val" if h < "e6" else "test")

    g5 = {i: grams(t, 5) for i, t in rows}
    exp_leak = {}
    for e_id, e_txt in rows:
        if split_of(e_txt) == "train":
            continue
        n_docs = n_grams = 0
        for t_id, t_txt in rows:
            if split_of(t_txt) != "train":
                continue
            s = len(g5[t_id] & g5[e_id])
            if s:
                n_docs += 1
                n_grams += s
        if n_grams:
            exp_leak[e_id] = (n_docs, n_grams)
    got_leak = {
        r.eval_doc_id: (r.n_train_docs, r.n_shared_grams)
        for r in leakage_profile(docs).collect()
    }
    assert got_leak == exp_leak
    # fixture must exercise both split sides or the check is vacuous
    assert {split_of(t) for t in texts} >= {"train", "test"} and exp_leak


def test_contamination_screen_equals_pair_aggregate(spark):
    """contamination_screen (the O(#train docs) aggregated gate) must
    equal the per-train-doc aggregation of contamination_pairs on the
    heavy-duplication fixture — the regime the aggregate exists for.
    Uses the same fixture as the audit equivalence test: 10 copies per
    text, clusters straddling the %97 bench cut."""
    import re

    from stock_prediction_data_engineering_spark.queries.llm_curation import (
        contamination_pairs,
        contamination_screen,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    texts = [
        base,
        base + " omega8",
        base.replace("delta", "spark"),
        "one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen",
        "zz",
    ]
    rows = [(t * 1000 + c, txt) for t, txt in enumerate(texts) for c in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams3(text):
        ws = re.split(r" ", text)
        return (
            {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
            if len(ws) >= 3
            else set()
        )

    g3 = {i: grams3(t) for i, t in rows}
    # brute-force aggregate of the pair answer
    exp: dict[int, tuple[int, int]] = {}
    for t_id, _ in rows:
        if t_id % 97 == 0 or not g3[t_id]:
            continue
        shared = [
            len(g3[t_id] & g3[b_id])
            for b_id, _ in rows
            if b_id % 97 == 0 and g3[t_id] & g3[b_id]
        ]
        if shared:
            exp[t_id] = (
                len(shared),
                max(shared) * 10000 // len(g3[t_id]),
            )
    got = {
        r.train_doc_id: (r.n_bench_hits, r.max_containment_bp)
        for r in contamination_screen(docs).collect()
    }
    assert got == exp and exp
    # consistency with the pair form on the same input: same train-doc
    # set, same per-doc hit counts
    pair_rows = contamination_pairs(docs).collect()
    from collections import defaultdict

    hits = defaultdict(set)
    for r in pair_rows:
        hits[r.train_doc_id].add(r.bench_doc_id)
    assert {t: len(bs) for t, bs in hits.items()} == {
        t: n for t, (n, _) in got.items()
    }


def test_boilerplate_collapse_equivalence_under_heavy_duplication(spark):
    """boilerplate_profile must return the brute-force per-doc profile
    when the collapse engages — including the df amplification from
    duplication itself (12 copies push every gram over the >=10 df
    threshold, so all copies must report 100% boilerplate)."""
    import re
    from collections import Counter

    from stock_prediction_data_engineering_spark.queries.llm_curation import (
        boilerplate_profile,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "alpha beta gamma delta epsilon nine ten eleven twelve thirteen",
        "totally unrelated content words here spread over many tokens now",
    ]
    rows = [(t * 1000 + c, txt) for t, txt in enumerate(texts) for c in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text):
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        return {" ".join(ws[i : i + 5]) for i in range(len(ws) - 4)}

    gsets = {i: grams(t) for i, t in rows}
    df = Counter(g for s in gsets.values() for g in s)
    expected = {}
    for i, s in gsets.items():
        if not s:
            continue
        nb = sum(1 for g in s if df[g] >= 10)
        expected[i] = (len(s), nb, nb * 10000 // len(s))
    got = {
        r.doc_id: (r.n_grams, r.n_boiler, r.boiler_bp)
        for r in boilerplate_profile(docs).collect()
    }
    assert got == expected
    # 12 copies of each text => every gram's df >= 12 => all boilerplate
    assert all(bp == 10000 for (_n, _nb, bp) in expected.values())


def test_embedding_collapse_equivalence_under_heavy_duplication(spark):
    """embedding_near_dup_pairs with 10 copies per vector (collapse
    engaged) must return every intra-cluster pair at cosine 1.0 and
    the full member expansion of each near-dup cluster pair."""
    import math
    from itertools import combinations

    from stock_prediction_data_engineering_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    dim = 16

    def vec(seed, eps=0.0):
        v = [math.sin(seed * 31 + j) for j in range(dim)]
        v[0] += eps
        return v

    vecs = {0: vec(1), 1: vec(1, 0.08), 2: vec(7)}
    rows = [(t * 1000 + c, vecs[t]) for t in vecs for c in range(10)]
    docs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(docs, cosine_threshold=0.95).collect()
    }
    # every intra-cluster member pair at cosine exactly 1.0
    for t in vecs:
        for a, b in combinations([t * 1000 + c for c in range(10)], 2):
            assert pairs.get((a, b)) == 1.0, (a, b)
    # clusters 0 and 1 are near-dups: all 100 member pairs present,
    # one shared cosine value below 1.0
    cross_01 = {p: c for p, c in pairs.items() if p[0] < 1000 <= p[1] < 2000}
    assert len(cross_01) == 100
    assert len(set(cross_01.values())) == 1 and all(
        c < 1.0 for c in cross_01.values()
    )
    # cluster 2 is unrelated: no pairs against 0/1
    assert not any(b >= 2000 and a < 2000 for (a, b) in pairs)


def test_containment_collapse_equivalence_under_duplication(spark):
    """q_containment_screen's cluster-level collapse must return the
    brute-force bigram-containment answer when the exact-dup collapse
    engages (10 copies per text straddling the %97 cut)."""
    import re

    from stock_prediction_data_engineering_spark import registry

    registry.load_all()
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    texts = [
        base,
        base + " omega8",             # high containment vs base
        base.replace("delta", "spark"),
        "one two three four five six seven eight nine ten",
        "zz",                          # no bigrams: never appears
    ]
    rows = [
        (t * 1000 + c, txt) for t, txt in enumerate(texts) for c in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def bigrams(text):
        ws = re.split(r" ", text)
        return (
            {" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)}
            if len(ws) >= 2
            else set()
        )

    g = {i: bigrams(t) for i, t in rows}
    exp = set()
    for b_id, _ in rows:
        if b_id % 97 != 0:
            continue
        for t_id, _ in rows:
            if t_id % 97 == 0 or not g[t_id]:
                continue
            ns, n = len(g[t_id] & g[b_id]), len(g[t_id])
            if ns * 10 >= n:
                exp.add((t_id, b_id, ns, n, ns * 10000 // n))
    # monkeypatched table(): run the registered query body on the
    # fixture by calling the underlying operator path directly
    from stock_prediction_data_engineering_spark.queries import llm_curation

    orig = llm_curation.table
    llm_curation.table = lambda _s, _d, _n: docs
    try:
        got = {
            (r.doc_id, r.bench_id, r.n_shared, r.n_grams, r.containment_bp)
            for r in registry.QUERIES["q_containment_screen"](
                spark, "unused"
            ).collect()
        }
    finally:
        llm_curation.table = orig
    assert got == exp
    # sanity: the fixture really exercises the collapse branch
    assert len(rows) == 50 and len({t for _, t in rows}) == 5


def test_ivf_index_write_load_append_ingest_loop(spark, tmp_path):
    """The appendable persisted IVF index (FAISS add() contract):
    write → load reproduces the in-memory search exactly; append
    assigns new batches against the FROZEN centroids in O(batch),
    lands them in the existing cell directories, and searches see
    them immediately."""
    import os

    import numpy as np
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        ivf_assign,
        ivf_index_append,
        ivf_index_load,
        ivf_index_write,
        ivf_search,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)
    path = str(tmp_path / "ivf_idx")

    built = ivf_index_write(corpus, path, n_cells=8)
    loaded = ivf_index_load(spark, path)
    assert np.allclose(loaded.centroids, built.centroids)
    qv = emb.filter(F.col("vec_id") == 1).select("embedding")
    assert [tuple(r) for r in ivf_search(loaded, qv, k=5).collect()] == [
        tuple(r) for r in ivf_search(built, qv, k=5).collect()
    ]

    n_cells_before = {
        d for d in os.listdir(path) if d.startswith("ivf_cell=")
    }
    ivf_index_append(spark, path, batch)
    # no new cells: appended rows land in existing directories
    assert {
        d for d in os.listdir(path) if d.startswith("ivf_cell=")
    } == n_cells_before

    after = ivf_index_load(spark, path)
    assert after.table.count() == emb.count()
    # appended assignments match a fresh assignment against the same
    # frozen centroids (no quantizer drift on append)
    got = {
        (r.vec_id, r.ivf_cell)
        for r in after.table.join(
            batch.select("vec_id"), "vec_id", "semi"
        ).select("vec_id", "ivf_cell").collect()
    }
    want = {
        (r.vec_id, r.ivf_cell)
        for r in ivf_assign(batch, built.centroids)
        .select("vec_id", "ivf_cell")
        .collect()
    }
    assert got == want
    # a query vector that lives in the appended batch is now found
    qv7 = emb.filter(F.col("vec_id") == 7).select("embedding")
    found = [r.vec_id for r in ivf_search(after, qv7, k=3, nprobe=8).collect()]
    assert found[0] == 7


def test_segment_dedup_clean_keeps_first_occurrence_only(spark):
    """C4-style transform semantics on planted duplicates: a segment
    occurring in several (doc, position) slots survives only at the
    lowest one; documents rebuild in order from surviving segments;
    a fully-duplicated document comes back empty, not missing."""
    from stock_prediction_data_engineering_spark.operators.dedup import (
        segment_dedup_clean,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),    # "a b c" (first), "d e f"
            (2, "a b c x y z"),    # "a b c" dup -> drop; "x y z" first
            (3, "x y z"),          # dup of doc 2's segment -> all gone
            (4, "p q r s"),        # unique, incl. the partial tail "s"
        ],
        "doc_id: bigint, text: string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_segments, r.n_dropped)
        for r in segment_dedup_clean(docs, seg_words=3).collect()
    }
    assert got == {
        1: ("a b c d e f", 2, 0),
        2: ("x y z", 2, 1),
        3: ("", 1, 1),
        4: ("p q r s", 2, 0),
    }


def test_lsh_index_write_load_append(spark, tmp_path):
    """Appendable persisted LSH: load reproduces the build's searches;
    appended batches bucket with the pinned plane count (exact — LSH
    has no fitted state) and are immediately searchable."""
    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        lsh_bucket,
        lsh_index_append,
        lsh_index_load,
        lsh_index_write,
        lsh_search,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 9 != 0)
    batch = emb.filter(F.col("vec_id") % 9 == 0)
    path = str(tmp_path / "lsh_idx")

    built = lsh_index_write(corpus, path, num_planes=6)
    loaded = lsh_index_load(spark, path)
    qv = emb.filter(F.col("vec_id") == 1).select("embedding")
    assert [tuple(r) for r in lsh_search(loaded, qv, k=5).collect()] == [
        tuple(r) for r in lsh_search(built, qv, k=5).collect()
    ]

    lsh_index_append(spark, path, batch)
    after = lsh_index_load(spark, path)
    assert after.table.count() == emb.count()
    # appended buckets match a fresh bucketing at the pinned planes
    got = {
        (r.vec_id, r.bucket)
        for r in after.table.join(batch.select("vec_id"), "vec_id", "semi")
        .select("vec_id", "bucket")
        .collect()
    }
    want = {
        (r.vec_id, r.b)
        for r in batch.select(
            "vec_id", lsh_bucket(F.col("embedding"), 6).alias("b")
        ).collect()
    }
    assert got == want
    # an appended vector is found by a probe of its own bucket
    qv9 = emb.filter(F.col("vec_id") == 9).select("embedding")
    found = [
        r.vec_id for r in lsh_search(after, qv9, k=3, multi_probe=1).collect()
    ]
    assert found[0] == 9


def test_staged_append_visibility_contract(spark, tmp_path):
    """The two-phase index append (staged_append): staged batches live
    under a hidden ``_staging`` prefix that parquet readers never see —
    so a FAILED append (simulated here as a staging dir that never got
    its rename pass) leaves reader-visible contents unchanged — and a
    completed append leaves no staging residue behind."""
    import os

    from conftest import SF_SMOKE
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators.similarity import (
        lsh_bucket,
        staged_append,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    bucketed = emb.withColumn("bucket", lsh_bucket(F.col("embedding"), 6))
    corpus = bucketed.filter(F.col("vec_id") % 9 != 0)
    batch = bucketed.filter(F.col("vec_id") % 9 == 0)
    path = str(tmp_path / "lake")
    (
        corpus.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    n0 = spark.read.parquet(path).count()

    # crashed append: the batch reached staging but no rename ran —
    # readers must see exactly the pre-append contents
    (
        batch.repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(path, "_staging", "batch-dead"))
    )
    assert spark.read.parquet(path).count() == n0

    # completed append: rows visible, staging gone (incl. the orphan's
    # parent dir staying hidden), file names carry the batch id
    staged_append(batch, path, "bucket")
    assert spark.read.parquet(path).count() == n0 + batch.count()
    live = {
        d for d in os.listdir(path) if not d.startswith(("_", "."))
    }
    assert all(d.startswith("bucket=") for d in live)
    batch_files = [
        f
        for d in live
        for f in os.listdir(os.path.join(path, d))
        if f.startswith("batch-")
    ]
    assert batch_files, "appended files should carry the batch-id prefix"


def test_staged_append_rejects_uris_and_sweeps_dead_staging(spark, tmp_path):
    """ADVICE r7: staged_append publishes via os.rename + a pid-liveness
    sweep, both local-filesystem-only — scheme-qualified URIs must be
    rejected loudly, and staging dirs whose embedded writer pid is dead
    AND whose mtime is stale must be reclaimed on the next append, while
    fresh or live-pid dirs survive."""
    import os
    import time

    import pytest

    from stock_prediction_data_engineering_spark.operators.similarity import (
        staged_append,
    )

    df = spark.range(4).selectExpr("id", "pmod(id, 2) as bucket")
    with pytest.raises(ValueError, match="local filesystem"):
        staged_append(df, "s3a://bucket/index", "bucket")
    with pytest.raises(ValueError, match="local filesystem"):
        staged_append(df, f"file://{tmp_path}/index", "bucket")

    path = str(tmp_path / "lake")
    staging = os.path.join(path, "_staging")
    os.makedirs(staging)
    # provably dead: pid from a child that already exited, stale mtime
    dead_pid = os.spawnlp(os.P_NOWAIT, "true", "true")
    os.waitpid(dead_pid, 0)
    dead_dir = os.path.join(staging, f"batch-{dead_pid}-{'a' * 12}")
    live_dir = os.path.join(staging, f"batch-{os.getpid()}-{'b' * 12}")
    fresh_dir = os.path.join(staging, f"batch-{dead_pid}-{'c' * 12}")
    for d in (dead_dir, live_dir, fresh_dir):
        os.makedirs(d)
    old = time.time() - 7200
    os.utime(dead_dir, (old, old))
    os.utime(live_dir, (old, old))  # stale but pid alive -> keep

    staged_append(df, path, "bucket")
    assert not os.path.exists(dead_dir), "dead-pid stale dir must be swept"
    assert os.path.exists(live_dir), "live-pid dir must survive any age"
    assert os.path.exists(fresh_dir), "fresh dir must survive a dead pid"
    assert spark.read.parquet(path).count() == 4


def test_segment_dedup_clean_is_identity_without_duplicates(spark):
    """On a corpus whose segments are globally unique, the transform
    is the identity: clean_text == text and nothing is dropped (the
    reconstruction path — split, canonicalize, reassemble — must be
    lossless, including partial tail segments)."""
    from stock_prediction_data_engineering_spark.operators.dedup import (
        segment_dedup_clean,
    )

    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 7) % 11)))
        for i in range(1, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    out = {
        r.doc_id: (r.clean_text, r.n_dropped)
        for r in segment_dedup_clean(docs, seg_words=4).collect()
    }
    for i, text in rows:
        assert out[i] == (text, 0)
