"""Value-check q_similarity_join at scales where its brute-force
O(n²) DuckDB oracle cannot run (SWEEP_r9_sf10u: ABORTED at 377 k
distinct texts — the oracle, not the operator, is the bottleneck).

Protocol (the round-9 verdict's superset check): an INDEPENDENT
candidate path — MinHash-LSH banding over the SAME word-3-gram sets,
through MinHash's own signature and candidate stages — followed by the
SAME exact verify stage (operators/dedup.py _verify) produces pairs with exact
(inter_grams, union_grams, jac_bp) on the same xxhash64'd gram sets.
MinHash banding has false negatives (band misses) but ZERO false
positives after exact verification, so against the PPJoin prefix-
filter output (operators/ssjoin.py, which claims NO false negatives):

  (1) every cross-check pair must appear in the PPJoin output
      (a missing pair would prove a candidate-completeness bug in
      the prefix/length/position filters);
  (2) on shared pairs, (inter_grams, union_grams, jac_bp) must be
      bit-identical (both sides are integer arithmetic over the same
      hashed gram sets);
  (3) coverage = |crosscheck| / |ppjoin| is reported as the cross-
      checker's recall (informative: band-miss rate, not a gate).

The two sides share the tokenizer and the gram hash — exactly the
part the sf1u brute-force oracle already value-checks — and the verify
stage, whose two intersect branches are pinned bit-identical by
tests/test_dedup_similarity.py. They disagree on candidate generation
(prefix/length/position filters vs LSH bands), which is what the
large-scale run is meant to exercise.

Usage:
    python tools/ssjoin_crosscheck.py [--sf-dir .data/sf10u]
        [--out SSJOIN_XCHECK_r10.json] [--num-hashes 128] [--bands 32]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=str(REPO / ".data/sf10u"))
    ap.add_argument("--out", default="")
    # wider signature than the dedup default: the cross-check wants
    # HIGH recall at jaccard 0.5, and 32 bands x 4 rows has band-hit
    # probability 1-(1-s^4)^32 ≈ 0.87 at s=0.5 (vs 0.27 for 16x4)
    ap.add_argument("--num-hashes", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.catalog import table
    from stock_prediction_data_engineering_spark.operators.dedup import (
        _band_table,
        _bucket_candidates,
        _signatures,
        _verify,
        shingle_hashes,
    )
    from stock_prediction_data_engineering_spark.operators.ssjoin import (
        jaccard_similarity_join,
        word_ngrams,
    )
    from stock_prediction_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="ssjoin_crosscheck", driver_mem="16g")
    docs = table(spark, args.sf_dir, "documents").select("doc_id", "text")

    # --- side A: the operator under test (q_similarity_join's exact
    # parameters: word 3-grams, jaccard >= 1/2) ---
    t0 = time.time()
    pp = jaccard_similarity_join(
        docs, id_col="doc_id", text_col="text", ngram=3,
        threshold_num=1, threshold_den=2,
    ).localCheckpoint(eager=True)
    n_pp = pp.count()
    t_pp = round(time.time() - t0, 2)
    print(f"[xcheck] ppjoin pairs={n_pp} in {t_pp}s", file=sys.stderr)

    # --- side B: independent MinHash-banded candidates over the SAME
    # gram sets, through the operator's own exact verify stage ---
    t0 = time.time()
    par = spark.sparkContext.defaultParallelism
    arrs = (
        docs.repartition(par, "doc_id")
        .select(
            F.col("doc_id").alias("id"),
            word_ngrams("text", 3).alias("arr"),
        )
        .withColumn("n", F.size("arr"))
        .filter(F.col("n") >= 1)  # gram-less docs cannot pair
        # the same per-gram xxhash64 the PPJoin verify intersects —
        # shared on purpose: the gram definition/hash is already
        # value-checked by the sf1u brute-force oracle
        .withColumn("h", F.transform("arr", lambda g: F.xxhash64(g)))
        # minhash base hashes over the gram STRINGS (mod 2^31-1),
        # independent of the verify hash above
        .withColumn("sh_hashes", shingle_hashes(F.col("arr")))
        .localCheckpoint(eager=False)
    )
    d = arrs.count()
    banded = _band_table(
        _signatures(arrs, args.num_hashes),
        args.bands,
        args.num_hashes // args.bands,
        extra=("n",),
    )
    # the length filter at J >= 1/2 is lossless, like the PPJoin's own
    cand = _bucket_candidates(banded, 0.5, par).select("id_a", "id_b")
    counted = _verify(cand, arrs.select("id", "h", "n"), d)
    mh = (
        counted.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("inter").cast("bigint").alias("inter_grams"),
            (F.col("n_a") + F.col("n_b") - F.col("inter"))
            .cast("bigint")
            .alias("union_grams"),
        )
        .filter(F.col("inter_grams") * 2 >= F.col("union_grams"))
        .withColumn(
            "jac_bp", F.expr("(inter_grams * 10000) div union_grams")
        )
        .localCheckpoint(eager=True)
    )
    n_mh = mh.count()
    t_mh = round(time.time() - t0, 2)
    print(f"[xcheck] minhash-verified pairs={n_mh} in {t_mh}s",
          file=sys.stderr)

    # (1) subset: cross-check pairs missing from the PPJoin output
    missing = (
        mh.join(pp.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
        .count()
    )
    # (2) value equality on shared pairs
    joined = mh.alias("m").join(
        pp.alias("p"), ["doc_a", "doc_b"], "inner"
    )
    n_shared = joined.count()
    mismatched = joined.filter(
        (F.col("m.inter_grams") != F.col("p.inter_grams"))
        | (F.col("m.union_grams") != F.col("p.union_grams"))
        | (F.col("m.jac_bp") != F.col("p.jac_bp"))
    ).count()

    ok = missing == 0 and mismatched == 0 and n_shared == n_mh
    out = {
        "query": "q_similarity_join",
        "sf_dir": args.sf_dir,
        "protocol": (
            "independent MinHash-LSH candidates over the same word-3-gram "
            "sets, same exact integer verify; crosscheck pairs must be a "
            "value-identical subset of the PPJoin output"
        ),
        "num_hashes": args.num_hashes,
        "bands": args.bands,
        "n_ppjoin": n_pp,
        "n_crosscheck": n_mh,
        "n_shared": n_shared,
        "n_missing_from_ppjoin": missing,
        "n_value_mismatch": mismatched,
        "coverage": round(n_mh / n_pp, 4) if n_pp else None,
        "sec_ppjoin": t_pp,
        "sec_crosscheck": t_mh,
        "ok": ok,
    }
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
