"""Row-count accounting for the MinHash-LSH scale story.

The sf1/sf10 replication fixtures are 100% exact-duplicated (every
text has 10 / 100 copies), so q_dedup_minhash's member-pair output
grows QUADRATICALLY in the duplication factor by the answer's own
semantics — m copies on each side of a dup pair are m^2 real rows.
This tool measures each pipeline stage's cardinality alongside wall
time so the super-linear bench ratio can be attributed: if candidate
and verified DISTINCT-TEXT pairs stay flat across scales while the
emitted member pairs (and only they) grow ~100x per decade, the cost
is output expansion, not a plan cliff.

Usage:
    python tools/minhash_accounting.py SF_DIR [SF_DIR ...]

Prints one JSON line per sf_dir:
    {"sf_dir": ..., "n_docs": N, "n_distinct_texts": D,
     "candidate_rep_pairs": C, "verified_rep_pairs": V,
     "member_pairs_emitted": M, "cluster_rows": K,
     "pairs_sec": t1, "clusters_sec": t2}

Stage counts call the operator's own signature and candidate stages
(operators/dedup.py _signatures, _band_table, _bucket_candidates, with
q_dedup_minhash's k=5, 64 hashes, 16 bands and threshold 0.2, whose
length filter is part of the candidate stage) so the accounting can't
drift from the measured pipeline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def account(spark, sf_dir: str) -> dict:
    from stock_prediction_data_engineering_spark.operators.dedup import (
        _band_table,
        _bucket_candidates,
        _signatures,
        hashed_shingle_set,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    reps = docs.dropDuplicates(["text"])
    n_distinct = reps.count()

    # candidate stage at rep grain: the operator's own stages
    base = reps.select(
        F.col("doc_id").alias("id"), hashed_shingle_set("text", 5).alias("sh_hashes")
    )
    banded = _band_table(_signatures(base, 64), 16, 4, extra=("n",))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cands = _bucket_candidates(banded, 0.2, n_parts).count()
    # verified distinct-text pairs at the bench threshold
    verified = minhash_lsh_pairs(reps, jaccard_threshold=0.2).count()

    # member-pair mode: timed exactly like bench.py (noop write,
    # min of 2 after an untimed codegen pass)
    def timed(df_fn):
        runs = []
        for measured in (False, True, True):
            t0 = time.perf_counter()
            df = df_fn()
            df.write.format("noop").mode("overwrite").save()
            if measured:
                runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    pairs_sec = timed(lambda: minhash_lsh_pairs(docs, jaccard_threshold=0.2))
    member_pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.2).count()
    clusters_sec = timed(
        lambda: minhash_lsh_pairs(
            docs, jaccard_threshold=0.2, output="clusters"
        )
    )
    cluster_rows = minhash_lsh_pairs(
        docs, jaccard_threshold=0.2, output="clusters"
    ).count()
    return {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "n_distinct_texts": n_distinct,
        "candidate_rep_pairs": cands,
        "verified_rep_pairs": verified,
        "member_pairs_emitted": member_pairs,
        "cluster_rows": cluster_rows,
        "pairs_sec": pairs_sec,
        "clusters_sec": clusters_sec,
    }


def main() -> None:
    from stock_prediction_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="minhash-accounting")
    for sf_dir in sys.argv[1:]:
        print(json.dumps(account(spark, sf_dir)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
