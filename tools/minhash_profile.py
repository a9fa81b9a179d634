"""Ad-hoc stage profile for minhash_lsh_pairs at a given fixture:
times (1) exact-dup collapse + shingling, (2) signatures, (3) band
table, (4) candidates (bucket grouping + packed-bound prune), (5)
exact verify + threshold, by materializing each of the operator's own
stages (operators/dedup.py) in turn. Diagnostic only.

Usage: python tools/minhash_profile.py [.data/sf10u] [threshold]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from stock_prediction_data_engineering_spark.operators import dedup
    from stock_prediction_data_engineering_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".data/sf10u"
    thr = float(sys.argv[2]) if len(sys.argv) > 2 else 0.2
    spark = get_spark()
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    t0 = time.time()
    _, _, d, _, src = dedup._collapse(docs, "doc_id", "text", profile=False)
    base = src.select(
        "id", dedup.hashed_shingle_set("__t", 5).alias("sh_hashes")
    ).localCheckpoint(eager=False)
    base.count()
    t1 = time.time()
    print(f"collapse+shingle: {t1-t0:.1f}s  reps={d}")

    sp = dedup._signatures(base, 64).localCheckpoint(eager=False)
    sp.count()
    t2 = time.time()
    print(f"signatures:       {t2-t1:.1f}s")

    banded = dedup._band_table(sp, 16, 4, extra=("n",)).localCheckpoint(eager=False)
    banded.count()
    t3 = time.time()
    print(f"band table:       {t3-t2:.1f}s")

    cands = dedup._packed_prune(
        dedup._bucket_candidates(banded, thr, n_parts), sp, d, thr
    ).localCheckpoint(eager=False)
    n_c = cands.count()
    t4 = time.time()
    print(f"candidates:       {t4-t3:.1f}s  n={n_c}")

    counted = dedup._verify(cands, base.select("id", F.col("sh_hashes").alias("h")), d)
    inter = F.col("inter")
    jacc = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    n_p = counted.filter(F.round(jacc, 4) >= thr).count()
    t5 = time.time()
    print(f"verify:           {t5-t4:.1f}s  pairs={n_p}")
    print(f"TOTAL(prefix sum) {t5-t0:.1f}s")
    spark.stop()


if __name__ == "__main__":
    main()
