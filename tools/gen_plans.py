"""Regenerate PLANS.md: formatted physical plans of representative
queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: python tools/gen_plans.py
       python tools/gen_plans.py --queries q_a,q_b --out-dir DIR

The second form writes one ``DIR/<query>.txt`` per query: the
formatted physical plan (``explain("formatted")``) with the ids Spark
draws from JVM-wide counters normalized — expression ids (``#123``),
exchange plan ids and checkpoint RDD ids — so that dumps made from two
checkouts compare with a plain ``diff -r``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PICKS = {
    "q_multi_agg": (
        "TPC-H-Q1 multi-aggregate scan: filter+projection pushed to the "
        "scan, partial+final hash agg, one exchange"
    ),
    "q_join_multiway": "star join: all four dims broadcast, single exchange (final agg only)",
    "q_join_asof": "as-of join: union + per-key window forward-fill — one shuffle, no nested loop",
    "q_window_lag_return": (
        "per-key window: hash-partitioned by symbol key, in-partition sort, no SinglePartition"
    ),
    "q_rollup": "two-level rollup: Expand runs over the pre-aggregated groups, not the fact table",
    "q_symbol_preprocess": "flagship composite: probe-count agg joined to dim, filter, project, sort",
    "q_topk_similar": (
        "vector top-k: broadcast 1-row query, JVM higher-order dot product, TakeOrderedAndProject"
    ),
    "q_ntile": (
        "distributed global NTILE: range partition on the order key, per-slice "
        "row_number + offset map — no SinglePartition window"
    ),
    "q_top_revenue_orders": (
        "TPC-H-Q3 shape: dims filtered then broadcast, lineitem joined once, "
        "exact decimal revenue, TakeOrderedAndProject top-10"
    ),
    "q_bollinger_bands": (
        "finance indicator: three window accumulators share ONE (user_id) "
        "hash partitioning + in-partition sort — a single shuffle"
    ),
    "q_market_beta": (
        "beta composite: one events scan, per-(user,day) agg reused for the "
        "market rollup, tiny day table broadcast back, keyed component-sum agg"
    ),
    "q_sequence_pack": (
        "training-shard packing: ONE per-domain cumulative-sum window "
        "(hash partition by source + in-partition sort), div/mod assignment "
        "in whole-stage codegen — no global order anywhere"
    ),
    "q_heavy_keys": (
        "skew profile: keyed count with map-side partials, 1-row grand total "
        "broadcast back (BroadcastNestedLoopJoin of a single row), "
        "TakeOrderedAndProject top-20"
    ),
    "q_join_skew_split": (
        "differentiated skew join: hot-key branch salted against only the "
        "dim's hot rows, cold branch plain, union — small-side replication "
        "bounded at |hot| x salts instead of |dim| x salts"
    ),
    "q_concurrent_events": (
        "sweep-line concurrency: union of +1/-1 delta streams, ONE per-type "
        "window exchange for the prefix sum, keyed max reusing its "
        "partitioning"
    ),
    "q_rolling_corr": (
        "rolling correlation: fact table compressed to (user, day) once, "
        "|days| market series broadcast back, six exact component sums over "
        "one shared 20-row frame — a single window exchange"
    ),
    "q_domain_resample": (
        "temperature rebalance: per-source counts -> 1-row min reduce -> "
        "broadcast caps joined onto a content-hash rank window keyed by "
        "source (the only fact-table exchange)"
    ),
    "q_table_profile": (
        "ANALYZE profile: one pruned columnar scan per column (ReadSchema "
        "is single-column), independent aggregates unioned — no Expand"
    ),
    "q_skyline": (
        "two-phase skyline: keyed local-prune windows, then broadcast "
        "left-anti dominance verify over the frontier-sized candidates"
    ),
    "q_ks_stat": (
        "KS statistic: distinct-value aggregate, range-partitioned "
        "prefix sum (localCheckpoint barrier), broadcast totals — "
        "no un-partitioned window"
    ),
    "q_quantile_sketch": (
        "sqrt-histogram quantile sketch: bucket aggregate, prefix sum "
        "over the bucket table, broadcast percentile probe join"
    ),
    "q_boilerplate_ngrams": (
        "boilerplate audit: distinct-gram explode, gram-df aggregate, "
        "AQE-sized join back, per-doc aggregate"
    ),
    "q_tpch_product_profit": (
        "TPC-H Q9 shape: name-filtered part and supplier-nation both "
        "broadcast so lineitem is pruned BEFORE the one real shuffle "
        "(orders equi-join), exact decimal profit aggregate"
    ),
    "q_substring_dedup": (
        "winnowing substring dedup: row-local fingerprint arrays behind a "
        "localCheckpoint barrier (no CollapseProject re-eval), fp-keyed "
        "df-cap semi join, bounded pair self-join — keyed joins only"
    ),
    "q_feature_covariance": (
        "covariance matrix: ONE lineitem scan into a 15-sum map-side-"
        "combined aggregate (decimal(38) products), stack() explodes the "
        "single result row — no per-cell re-aggregation"
    ),
    "q_weighted_median": (
        "weighted median: keyed (flag, price) pre-aggregate bounds the "
        "cumulative window to the price DOMAIN, not the corpus; integer "
        "half-total test"
    ),
    "q_ann_pq_rerank": (
        "ADC shortlist -> exact re-rank: the second stage reads the float "
        "table through a pushed-down In(vec_id) predicate (row-group "
        "pruning) with the 1-row query broadcast — never a second corpus "
        "scan"
    ),
    "q_segment_dedup_clean": (
        "C4-style cleaned-corpus transform: segment canonicalization is a "
        "map-side-combined min/count aggregate joined back (AQE picks the "
        "join), doc rebuild one keyed aggregate with in-array sort — no "
        "rank window over segment keys, no global sort"
    ),
}


# ids Spark draws from JVM-wide counters: they differ between any two
# runs of the same plan, so a dump replaces each with a fixed token
_RUN_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def normalized_plan(spark, df) -> str:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pat, token in _RUN_IDS:
        plan = pat.sub(token, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", help="comma-separated query names to dump")
    ap.add_argument("--out-dir", help="directory for the --queries dumps")
    args = ap.parse_args()
    if bool(args.queries) != bool(args.out_dir):
        ap.error("--queries and --out-dir go together")

    from stock_prediction_data_engineering_spark import registry
    from stock_prediction_data_engineering_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plans")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if args.queries:
        os.makedirs(args.out_dir, exist_ok=True)
        for name in args.queries.split(","):
            plan = normalized_plan(spark, registry.QUERIES[name.strip()](spark, sf))
            path = os.path.join(args.out_dir, f"{name.strip()}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan.splitlines())} lines)")
        spark.stop()
        return
    out = [
        "# PLANS — physical plans of representative queries (sf0.1, local[32])",
        "",
        "Generated by `python tools/gen_plans.py`. These are the plans the",
        "scale posture relies on; `tests/test_plan_shapes.py` pins the key",
        "properties so they can't regress silently.",
        "",
    ]
    for name, why in PICKS.items():
        df = registry.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        tree = plan.split("\n\n")[0]  # tree only, not per-node detail
        out += [f"## {name}", "", f"*{why}*", "", "```", tree.rstrip(), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
