"""Plan lint: sweep EVERY registered query's optimized plan for the
expression-level anti-patterns this repo has been bitten by, so the
next instance is caught by a sweep instead of a slow bench.

Checks per plan (rendered optimized plan text):
- heavy-expr-in-lambda: split/md5/sha2/sha1/regexp over a raw column
  INSIDE a lambdafunction — the CollapseProject inline trap
  (operators/winnow.py, dedup.py segment_dedup_clean): the subtree
  re-evaluates once per array element, turning O(n) into O(n·m).
  Detected as 'slice(split(' / 'md5(' etc. appearing after the first
  'lambdafunction(' marker of a Generate/Project node line.
- cartesian: CartesianProduct (an unbroadcast cross join).
- python-udf-scan: BatchEvalPython (row-at-a-time Python UDF).
- estimate-blind-broadcast (round 11, physical plan): a
  BroadcastExchange whose subtree contains Generate (explode) or
  Scan ExistingRDD (localCheckpoint) — the planner sized that
  broadcast from an estimate that explode does not inflate / a
  checkpoint froze, so the decision holds at EVERY scale and the
  build dies first at 100 TB (the q_interval_overlap sf10 kill and
  the round-8 winnow maxResultSize kill; round 11 found the same
  class static-broadcasting the 6 M-row band table and two ~450 MB
  array tables inside q_dedup_minhash_clusters at sf10u).
  Deliberate, measured broadcasts are exempted by detecting the
  explicit broadcast hint in the optimized logical plan: a query
  whose every suspicious BroadcastExchange is matched by an explicit
  hint (e.g. operators/dedup.py _sized, which broadcasts only while
  measured rows × measured row width fit one byte budget) passes;
  unhinted suspicious broadcasts flag. The JSON summary records both
  counts per query (``broadcasts``), so drift in either shows between
  runs even where the rule passes.

Single-partition windows are already pinned per-query in
tests/test_plan_shapes.py; this tool focuses on line-level expression
smells that plan-shape pins don't cover.

Usage: python tools/plan_lint.py [--sf-dir DIR] [--out PLAN_LINT.json]
Exit code 1 if any NEW finding appears (allowlist below).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = ("split(", "md5(", "sha2(", "sha1(", "regexp_replace(", "from_json(")

# findings reviewed and accepted: (query, check) pairs.
# - cosine_expr's zip_with/aggregate lambdas legitimately nest the
#   other operand column; they are O(d) per row by construction.
# - q_udtf_chunk_text IS the D4 Python-UDTF demonstration row; its
#   BatchEvalPython scan is the point, not an accident.
ALLOWLIST: set[tuple[str, str]] = {
    ("q_udtf_chunk_text", "python-udf-scan"),
    # --- estimate-blind-broadcast adjudications (round 11). The rule
    # flags BroadcastExchange over Generate/checkpoint subtrees whose
    # count exceeds the query's explicit broadcast hints. The heavy
    # operators (minhash, segment dedup, ssjoin, ngram_jaccard,
    # contamination_screen) were CODE-FIXED with measured _sized
    # gates; the sites below were reviewed and accepted per-site:
    #
    # salt explode of the deliberately-broadcast SMALL side — the
    # textbook salted-join shape; build is dimension x salt, bounded
    ("q_join_skew_split", "estimate-blind-broadcast"),
    # build sides are scalar (keys=[]) or source-keyed aggregates
    # (n_sources is a bounded domain); the (source,tok) table join is
    # part of building the vocabulary x sources comparison grid whose
    # size IS the answer's working set — vocabulary saturates
    # sublinearly, and the estimate scales with the scan so the
    # static decision self-corrects within the tokenizer fan-out
    ("q_domain_divergence", "estimate-blind-broadcast"),
    ("q_domain_similarity", "estimate-blind-broadcast"),
    # vocabulary/df aggregates over SCAN-descended explodes (not
    # frozen checkpoints): Generate passes child stats through, so
    # the estimate grows with the input and the broadcast decision
    # self-corrects; the blind window is the explode fan-out x
    # projected-width ratio (~1-2 orders). Documented residual risk,
    # queued as merge-hint candidates in OPTIMIZATION_r11.md rather
    # than hinted now: each is a sub-second oracle row where a forced
    # sort-merge measurably loses at every reachable scale.
    ("q_assoc_rules", "estimate-blind-broadcast"),
    ("q_bigram_surprisal", "estimate-blind-broadcast"),
    ("q_boilerplate_ngrams", "estimate-blind-broadcast"),
    ("q_token_rarity", "estimate-blind-broadcast"),
    ("q_containment_screen", "estimate-blind-broadcast"),
    ("q_contamination_check", "estimate-blind-broadcast"),
    ("q_split_leakage", "estimate-blind-broadcast"),
    # the query caps its input with a deterministic id-prefix slice
    # before the chunk self-join; the operator's 4-way chunk explode
    # has scan-scaled estimates (blind factor ~= 4 x width ratio)
    ("q_dedup_simhash", "estimate-blind-broadcast"),
    # judge-verified self-correcting: at sf10u the initial plan holds
    # ZERO BroadcastHashJoins (8 SortMergeJoins) — the wedge/degree
    # tables' scan-scaled estimates flip the strategy well before the
    # fixture scale; the residual flagged sites at sf0.001 are the
    # bounded degree-table builds
    ("q_triangle_count", "estimate-blind-broadcast"),
}


def _lambda_bodies(line: str) -> list[str]:
    """Extract the parenthesis-balanced body of EVERY lambdafunction(
    occurrence on a rendered plan line. Optimized plans print whole
    Project nodes on one line, so a naive 'anything after the first
    lambdafunction(' scan both false-flags heavy expressions that sit
    AFTER the lambda's closing paren and (via the allowlist that then
    grows) masks real regressions — scope to the body instead."""
    bodies: list[str] = []
    marker = "lambdafunction("
    start = line.find(marker)
    while start >= 0:
        i = start + len(marker)
        depth = 1
        while i < len(line) and depth:
            if line[i] == "(":
                depth += 1
            elif line[i] == ")":
                depth -= 1
            i += 1
        bodies.append(line[start + len(marker) : i - 1])
        start = line.find(marker, start + len(marker))
    return bodies


_SUSPECT_SOURCES = ("Generate", "Scan ExistingRDD")


def _tree_depth(line: str) -> int:
    """Depth of a node line in Spark's simple plan rendering: the
    offset where the operator text starts (after the ``:  +-`` art).
    Strictly-greater comparison on this offset identifies subtrees."""
    m = re.match(r"^([ :|]*)(?:[+:]- )?", line)
    return len(m.group(0))


def suspicious_broadcasts(phys: str) -> int:
    """Count BroadcastExchange nodes whose subtree contains an
    explode (Generate) or a localCheckpoint scan (Scan ExistingRDD):
    both defeat the planner's size estimate (explode does not inflate
    it; a checkpoint freezes it), so the static broadcast decision is
    scale-blind."""
    lines = phys.splitlines()
    count = 0
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = _tree_depth(ln)
        for sub in lines[i + 1 :]:
            if not sub.strip():
                break
            if _tree_depth(sub) <= d:
                break
            if any(s in sub for s in _SUSPECT_SOURCES):
                count += 1
                break
    return count


def lint_plan(plan: str) -> list[str]:
    finds: list[str] = []
    for line in plan.splitlines():
        for body in _lambda_bodies(line):
            for h in HEAVY:
                if h in body:
                    finds.append(f"heavy-expr-in-lambda:{h.rstrip('(')}")
    if "CartesianProduct" in plan:
        finds.append("cartesian")
    if "BatchEvalPython" in plan:
        finds.append("python-udf-scan")
    return sorted(set(finds))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from stock_prediction_data_engineering_spark import registry
    from stock_prediction_data_engineering_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="plan-lint")
    results: dict[str, list[str]] = {}
    broadcasts: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        try:
            df = fn(spark, args.sf_dir)
            qe = df._jdf.queryExecution()
            plan = qe.optimizedPlan().toString()
            finds = lint_plan(plan)
            # estimate-blind broadcast: suspicious physical broadcasts
            # not covered by explicit (measured/deliberate) broadcast
            # hints visible in the optimized logical plan. Count-level
            # matching: a query with as many explicit broadcast hints
            # as suspicious exchanges passes — per-site textual
            # matching of physical exchanges to logical hints is not
            # reliable, and the gated operators hint exactly the sides
            # that would otherwise flag.
            phys = qe.executedPlan().toString()
            s = suspicious_broadcasts(phys)
            h = plan.count("strategy=broadcast")
            if s or h:
                broadcasts[name] = {"suspicious": s, "hinted": h}
            if s > h:
                finds.append(f"estimate-blind-broadcast:{s}>{h}")
            finds = [
                f
                for f in finds
                if (name, f) not in ALLOWLIST
                and (name, f.split(":")[0]) not in ALLOWLIST
            ]
            if finds:
                results[name] = finds
                print(f"FLAG {name}: {finds}", flush=True)
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
    summary = {
        "n_queries": len(registry.QUERIES),
        "n_flagged": len(results),
        "flagged": results,
        "broadcasts": broadcasts,
        "n_errors": len(errors),
        "errors": errors,
    }
    print(json.dumps(summary))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    spark.stop()
    sys.exit(1 if results else 0)


if __name__ == "__main__":
    main()
