"""Bench-harness regression: one broken query must never wipe the
bench artifact (round 2 lost its official perf number to exactly
that). Runs bench.py in a subprocess with a query forced to fail and
asserts the run still exits 0 with a parseable JSON line that reports
the failure alongside the surviving timings."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_bench_survives_a_broken_query(tmp_path):
    code = """
import bench
from stock_prediction_data_engineering_spark import registry

registry.load_all()

def _boom(spark, sf_dir):
    raise RuntimeError("injected failure")

registry.QUERIES["q_injected_broken"] = _boom
bench.HEADLINE_QUERIES = ["q_scan_project", "q_injected_broken", "q_multi_agg"]
bench.main()
"""
    sidecar = tmp_path / "bench_sidecar.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_SIDECAR=str(sidecar),
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload["metric"] == "headline_queries_total"
    # survivors timed, failure reported by name with its error class
    assert set(payload["queries"]) == {"q_scan_project", "q_multi_agg"}
    assert payload["value"] > 0
    assert "q_injected_broken" in payload["failed"]
    assert "RuntimeError" in payload["failed"]["q_injected_broken"]
    # Driver contract (round-7 regression: the stdout line grew past
    # the driver's capture and BENCH_r07 recorded parsed=null): stdout
    # carries ONLY the compact fields; runs/probe ride in the sidecar.
    assert set(payload) <= {"metric", "value", "unit", "queries", "sf", "failed"}
    side = json.loads(sidecar.read_text())
    assert set(side["runs"]) == {"q_scan_project", "q_multi_agg"}
    assert all(len(v) == 2 for v in side["runs"].values())
    # Janino compile counts of the untimed run and both timed runs
    assert set(side["compiles"]) == {"q_scan_project", "q_multi_agg"}
    assert all(len(v) == 3 and min(v) >= 0 for v in side["compiles"].values())
    assert side["cpu_probe"]["start"]["t1_meps"] > 0
    assert side["cpu_probe"]["end"]["t32_meps"] > 0
