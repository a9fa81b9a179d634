"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload once on the smallest inputs (``--profile smoke``:
sf0.001-sized tables, 20 symbols), untraced and traced, and asserts that
the last line names every metric declared in BENCHMARK.json with its
unit and that all answers were right. Then it plants a wrong answer and
asserts the run reports it as failed, and checks that the benchmark
refuses to run, without printing a result, in a directory holding only
BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def last_json(p: subprocess.CompletedProcess) -> dict:
    if p.returncode != 0:
        raise AssertionError(f"exit {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            out = last_json(run(["--workload", w, "--seed", "7", "--seconds", "1",
                                 "--trace", str(trace), "--profile", "smoke"]))
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == declared[trace], f"{w} trace={trace}: metrics {got} != {declared[trace]}"
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
            print(f"ok  {w} trace={trace}: {len(got)} metrics, {out['attempted']} operations")

    for w, op in (("lake_analytics", "q_join_asof"), ("lake_analytics", "read_companies"),
                  ("curation", "q_ann_pq_rerank")):
        out = last_json(run(["--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0",
                             "--profile", "smoke", "--plant-wrong", op]))
        assert not out["correct"] and out["failed"] >= 1, out
        print(f"ok  planted wrong answer in {w}/{op}: failed {out['failed']} of {out['attempted']}")

    stripped = os.path.join(BENCH, ".state", "stripped")
    shutil.rmtree(stripped, ignore_errors=True)
    shutil.copytree(BENCH, os.path.join(stripped, "perfbench"),
                    ignore=shutil.ignore_patterns(".state", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), stripped)
    p = run(["--workload", "curation", "--seed", "7", "--seconds", "1", "--trace", "0"], cwd=stripped)
    shutil.rmtree(stripped)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print("ok  refuses to run without the engine")
    return 0


if __name__ == "__main__":
    sys.exit(main())
