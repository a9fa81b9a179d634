"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_analytics|curation \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Inputs are generated from
the seed (cached by workload, seed and sizes under ``perfbench/.state/``), then
one measured run executes in a fresh child process with a pinned
environment; every process it leaves behind is stopped before this
script returns. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
The full record of the run (per-operation times, and with ``--trace 1``
the spans) is written to ``perfbench/.state/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(BENCH, ".state")
ENGINE = "stock_prediction_data_engineering_spark"
WORKLOADS = ("lake_analytics", "curation")
DEADLINE_S = 170.0

# The end-to-end figures are CPU seconds. On a shared virtual machine the
# host takes the guest's cores away for seconds at a time (steal), which
# stretched the wall-clock figures of whole runs by 30-70%; CPU time does
# not count stolen time. The wall-clock figures are per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
PER_LAYER = {
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "setup_wall_s": "s",
    "first_pass_s": "s",
    "peak_rss_mb": "MB",
    "session.cold_start_s": "s",
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "catalog.first_touch_s": "s",
    "queries.build_s": "s",
    "queries.sink_s": "s",
    "queries.build_jobs": "count",
    "queries.sink_jobs": "count",
    "queries.sink_tasks": "count",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_disk_bytes": "bytes",
    "queries.input_bytes": "bytes",
    "queries.scan_files": "count",
    "queries.scan_rows": "count",
    "trace.accounted_frac": "fraction",
    "trace.overhead_ratio": "ratio",
}
# per-operation counters summed into the queries.* layer metrics
OP_SUMS = ("build_s", "sink_s", "build_jobs", "sink_jobs", "sink_tasks", "executor_run_s",
           "executor_cpu_s", "shuffle_write_bytes", "spill_disk_bytes", "input_bytes",
           "scan_files", "scan_rows")


def pinned_env(work: str) -> dict[str, str]:
    """The child's environment: engine importable by the Python workers
    from any working directory, parallelism and heap sized to the host,
    and every scratch path under the run's own work directory."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1024, min(4096, total_mb // 4))}m"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    return env


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            if os.getpgid(int(pid)) == pgid:
                alive.append(int(pid))
        except OSError:
            continue
    return alive


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group (the JVM and its
    Python workers) and wait until every member has exited."""
    pgid = proc.pid
    if proc.poll() is None:
        os.killpg(pgid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if proc.poll() is None:
        proc.wait()


def _remove_stale_work(root: str) -> None:
    """Delete work directories of runs whose process is gone."""
    for name in os.listdir(root) if os.path.isdir(root) else ():
        if not (name.isdigit() and os.path.exists(f"/proc/{name}")):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def measure(workload: str, inputs: str, seconds: float, trace: int, plant_wrong: str,
            budget_s: float) -> dict:
    _remove_stale_work(os.path.join(STATE, "work"))
    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pinned_env(work)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(STATE, "results", f"{workload}-last.log")
    cmd = [sys.executable, "-m", "perfbench.measure", "--workload", workload,
           "--inputs", inputs, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--out", out, "--plant-wrong", plant_wrong]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        # if this script is told to stop, the child's group stops with it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] run exceeded {budget_s:.0f} s; stopping it", file=sys.stderr)
        finally:
            stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"[perfbench] measured run failed (exit {proc.returncode}); log: {log_path}")
    with open(out) as fh:
        res = json.load(fh)
    res["env"] = {k: env[k] for k in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                      "SPARK_LOCAL_DIRS", "TMPDIR", "PYSPARK_PYTHON")}
    res["env"]["lake_dir"] = os.path.join(work, "lake")
    # the run's scratch (lakes, spill, temp files) is emptied here
    shutil.rmtree(work, ignore_errors=True)
    return res


def _median_op(passes: list[dict], names) -> float:
    return statistics.median(sum(p["ops"][n]["build_s"] + p["ops"][n]["sink_s"] for n in names) for p in passes)


def end_to_end(res: dict) -> tuple[dict, dict]:
    """End-to-end metrics, plus the lake figures that only the
    lake_analytics workload has."""
    warm = res["warm_passes"]
    # a warm pass, as the sum over operations of each one's median across
    # the warm passes: a slow moment of the host spoils one operation of
    # one pass, not the figure
    wall = sum(_median_op(warm, [n]) for n in warm[0]["ops"])
    rows = res["input_rows"] + res.get("bars_written", 0)
    m = {
        "setup_s": res["setup"]["setup_s"],
        "cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "setup_wall_s": res["setup"]["setup_wall_s"],
    }
    lake = {}
    if "bars_written" in res:
        reads = [n for n in warm[0]["ops"] if n.startswith("read_") and not n.endswith("_compacted")]
        lake = {
            "ingest_s": _median_op(warm, ["pipeline_run", "overwrite_partitions"]),
            "read_s": _median_op(warm, reads),
            "lake_files": warm[-1]["lake_files"],
            "lake_bytes_per_bar": warm[-1]["lake_bytes"] / res["bars_written"],
        }
    return m, lake


def per_layer(res: dict) -> tuple[dict, dict]:
    """Per-layer metrics common to every workload, and the detailed
    per-module and per-operation table written to the results file."""
    traced = res["traced_pass"]
    ops = traced["ops"]
    spans = res["spans"]
    setup = res["setup"]
    m = {k: setup[k] for k in ("session.cold_start_s", "session.get_spark_s",
                               "registry.load_all_s", "catalog.first_touch_s")}
    m["first_pass_s"] = res["first_pass"]["wall_s"]
    m["peak_rss_mb"] = res["peak_rss_mb"]
    for f in OP_SUMS:
        m[f"queries.{f}"] = sum(o.get(f, 0) for o in ops.values())
    untraced = (res["warm_passes"][-1]["wall_s"] + res["after_trace_pass"]["wall_s"]) / 2
    m["trace.overhead_ratio"] = traced["wall_s"] / untraced
    m["trace.accounted_frac"] = _union_s(s for s in spans if s["layer"] == "op") / traced["wall_s"]

    detail: dict[str, float] = {}
    layers = res["layers"]
    from perfbench.trace import LAYERS

    for layer in LAYERS:
        t = layers.get(layer, {})
        for k in ("s", "self_s", "calls", "jobs"):
            detail[f"{layer}.{k}"] = t.get(k, 0)
    for mod, s in res["udf"].items():
        detail[f"udf.{mod}.s"] = s
    for name, o in ops.items():
        for k in ("build_s", "sink_s", "build_jobs", "sink_jobs", "shuffle_write_bytes", "scan_files", "scan_rows"):
            detail[f"q.{name}.{k}"] = o.get(k, 0)
    if "bars_written" in res:
        for fn in ("load_raw_screener", "ingest_bars", "run"):
            detail[f"pipeline.{fn}_s"] = _fn_s(spans, "pipeline", fn)
        for fn in ("write_lake", "overwrite_partitions", "compact_parquet", "read_lake"):
            detail[f"sources.lake.{fn}_s"] = _fn_s(spans, "sources.lake", fn)
        fetch = [s for s in spans if s["name"] == "fetch_bars" and "fetch_tasks" in s]
        detail["sources.api_source.fetch_tasks"] = fetch[0]["fetch_tasks"] if fetch else 0
        reads = [o for n, o in ops.items() if n.startswith("read_")]
        detail["sources.lake.read_ops_s"] = sum(o["build_s"] + o["sink_s"] for o in reads)
        detail["sources.lake.files_read"] = sum(o.get("scan_files", 0) for o in reads)
        scanned = sum(o.get("scan_rows", 0) for o in reads)
        detail["sources.lake.rows_returned_per_row_read"] = (
            sum(o.get("rows_returned", 0) for o in reads) / scanned if scanned else 0.0)
        detail["sources.lake.files_written"] = traced["lake_files"]
        detail["sources.lake.bytes_written"] = traced["lake_bytes"]
        lake_s = sum(o["build_s"] + o["sink_s"] for o in ops.values() if o["layer"] != "queries")
        detail["lake.accounted_frac"] = _union_s(_lake_spans(spans)) / lake_s
    return m, detail


def _fn_s(spans, layer: str, fn: str) -> float:
    return sum(s["end"] - s["start"] for s in spans
               if s["layer"] == layer and s["name"] == fn and s["end"] is not None)


def _lake_spans(spans) -> list[dict]:
    """The spans that should account for the lake operations' time: the
    pipeline and sources layers, plus the collection of the lake reads
    (a lazy read returns before its scan runs)."""
    return [s for s in spans
            if s["layer"] in ("pipeline", "sources.lake", "sources.api_source")
            or (s["layer"] == "op" and s["phase"] == "sink" and s["op_layer"] == "sources.lake")]


def _union_s(spans) -> float:
    from perfbench.trace import union_length

    return union_length((s["start"], s["end"]) for s in spans if s["end"] is not None)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("full", "smoke"), default="full",
                    help="input size; smoke is the smallest, for the benchmark's own test")
    ap.add_argument("--plant-wrong", default="", metavar="OP",
                    help="corrupt this operation's answer before it is checked (self-test)")
    a = ap.parse_args(argv)
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"[perfbench] no engine package {ENGINE!r} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    inputs, _manifest = gen.ensure_inputs(os.path.join(STATE, "inputs"), a.workload, a.seed, a.profile)
    budget = DEADLINE_S - (time.monotonic() - t_start)
    res = measure(a.workload, inputs, a.seconds, a.trace, a.plant_wrong, budget)

    e2e, lake = end_to_end(res)
    res["end_to_end"] = {**e2e, **lake}
    if a.trace:
        layer, detail = per_layer(res)
        res["per_layer"] = {**layer, **detail}
        layer.update({k: e2e[k] for k in ("wall_s", "rows_per_s", "setup_wall_s")})
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    tag = f"{a.workload}-{a.profile}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(STATE, "results", f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1, default=str)

    for name, err in res["failures"].items():
        print(f"[perfbench] FAILED {name}: {err}")
    if lake:
        print("[perfbench] lake " + json.dumps({k: round(v, 4) for k, v in lake.items()}))
    if a.trace:
        print("[perfbench] per-layer detail " + json.dumps(
            {k: round(v, 4) for k, v in res["per_layer"].items() if k not in metrics}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
