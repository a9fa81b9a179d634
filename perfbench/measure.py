"""One measured run, in a fresh process (started by ``perfbench/run.py``).

Order: set-up three times (the first launches the JVM), a first pass
over the workload's operations, then at least two warm passes, and more
until ``--seconds`` have elapsed. With ``--trace 1`` one more warm pass runs
with spans, job-group counters and the UDF profiler on, followed by one
more untraced pass for the overhead estimate. Every pass's
answers are checked after the pass, outside the timed region. The
result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time
import traceback

SETUPS = 3
MIN_WARM = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _clear_rdd_storage(spark) -> None:
    """Unpersist RDDs an operation left cached or checkpointed, so one
    operation's storage never evicts the next one's working set."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


def _tree_stat() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and every process it started (the driver JVM and the Python
    workers)."""
    me = os.getpid()
    stat: dict[int, list[str]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat[int(pid)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree = {}
    for pid, f in stat.items():
        p = pid
        while p and p != me:
            p = int(stat[p][1]) if p in stat else 0
        if p == me:
            tree[pid] = f
    return tree


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the processes it started
    and their reaped children. A virtual machine's stolen time is not in
    it, so it does not grow when the host is busy with other guests."""
    return sum(sum(map(int, f[11:15])) for f in _tree_stat().values()) / CLK_TCK


def _peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) summed over every process this one
    started: the driver JVM and the Python workers."""
    total = 0
    for pid in _tree_stat():
        if pid == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total / 1024.0


class Run:
    """State of one measured run: the session, the operations, and the
    attempted / failed counts over every pass."""

    def __init__(self, a) -> None:
        self.a = a
        self.workload = a.workload
        with open(os.path.join(a.inputs, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.group = ""
        self.current_op = ""
        self.tables_read: dict[str, set] = {}

    # -- set-up --

    def setup(self) -> dict:
        from stock_prediction_data_engineering_spark.session import get_spark

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        rounds = []
        spark = None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0, c0 = time.perf_counter(), _tree_cpu_s()
            spark = get_spark(app_name="perfbench", extra_conf=extra)
            t1 = time.perf_counter()
            from stock_prediction_data_engineering_spark import registry

            registry.load_all()
            t2 = time.perf_counter()
            self._first_touch(spark)
            t3 = time.perf_counter()
            rounds.append({"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "first_touch_s": t3 - t2,
                           "total_s": t3 - t0, "cpu_s": _tree_cpu_s() - c0})
        self.spark = spark
        return {
            "setup_s": statistics.median(r["cpu_s"] for r in rounds),
            "setup_wall_s": statistics.median(r["total_s"] for r in rounds),
            "session.cold_start_s": rounds[0]["get_spark_s"],
            "session.get_spark_s": statistics.median(r["get_spark_s"] for r in rounds),
            "registry.load_all_s": rounds[0]["load_all_s"],
            "catalog.first_touch_s": statistics.median(r["first_touch_s"] for r in rounds),
            "rounds": rounds,
        }

    def _first_touch(self, spark) -> None:
        from perfbench.workloads import TABLES_READ
        from stock_prediction_data_engineering_spark.catalog import table

        for t in TABLES_READ[self.workload]:
            table(spark, self.a.inputs, t).count()
        if self.workload == "lake_analytics":
            from stock_prediction_data_engineering_spark.pipeline import load_raw_screener

            load_raw_screener(spark, f"{self.a.inputs}/screener.csv").count()
            spark.read.parquet(f"{self.a.inputs}/update.parquet").count()

    # -- operations --

    def make_ops(self):
        """lake_analytics: the ingest DAG, then the analytics queries;
        curation: the curation queries."""
        from perfbench import workloads as W

        self.oracle = W.Oracle(self.a.inputs)
        if self.workload == "curation":
            self.lake = None
            return W.query_ops(self.spark, W.CURATION, self.a.inputs, self.manifest, self.oracle)
        self.lake = W.LakeIngest(self.spark, self.a.inputs, self.manifest, os.path.join(self.a.work, "lake"))
        return self.lake.ops() + W.query_ops(self.spark, W.ANALYTICS, self.a.inputs, self.manifest, self.oracle)

    def one_pass(self, k: int, ops, traced: bool = False) -> dict:
        """Run every operation once; returns per-op timings and checks
        the answers after the pass. ``wall_s`` is the whole pass except
        the untimed hooks."""
        from perfbench import trace as T
        from perfbench.workloads import to_pandas

        sc = self.spark.sparkContext
        if self.lake:
            self.lake.new_pass(k)
        per_op, answers, extra = {}, {}, {}
        t_pass, hooks_s, cpu0 = time.perf_counter(), 0.0, _tree_cpu_s()
        for op in ops:
            rec = {}
            group = f"p{k}:{op.name}"
            self.current_op = op.name
            self.group = group + ":build"
            sc.setJobGroup(self.group, op.name)
            exec_before = T.last_execution_id(self.spark) if traced else None
            t0, t1 = time.perf_counter(), None
            try:
                with self._span(traced, op, "build"):
                    df = op.build()
                t1 = time.perf_counter()
                self.group = group + ":sink"
                sc.setJobGroup(self.group, op.name)
                with self._span(traced, op, "sink"):
                    answers[op.name] = to_pandas(df)
                t2 = time.perf_counter()
                if traced:
                    rec.update(self._spark_counters(group, exec_before, answers[op.name]))
            except Exception as exc:  # isolate each operation's failure
                t2 = time.perf_counter()
                first = (str(exc).splitlines() or [""])[0]
                rec["error"] = f"{type(exc).__name__}: {first[:300]}"
                print(f"[perfbench] {op.name} failed:\n{traceback.format_exc()}", file=sys.stderr)
            finally:
                sc.setJobGroup("perfbench-idle", "")
                _clear_rdd_storage(self.spark)
            if op.after is not None:
                t_hook = time.perf_counter()
                extra.update(op.after())
                hooks_s += time.perf_counter() - t_hook
            rec["layer"] = op.layer
            rec["build_s"] = (t1 or t2) - t0
            rec["sink_s"] = t2 - t1 if t1 else 0.0
            per_op[op.name] = rec
        wall = time.perf_counter() - t_pass - hooks_s
        cpu = _tree_cpu_s() - cpu0
        self._check(ops, per_op, answers)
        return {"wall_s": wall, "cpu_s": cpu, "ops": per_op, **extra}

    def _span(self, traced: bool, op, phase: str):
        if not traced:
            return contextlib.nullcontext()
        return self.tracer.span(op.name, "op", phase=phase, op_layer=op.layer)

    def _spark_counters(self, group: str, exec_before: int, answer) -> dict:
        from perfbench import trace as T

        sc = self.spark.sparkContext
        build_jobs = T.job_ids(sc, group + ":build")
        sink_jobs = T.job_ids(sc, group + ":sink")
        stages = T.stage_totals(sc, build_jobs + sink_jobs)
        sink_stages = T.stage_totals(sc, sink_jobs)
        scans = T.scan_totals(self.spark, exec_before)
        return {
            "build_jobs": len(build_jobs), "sink_jobs": len(sink_jobs),
            "sink_tasks": sink_stages["numTasks"],
            "executor_run_s": stages["executorRunTime"] / 1e3,
            "executor_cpu_s": stages["executorCpuTime"] / 1e9,
            "shuffle_write_bytes": stages["shuffleWriteBytes"],
            "spill_disk_bytes": stages["diskBytesSpilled"],
            "input_bytes": stages["inputBytes"],
            "scan_files": scans["files"], "scan_rows": scans["rows"],
            "rows_returned": 0 if answer is None else len(answer),
        }

    def _check(self, ops, per_op: dict, answers: dict) -> None:
        plant = self.a.plant_wrong
        for op in ops:
            self.attempted += 1
            err = per_op[op.name].get("error")
            if err is None:
                got = answers.get(op.name)
                if plant and op.name == plant and got is not None and len(got):
                    got = got.iloc[1:]  # deliberately wrong answer
                try:
                    op.check(got)
                except Exception as exc:
                    err = f"wrong answer: {exc}"
            if err is not None:
                self.failed += 1
                self.failures.setdefault(op.name, err)

    # -- input accounting --

    @contextlib.contextmanager
    def watch_tables(self):
        """Record which input tables each operation reads, by watching
        the catalog's ``table`` calls (for ``rows_per_s``)."""
        from perfbench.trace import rebind, restore
        from stock_prediction_data_engineering_spark import catalog

        orig = catalog.table

        def watching(spark, sf_dir, name):
            self.tables_read.setdefault(self.current_op, set()).add(name)
            return orig(spark, sf_dir, name)

        patched = rebind({id(orig): watching})
        try:
            yield
        finally:
            restore(patched)

    def input_rows(self) -> int:
        rows = self.manifest["rows"]
        return sum(rows[t] for names in self.tables_read.values() for t in names)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--plant-wrong", default="")
    a = ap.parse_args(argv)

    run = Run(a)
    result: dict = {"workload": a.workload, "seed": run.manifest["seed"]}
    log("start")
    result["setup"] = run.setup()
    log("set-up done")
    spark = run.spark
    ops = run.make_ops()

    with run.watch_tables():
        first = run.one_pass(0, ops)
    log("first pass done")
    warm = []
    t_warm = time.perf_counter()
    # passes (with their checks) until --seconds have elapsed. CPU seconds
    # fall from pass to pass while the JIT compiler catches up, so the
    # declared run length is below two passes' time: every run of a host
    # then makes the same number of passes.
    while len(warm) < MIN_WARM or time.perf_counter() - t_warm < a.seconds:
        warm.append(run.one_pass(len(warm) + 1, ops))
    log(f"{len(warm)} warm passes done")
    result["first_pass"] = first
    result["warm_passes"] = warm

    result["input_rows"] = run.input_rows()

    if a.trace:
        from perfbench import trace as T

        tracer = T.Tracer()
        run.tracer = tracer
        tracer.job_probe = lambda: set(T.job_ids(spark.sparkContext, run.group))
        tracer.result_probes["fetch_bars"] = lambda df: {"fetch_tasks": df.rdd.getNumPartitions()}
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        tracer.install()
        try:
            traced = run.one_pass(len(warm) + 1, ops, traced=True)
        finally:
            tracer.uninstall()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        result["traced_pass"] = traced
        # an untraced pass after the traced one: tracing overhead is read
        # against the untraced passes on either side, so the warm-up that
        # continues from pass to pass does not pass for negative overhead
        result["after_trace_pass"] = run.one_pass(len(warm) + 2, ops)
        result["layers"] = tracer.layer_totals()
        result["udf"] = T.udf_module_seconds(spark)
        result["spans"] = tracer.spans

    result["peak_rss_mb"] = _peak_rss_mb()
    result["attempted"] = run.attempted
    result["failed"] = run.failed
    result["failures"] = run.failures
    if run.lake:
        result["bars_written"] = run.lake.bars_written()
    run.oracle.close()
    log("stopping")
    spark.stop()
    log("stopped")
    with open(a.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
