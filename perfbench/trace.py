"""Spans and Spark-side counters for the traced run.

Everything here lives in the benchmark: the engine is not edited. Spans
are recorded around the calls into each engine layer by replacing the
layer's module-level functions with timing wrappers, including the
copies that other modules bound at import time (``from ..operators.asof
import asof_join``). Spans stay in memory and are written out at the
end of the run.

Spark-side counters come from the stores Spark already keeps, all
readable with ``spark.ui.enabled=false``:

- ``sparkContext.statusTracker()`` for the job ids of a job group;
- the app status store (``sc._jsc.sc().statusStore()``) for each job's
  stages and their task metrics;
- the SQL status store (``sharedState().statusStore()``) for the
  per-node metrics of the scans an operation ran.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "stock_prediction_data_engineering_spark"

# the engine modules whose functions are wrapped; a layer is named by its
# module path under the package
LAYERS = (
    "operators.dedup", "operators.ssjoin", "operators.semdedup", "operators.pq",
    "operators.similarity", "operators.ranking", "operators.asof", "operators.profile",
    "ml.pipelines", "pipeline", "sources.api_source", "sources.lake",
)


def rebind(replacements: dict[int, object]) -> list[tuple[object, str, object]]:
    """Point every engine-module global that holds one of the replaced
    objects (keyed by ``id``) at its replacement; returns what to
    restore."""
    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            new = replacements.get(id(obj))
            if new is not None:
                patched.append((mod, attr, obj))
                setattr(mod, attr, new)
    return patched


def restore(patched: list[tuple[object, str, object]]) -> None:
    for mod, attr, obj in reversed(patched):
        setattr(mod, attr, obj)


class Tracer:
    """In-memory span recorder. A span is (id, parent, name, layer,
    start, end); nested calls into the same layer count once."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._depth: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()
        # returns the ids of the jobs started so far in the current job
        # group; set by the caller once a SparkContext exists
        self.job_probe = None
        # function name -> callable(result) -> extra span attributes
        self.result_probes: dict = {}

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        outer = self._depth[layer] == 0
        jobs_before = self.job_probe() if outer and self.job_probe else None
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "start": time.perf_counter() - self.t0,
               "end": None, "outer": outer, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._depth[layer] += 1
        try:
            yield rec
        finally:
            self._depth[layer] -= 1
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            if jobs_before is not None:
                rec["jobs"] = len(self.job_probe() - jobs_before)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(fn.__name__, layer) as rec:
                result = fn(*args, **kwargs)
                probe = tracer.result_probes.get(fn.__name__)
                if probe is not None:
                    rec.update(probe(result))
                return result

        return traced

    def install(self) -> None:
        """Wrap every plain function defined in each layer module, and
        rebind every alias of it held by a module of the engine."""
        replaced: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for obj in list(vars(mod).values()):
                # pandas/arrow UDF objects only build columns on the
                # driver; their worker time comes from the UDF profiler
                if (isinstance(obj, types.FunctionType) and obj.__module__ == mod.__name__
                        and not hasattr(obj, "evalType")):
                    replaced[id(obj)] = self._wrap(obj, layer)
        self._patched = rebind(replaced)

    def uninstall(self) -> None:
        restore(self._patched)
        self._patched = []

    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: outermost-span seconds, calls, and self time (span
        minus the part covered by child spans of other layers)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"s": 0.0, "calls": 0, "self_s": 0.0, "jobs": 0})
        for s in self.spans:
            if not s["outer"] or s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            covered = _covered(s, children)
            t = out[s["layer"]]
            t["s"] += dur
            t["calls"] += 1
            t["self_s"] += dur - covered
            t["jobs"] += s.get("jobs", 0)
        return dict(out)


def _covered(span: dict, children: dict[int, list[dict]]) -> float:
    """Seconds of ``span`` covered by descendant spans of other layers."""
    ivs = []
    stack = list(children.get(span["id"], []))
    while stack:
        c = stack.pop()
        if c["layer"] != span["layer"] and c["end"] is not None:
            ivs.append((c["start"], c["end"]))
        else:
            stack.extend(children.get(c["id"], []))
    return union_length(ivs)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, last = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, last)
        if b > a:
            total += b - a
            last = b
    return total


# --- Spark-side counters ------------------------------------------------

STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime",
                "shuffleWriteBytes", "diskBytesSpilled", "inputBytes")


def job_ids(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def stage_totals(sc, jobs: list[int]) -> dict[str, float]:
    """Task metrics summed over every stage attempt the jobs ran."""
    store = sc._jsc.sc().statusStore()
    empty_list = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    tot = dict.fromkeys(STAGE_FIELDS, 0)
    seen: set[int] = set()
    for j in jobs:
        it = store.job(j).stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, empty_list, False, no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                if sd.status().toString() == "SKIPPED":
                    continue
                for f in STAGE_FIELDS:
                    tot[f] += getattr(sd, f)()
    return tot


def last_execution_id(spark) -> int:
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return ex.apply(ex.size() - 1).executionId() if ex.size() else -1


_INT = re.compile(r"-?\d[\d,]*")


def scan_totals(spark, after_id: int) -> dict[str, int]:
    """Files and rows read by the scan nodes of every SQL execution
    newer than ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    tot = {"files": 0, "rows": 0, "executions": 0}
    for i in range(ex.size() - 1, -1, -1):
        e = ex.apply(i)
        eid = e.executionId()
        if eid <= after_id:
            break
        tot["executions"] += 1
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if not node.name().startswith("Scan"):
                continue
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                key = {"number of files read": "files", "number of output rows": "rows"}.get(m.name())
                v = values.get(m.accumulatorId())
                if key and v.isDefined():
                    hit = _INT.search(v.get())
                    tot[key] += int(hit.group().replace(",", "")) if hit else 0
    return tot


def udf_module_seconds(spark) -> dict[str, float]:
    """Python-worker seconds per engine module from the perf UDF
    profiler (``spark.sql.pyspark.udf.profiler=perf``). Each profiled
    UDF is charged to the module of its outermost engine function, with
    that function's cumulative time. The profiler keeps only file base
    names, so functions are matched to the engine's (and this
    benchmark's) module files by base name."""
    modules = _module_files()
    out: dict[str, float] = defaultdict(float)
    results = getattr(spark._profiler_collector, "_perf_profile_results", {}) or {}
    for stats in results.values():
        best: dict[str, float] = {}
        for (filename, _line, _fn), (_cc, _nc, _tt, cumtime, _callers) in stats.stats.items():
            mod = modules.get(os.path.basename(filename))
            if mod is not None:
                best[mod] = max(best.get(mod, 0.0), cumtime)
        for mod, s in best.items():
            out[mod] += s
    return dict(out)


def _module_files() -> dict[str, str]:
    """``dedup.py`` -> ``dedup`` for every engine module file, and
    ``perfbench`` for this benchmark's files (the seeded fetcher)."""
    files = {}
    pkg_dir = os.path.dirname(importlib.import_module(PACKAGE).__file__)
    for _root, _dirs, names in os.walk(pkg_dir):
        for f in names:
            if f.endswith(".py") and f != "__init__.py":
                files[f] = f[:-3]
    for f in os.listdir(os.path.dirname(os.path.abspath(__file__))):
        if f.endswith(".py") and f != "__init__.py":
            files.setdefault(f, "perfbench")
    return files
