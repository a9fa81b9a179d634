"""Session-layer pins: the generated-code cache holds a working set far
larger than Spark's default of 100 classes, so a repeated query reuses
its compiled classes instead of recompiling them."""

from __future__ import annotations

from functools import reduce

from stock_prediction_data_engineering_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_repeated_working_set(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == CODEGEN_CACHE_MAX_ENTRIES
    rounds = []
    for _ in range(2):
        # integer literals are inlined into the generated source, so each
        # union branch compiles classes of its own: 60 branches are more
        # than Spark's default cache of 100 classes holds. The plan is
        # built anew each round, as a repeated query is.
        branches = [spark.range(0, 8, 1, 1).selectExpr(f"id * {k + 3} + {k} AS x") for k in range(60)]
        c0 = _compiles(spark)
        reduce(lambda a, b: a.unionAll(b), branches).collect()
        rounds.append(_compiles(spark) - c0)
    # the probe must overflow Spark's default cap to pin anything; the
    # second round must then find every class in the cache
    assert rounds[0] > 100, rounds
    assert rounds[1] == 0, rounds
