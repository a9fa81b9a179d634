"""SparkSession factory.

Local mode is a single JVM with N executor threads; the same configs
are what we would set on a real cluster (AQE, skew-join handling,
Arrow for every Python boundary). Session timezone is pinned to UTC so
timestamp semantics match the DuckDB oracle (naive-UTC). Spark's
generated-code cache is sized to the engine's working set
(``CODEGEN_CACHE_MAX_ENTRIES``), so a repeated query reuses its compiled
classes instead of running Janino and the JIT again.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Entries of Spark's compiled-class cache (CodeGenerator's LRU; Spark's
# default is 100, which a repeated workload thrashes). Measured working
# set: Janino compiles in one pass that runs each query once, in a
# fresh local[2] JVM with this session's settings and the cap out of
# reach. bench.py's 62 headline queries at sf0.01 compile 969 classes;
# all 225 registered queries at sf0.001 compile 2,434. Each generated
# class counts twice, because the driver and the executor threads
# compile it under different class loaders and the cache keys on the
# loader. The cap is the next power of two above twice the larger
# count; the 2x leaves room for the cache's per-segment LRU.
CODEGEN_CACHE_MAX_ENTRIES = 8192


def get_spark(
    app_name: str = "stock_prediction_data_engineering_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Env knobs (driver contract): ``SPARK_GRAFT_CPUS`` sets local
    parallelism, ``SPARK_GRAFT_DRIVER_MEM`` the driver heap.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf that Spark
    reads once per JVM, when ``CodeGenerator``'s cache is first built:
    it takes effect only when this call creates the JVM's first
    session. A session stopped and rebuilt in the same JVM keeps the
    cache, and the cap, of the first.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- planner / runtime ---
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start AQE from a fine-grained shuffle (8x the static default)
        # and let it coalesce down: small inputs still collapse to a
        # handful of tasks, while window/agg stages on grown data keep
        # enough granularity that per-task sort state stays bounded —
        # AQE can merge partitions but never split them, so the
        # initial number is the scale ceiling
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(8 * shuffle),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # ORDER BY + LIMIT above 10k falls back from the per-partition
        # top-k (TakeOrderedAndProject) to a full global sort; the
        # bounded-sample operators (ANN quantizer fits, PQ codebooks)
        # take 16-64k deterministic rows, well within a heap per task
        .config("spark.sql.execution.topKSortFallbackThreshold", "1000000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- generated code: compile each distinct stage once ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # AQE numbers a query's codegen stages in the order its query
        # stages are created, which follows which shuffles finish first;
        # with the number in the class name, a rerun of the same plan
        # could compile the same stage again under a new name
        .config("spark.sql.codegen.useIdInClassName", "false")
        # --- python boundary: always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- semantics pinned for oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is TIMESTAMP(NANOS), which Spark's parquet
        # reader rejects; read as long and convert in catalog.table()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- catalog: bucketed tables land in a scratch warehouse ---
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
        )
        # --- local-mode resources ---
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_runtime_filters(
    spark: SparkSession, demo_scale: bool = False
) -> None:
    """Turn on runtime bloom-filter semi-join reduction knobs.

    Spark's InjectRuntimeFilter rule builds a bloom filter from a
    selectively-filtered join side and applies it as a
    ``might_contain`` predicate on the other side's scan BEFORE the
    shuffle — rows that cannot join never leave the mappers. At the
    100 TB design point the default thresholds fire on their own
    (creation side under 10 MB post-filter = a filtered dim;
    application side scan over 10 GB = any real fact table), so this
    helper mostly documents the mechanism. ``demo_scale=True`` drops
    the application-side threshold so the injection is observable on
    test-sized data (pinned by tests/test_plan_shapes.py).
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    if demo_scale:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
