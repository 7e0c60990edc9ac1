"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes parallelism (process pool sizing,
``ast_cache.py:469-480``); here the equivalent knobs are AQE + shuffle
partition sizing, set once at session build time. Everything else
(join strategy, partial aggregation, spill) is Catalyst/Tungsten's job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] defaults to the CPUs this process may run on; SPARK_GRAFT_CPUS
# overrides it, and a real deployment sets its master via spark-submit.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

# Generated classes Spark keeps compiled (default 100). One cycle of the
# interactive query mix needs about 200 distinct classes, so at the
# default every cycle evicts and recompiles them all (~11 ms of Janino
# each on a 4-core host); 1000 holds that working set with room for a wider query mix,
# for at most ~100 MB of JVM metaspace (~0.1 MB per class, measured).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "tree-sitter-analyzer-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    - AQE on: runtime coalesce of shuffle partitions, skew-join splitting
      (the salting fallback for hot H3 cells, SURVEY.md O10).
    - ``spark.sql.session.timeZone=UTC``: required for DuckDB-oracle
      timestamp parity.
    - Arrow enabled: every UDF in this engine is a vectorized pandas UDF
      (input_hint: "no per-row Python").
    - Generated-code cache of ``CODEGEN_CACHE_ENTRIES`` classes, so a warm
      serving loop reuses its compiled plans instead of thrashing.
    """
    n = cpus or DEFAULT_CPUS
    sp = shuffle_partitions or max(n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()
