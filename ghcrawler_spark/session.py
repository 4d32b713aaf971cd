"""SparkSession builders tuned for the crawl engine.

Local sessions mirror the cluster design: AQE on (runtime re-plan + skew-join
splitting), explicit shuffle-partition sizing, Arrow enabled for the few
pandas-UDF stages. On a real cluster the same builder is used with a
different master + an Iceberg catalog; nothing in the engine assumes local
mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Compiled whole-stage classes kept per JVM. A crawl round generates ~300-400
# classes; at Spark's default of 100 each round evicts and recompiles most of
# the previous round's (~4.5 ms each, plus the JIT work on the new bytecode).
CODEGEN_CACHE_MAX_ENTRIES = 4096


def build_session(
    app_name: str = "ghcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine's standard config.

    Scale notes (these matter at 100 TB, and cost nothing locally):
    - AQE coalesces post-shuffle partitions and splits skewed ones, which is
      the backstop for hot-host skew after salting (SURVEY.md §4).
    - ``spark.sql.files.maxPartitionBytes`` kept at default 128 MiB so scan
      tasks stay memory-bounded regardless of input size.
    - Arrow batch size bounded so image-bytes batches don't balloon executor
      Python memory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The engine's per-round plan is a wide DAG over one hub frame; the
        # plan STRINGS Spark renders for listeners/debug grow with the tree
        # and are built once per concurrent job — cap them so diagnostics
        # can never OOM the driver heap (execution is unaffected).
        .config("spark.sql.maxPlanStringLength", str(2 * 1024 * 1024))
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
