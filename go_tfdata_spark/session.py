"""SparkSession factory tuned for the engine.

Local-mode testing stands in for a multi-executor cluster; every config here
is one that also holds on a 1000-executor cluster reading 100 TB:
- AQE on (runtime shuffle-partition coalescing + skew-join splitting),
- Arrow on (all pandas-UDF stages are Arrow-batched; no per-row Python),
- shuffle partitions sized to cores locally; on a real cluster AQE coalesces
  from a high initial number, so we set the initial high and let AQE shrink.
- the compiled-class cache (`spark.sql.codegen.cache.maxEntries`, a static
  conf) holds a whole query pass. At Spark's default of 100, one pass of the
  dedup/similarity queries compiles ~145 classes, and the cyclic access
  pattern defeats the LRU: every pass recompiled every class (~1.2 s of
  Janino per pass on 4 vCPUs). `CODEGEN_CACHE_ENTRIES` is a constant, not
  a knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Compiled-class cache size: one cold pass of every `__spark_entry__.queries()`
# entry compiles 552 classes at sf0.01; this leaves over 2x headroom.
CODEGEN_CACHE_ENTRIES = 1200


def get_spark(
    app_name: str = "go_tfdata_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow IPC batch size for mapInArrow/mapInPandas stages: 64k rows
        # (default 10k). Fewer JVM<->Python round trips and fewer chunk
        # boundaries in the fold kernels; measured 1.4x on the 32-thread
        # CDC replay leg (the per-batch handoff cost is contended at high
        # parallelism), neutral at low parallelism. Env knob for A/B runs.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Files: keep scan partitions close to the cluster parallelism.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Per-file open-cost charge in the split packing model. The 4 MB
        # default floors split sizes at max(openCost, bytes/cores), so a
        # 16 MB dimension parquet scans as 4 tasks on a 32-slot box
        # (measured: the map side of every events-table fold serialized on
        # 4 cores). Local NVMe/tmpfs opens are ~free; 64 KB lets small
        # tables split down to the core count. On object stores (real
        # per-open latency) raise it back via SPARK_GRAFT_OPEN_COST —
        # at 100 TB file sizes dwarf either value and the knob is inert.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "65536"),
        )
        # Broadcast threshold: dims up to 64 MB broadcast (configurable).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
