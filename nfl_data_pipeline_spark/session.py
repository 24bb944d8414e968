"""SparkSession factory.

One place that encodes the engine's execution posture:

- AQE on (runtime re-planning: skew-join handling, partition
  coalescing) — at 100 TB the static plan is always wrong somewhere.
- Arrow on (every pandas_udf / toPandas crossing is vectorized).
- Explicit shuffle partition count sized for the local harness; on a
  real cluster this is overridden per-deploy (AQE coalesces down).
- UTC session timezone so timestamp semantics match the DuckDB oracle.

The reference has no session concept — a SQLite connection
(`1_rebuild_db.R:23`) plus a single R process. This module is its
Spark equivalent: the one process-wide handle everything goes through.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "nfl_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the process-wide SparkSession.

    Designed so the same code runs on ``local[N]`` for tests and on a
    1000-executor cluster unchanged: nothing here assumes single-node.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner posture -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # Generated-class cache (static conf, LRU, default 100). It must
        # hold the working set, or every class is evicted before its
        # query comes round again and each pass recompiles everything:
        # one query_mix pass generates 226 classes, and the 117-query
        # registry at sf0.01 1,545 distinct classes on its first pass
        # (SCALING.md, "Generated-code cache working set").
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # --- python/arrow boundary -------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # python data sources (sources/txsource.py) prune at the
        # manifest via pushFilters — off by default upstream
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic semantics ------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI off: the reference's R semantics are permissive (NULL on
        # bad cast, no overflow errors); we shim R-isms explicitly instead.
        .config("spark.sql.ansi.enabled", "false")
        # --- local-harness sizing ---------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_CPUS),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
