"""SparkSession factory.

The reference creates a bare ``SparkSession.builder.appName("bikeshare")``
(ipynb:L116, cell 1) and leaves every knob at Databricks-runtime defaults.
This engine pins the settings that matter for both local testing and a
1000-executor / 100 TB deployment:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  at 100 TB static shuffle partition counts are always wrong.
* Arrow for every Python<->JVM data exchange (pandas UDFs, toPandas).
* shuffle partitions default to the local core count; on a real cluster
  AQE re-coalesces from a deliberately-high initial number.
* broadcast threshold left at default 10 MB: star-schema dims (stations,
  riders, date dims / nation, customer at test scale) broadcast, facts never.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "bikeshare-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode defaults mirror the driver contract: ``local[$SPARK_GRAFT_CPUS]``
    with ``spark.sql.shuffle.partitions`` sized to the core count so a
    single-node run doesn't pay 200-partition scheduling overhead, while AQE
    keeps the plan right when data outgrows that.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce the output partitioning of CACHED plans
        # (default false): the maintained-index relations
        # (plans/dedup_index) persist at the static shuffle-partition
        # count, so with the default every consumer stage of a persisted
        # ~1 MB relation ran core-count tasks — q103's profile showed 17
        # such 32-task cache scans (r13, guide §2.2 fewer-larger
        # partitions; measured q103 5.6->4.9 s, q226 0.77->0.58 s). Purely
        # physical: partitioning of a cached relation, not its rows; at
        # deployment scale caches are large and AQE keeps them wide.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
