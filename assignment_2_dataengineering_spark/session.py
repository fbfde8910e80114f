"""SparkSession factory with scale-oriented defaults.

The reference is three single-threaded pandas processes (SURVEY.md §4.2);
this engine targets a real cluster, so the factory bakes in the configs
that matter at 100 TB: AQE (runtime join-strategy + skew handling),
partition coalescing, and Arrow for the few pandas-UDF paths.

Tests and bench run on local[N]; production would pass a real master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "a2de-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    - session timezone pinned to UTC so event-time operators are
      deterministic regardless of host TZ (the reference pins
      Australia/Sydney for display, dashboard.py:24; the engine keeps
      storage/compute in UTC and treats display TZ as a UI concern).
    - AQE on: runtime broadcast-join conversion, partition coalescing,
      and skew-join splitting — the knobs that keep 100 TB shuffles
      healthy without hand-tuning.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # The one knob that must track data scale (SCALE.md §7): the
    # initial shuffle-partition count bounds per-task sort/hash size.
    # 32 is right for the sf0.001-0.1 test tier; the sf100 scaling run
    # measured 8-59x blowups (spill) on every big-shuffle join/window
    # once partitions hit ~19M rows. Production sets this high and
    # lets AQE coalesce shrink it per stage — over-provisioning is
    # cheap, under-provisioning is a spill. It governs batch shuffles
    # only: AQE does not coalesce micro-batch shuffles, so the
    # dashboard plane (streaming/pipeline.py) starts its queries with
    # one state partition per core instead.
    env_sp = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_partitions is None and env_sp:
        shuffle_partitions = int(env_sp)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
