"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings (AQE, skew join,
Arrow, UTC) are what we'd ship to a 1000-executor cluster — only
`shuffle_partitions` scales with the deployment (rule of thumb:
2-3x total executor cores, sized so shuffle partitions stay under
~200 MB at the target data scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Default driver heap: half of physical RAM, capped at 48g and
    floored at 4g. 48g is the measured sweet spot on the 128 GiB bench
    host (headline 22.2s @16g -> 16.0s @48g), but a fixed 48g default
    would drive smaller hosts into swap/OOM-kill — derive from the
    machine, keep AGNES_DRIVER_MEM as the explicit override."""
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        )
    except (ValueError, OSError, AttributeError):
        total_gb = 32.0
    return f"{max(4, min(48, int(total_gb / 2)))}g"


def get_spark(
    app_name: str = "agnes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    Env overrides: SPARK_GRAFT_CPUS (local parallelism),
    AGNES_SHUFFLE_PARTITIONS.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("AGNES_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large heap, not 16g: in local mode the driver heap hosts all
        # 32 executor threads; at 16g mid-bench old-gen pressure showed
        # up as multi-second GC spikes on later queries (measured at
        # sf0.1: headline 22.2s @16g -> 16.0s @48g, and
        # dedup_ngram_jaccard run-to-run spread collapsed from
        # [3.4,12.2,8.1] to [2.8,2.3,2.1]). Xmx is a cap, not an
        # allocation; sized to the host by _default_driver_mem.
        .config(
            "spark.driver.memory",
            os.environ.get("AGNES_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        # keep stdout/stderr capture clean for harness tail-parsing —
        # the r11 driver bench's captured tail was all progress bars
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter pushed from the filtered side of a join
        # to the big side's scan — row-group skipping a dim filter
        # can't reach statically; a large-scan win at 100 TB
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _free_blocks(df) -> None:
    """Free a frame's storage blocks.

    `DataFrame.unpersist()` only evicts cacheManager entries; a
    `localCheckpoint()`ed frame's blocks live at the RDD layer
    (`LogicalRDD`), where they survive both `unpersist()` and
    `spark.catalog.clearCache()` and are otherwise freed only when the
    JVM garbage-collects the RDD reference.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return
    except Exception:
        pass
    df.unpersist()


def supersede(old, new):
    """Free `old`, the round frame that `new` replaces, and return `new`.

    Iterative operators pass each round's frame here once it has
    materialized (persisted and counted, or checkpointed), so a call
    holds at most one round frame at a time and a long session holds
    at most one per live result. Pass `new=None` after the last round
    when the result keeps nothing of the round frames; `old=None`
    (nothing superseded yet) is a no-op.

    Only safe when no plan will read `old` again: a local checkpoint's
    lineage is truncated, so its rows cannot be recomputed once its
    blocks are gone (Spark logs a WARN to that effect).
    """
    if old is not None:
        _free_blocks(old)
    return new
