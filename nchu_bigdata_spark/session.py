"""SparkSession construction.

One place to pin every config that matters for correctness (UTC
timestamps for oracle comparison, ANSI off to match reference semantics)
and for scale (AQE on, Arrow on, shuffle partitions sized to cores).

At 100 TB the same code runs unchanged on a real cluster: only
``master``/memory/partition counts move to spark-submit conf. Nothing in
the engine assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test rig: single JVM, N threads. The driver runs bench on
# local[$SPARK_GRAFT_CPUS]; default to all cores.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

# Plan-choice confs with ONE source of truth: pinned here at session
# build and re-pinned by the registry wrapper on entry to every
# registered query (registry.final_fn), so a query that overrides them
# for its own demonstration (join_bloom_prune disables auto-broadcast
# to force the big-big runtime-filter path) cannot leak plans into the
# next query — and the re-pin restores the ENGINE's declared values,
# never a hardcoded Spark default that would silently clobber this
# module's deliberate 64MB broadcast threshold.
PLAN_CONF_PINS = {
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": "10GB",
    # Default TRUE (parse only needed CSV columns). scan_csv_corrupt
    # overrides to false for its own run — pruned parsing never sees
    # the malformed field, so _corrupt_record stays null (the classic
    # PERMISSIVE gotcha); pinning here bounds that override to one
    # query, like the bloom-filter pins above.
    "spark.sql.csv.parser.columnPruning.enabled": "true",
}


def get_session(
    app_name: str = "nchu_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Correctness-critical configs:
      * ``spark.sql.session.timeZone=UTC`` — Spark timestamps are
        session-TZ-relative; DuckDB's are UTC-naive. Pinning UTC makes
        oracle comparison deterministic.
    Scale-critical configs:
      * AQE + partition coalescing + skew-join: runtime re-planning is the
        first line of defense against skewed keys at 100 TB.
      * Arrow: vectorized Python<->JVM transfer for the Pandas-UDF ops.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Reference parity: Hadoop job had no ANSI mode; keep Spark's
        # permissive casts so 0-as-missing flows like the reference's
        # Double.parseDouble path (src/Kmeans.java:67-68).
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in PLAN_CONF_PINS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence WindowExec's per-execution "No Partition Defined" WARN
    # (VERDICT r11 item 7): every unpartitioned Window in the engine is
    # STRUCTURALLY audited as bounded-input by the single-task-window
    # rule (tests/test_single_task_window_rule.py) — that audit is the
    # guarantee; the hundreds of repeated WARN lines only bury real
    # signals in gate err_tails. Likewise MapPartitionsRDD's
    # "locally checkpointed ... cannot be recomputed after unpersisting"
    # WARN, logged for every freeze generation materialize.py releases.
    # Scoped to these loggers, never the root level.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.rdd.MapPartitionsRDD",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:  # noqa: BLE001 - logging cosmetics must never fail a job
        pass
    return spark
