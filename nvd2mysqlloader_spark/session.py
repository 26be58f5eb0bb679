"""SparkSession factory.

Tuned for the test harness (local[N], single JVM) while keeping every
setting cluster-valid: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), shuffle partitions sized to cores locally (on a
real cluster AQE coalesces from a higher initial number), UTC session
timezone so timestamp semantics match the DuckDB oracle, Arrow
enabled for the Pandas-UDF slow path, and zstd parquet files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nvd2mysqlloader_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local parallelism
    (SPARK_GRAFT_CPUS or 32).  At 100 TB on a real cluster this knob is
    instead set to ~2-3x total executor cores and AQE coalesces down;
    the configs below are identical either way.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: all memory lives in the driver JVM. Size it to
        # the machine (128 GiB here): at 8g the Arrow-heavy pipelines
        # (shingling, matmuls, localCheckpoint blocks) ran the heap hot
        # and full-GC pauses made their timings bounce 2-4x run to run;
        # headroom turns those into minor collections. On a cluster
        # this knob is per-executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # stderr is a recorded artifact (the bench driver keeps the
        # last 2 KB): the console progress bar's \r-animation frames
        # are noise there, not signal
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # zstd, not the snappy default: smaller files, and every table
        # keeps its previous version on disk beside the current one
        # (table_io.publish_version), so each byte is paid for twice
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_benign_loggers(spark)
    return spark


def _silence_benign_loggers(spark: SparkSession) -> None:
    """Demote known noisy-but-benign JVM loggers to ERROR.

    ``FileStreamSink.hasMetadata`` stats every batch-read path to ask
    "is this a streaming sink output?"; for a GLOB path (e.g. the
    ingest gate's ``landing/*.meta``) the literal string never exists,
    so it logs a full FileNotFoundException stack at WARN and then
    proceeds correctly — pure noise that drowns real warnings (it
    filled the 2 KB bench stderr tail in round 4)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # logging backend not log4j2 (alt classpath): keep defaults
