"""SparkSession factory tuned for the validation engine.

Local-mode defaults mirror what a cluster deployment would set per
executor; the knobs that matter at 100 TB (AQE, skew-join handling,
shuffle partitions sized to input, Arrow batch size) are all explicit
here so the same module configures ``spark-submit`` jobs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# One Arrow batch is the unit of work inside every pandas UDF.  10k rows
# of ~2 KB html ≈ 20 MB per batch — large enough to amortize Arrow
# transfer, small enough to never blow executor memory (the analog of the
# reference's 4096-sample true-peak chunking, true_peak.rs:104-117).
ARROW_BATCH_ROWS = 10_000


def default_driver_memory() -> str:
    """Half of physical memory, capped at 48g, as a JVM size string.

    Local mode runs the whole cluster in the driver heap, but the pandas
    workers live outside it: on a 15 GB host an 8g heap peaked at ~11 GB
    used, and a 48g heap let ParallelGC grow past RAM until the kernel
    killed the JVM.  ``SPARK_DRIVER_MEM`` overrides this default."""
    total_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    if not total_kb:
        return "4g"
    return f"{max(1, min(48, total_kb // (2 * 1024 * 1024)))}g"


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label every Spark job started inside the block (``spark.job.
    description``, shown by the UI and recorded in the event log), then
    restore the previous label.  The job group is left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def get_spark(
    app_name: str = "audio_quality_checker_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``.  ``shuffle_partitions`` defaults to
    2x cores locally — on a real cluster this is set from input size
    (bytes / 128MB target partition), see plans/validate.py.
    """
    cores_str = "*" if cores is None else str(cores)
    n_cores = os.cpu_count() or 4 if cores is None else cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)

    builder = (
        SparkSession.builder.master(f"local[{cores_str}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # local mode = driver-only: the driver heap IS the cluster memory
        # (sized from the host, see default_driver_memory)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # ParallelGC over G1: scans of multi-KB binary columns decompress
        # through JNI critical regions on every task thread; G1's GCLocker
        # stalls under that at high core counts ("Retried waiting for
        # GCLocker too often"), measured 2x slower than ParallelGC on the
        # 32-thread extraction scan (61s vs 33s).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
