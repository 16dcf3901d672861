"""SparkSession factory tuned for the extraction workload.

Local defaults mirror what the cluster job would set via spark-submit conf:
AQE on (runtime re-plan, skew-join splitting, shuffle coalescing), Arrow on
(the kernel runs inside Arrow-batched UDFs), bounded Arrow batch sizes
(html blobs are large — SURVEY.md section 4, custom-work item c).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "ocr_cezam_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs are large: cap rows per Arrow batch so executor-side
        # Python workers stay memory-bounded at 100 TB scale.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # html-blob tables are CPU-heavy per byte (zstd decode + kernel):
        # cut scan-split size so the scan stage parallelizes across all
        # cores instead of 128MB-sized mega-tasks (4 tasks for a 400MB
        # table would cap the whole job at 4-way parallelism).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
