"""SparkSession helpers for the engine (local[N] in the sandbox; the same
configs are what we'd set per-job on a 1000-executor cluster)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "lucene-solr-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.security.manager=allow")
        # workers without Spark's zip/jar importers: no per-task
        # re-read of their archives (see `_daemon`)
        .config("spark.python.daemon.module", "lucene_solr_spark._daemon")
    )
    return b.getOrCreate()
