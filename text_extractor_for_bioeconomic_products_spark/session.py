"""SparkSession factory with scale-oriented defaults.

Local sandbox runs use ``local[N]``; the same configs are what we would
ship to a 1000-executor cluster via spark-submit (AQE, skew join handling,
Arrow batching sized for text payloads).

Python runs in one worker pool per executor: one ``pyspark.daemon`` plus
one worker per core, shared by the Arrow UDF and any Python-RDD work
(the executor env matches the UDF runner's, see ``get_spark``).

Parquet is written with Iceberg's own defaults: zstd pages and timestamps
as INT64 microseconds adjusted to UTC (Iceberg's ``timestamptz``), not
snappy and the deprecated INT96.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "text_extractor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    shuffle_partitions defaults to the core count — on a real cluster this
    is set to ~2-3× total executor cores instead; AQE coalesces down.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or cpus

    # Executor Python workers must import this package regardless of the
    # driver's cwd.  On a real cluster spark-submit --py-files ships the
    # package (north_rule mechanics); in local mode the forked workers
    # inherit PYTHONPATH, so export the repo root before the JVM starts.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is a measured trade: 2048 cost ~15% extract
        # throughput to per-batch overhead (477 round trips on the 1M-turn
        # bench corpus); 16384 was slightly worse than 8192 and risks fat
        # batches on long-text corpora (8192 × 10k-char turns ≈ 80 MB —
        # still bounded per worker).  Size by expected row bytes when
        # deploying against a different corpus shape.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Spark keys executor Python daemons by worker env, and the Arrow
        # UDF runner adds SPARK_SIMPLIFIED_TRACEBACK=1 where the RDD runner
        # (createDataFrame of a Python list, rdd.map) does not; setting it
        # for every runner lets both share the UDF's one worker pool
        # instead of keeping a second daemon with an idle worker per core.
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
        # Iceberg's own parquet write defaults: zstd pages, and timestamps
        # as INT64 microseconds adjusted to UTC (Iceberg's timestamptz),
        # never the deprecated INT96
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
