"""SparkSession builders.

Local-mode sessions for tests/bench; the same configs scale to cluster submit via
``spark-submit --py-files`` (partitioning decisions live in the operators, not here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local-mode cores: ``SPARK_GRAFT_CPUS`` when set, else every CPU of
    the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def build_session(
    app_name: str = "mmgraphrag_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession.

    Run from plain python it is ``local[N]`` (single JVM). Under
    spark-submit (``PYSPARK_GATEWAY_PORT`` set: the driver JVM is already up)
    the master and every key spark-submit set are kept, and only the keys it
    left unset get the values below. AQE is on so fusion-join skew is
    re-planned at runtime; Arrow is on because the extractor/scene/fusion
    UDFs are all pandas/Arrow-batched (no per-row Python).
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        # Keep the heap SMALL: on lazily-backed VMs, G1 young-gen size tracks
        # the heap and every collection touches fresh pages — measured 60M-row
        # md5 at local[32]: 8g=1.6s, 16g=6s, 24g=23s, 48g=10-70s. Checkpoint
        # blocks spill to disk via MEMORY_AND_DISK, so 8g is enough.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        **(extra_conf or {}),
    }
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        # spark-submit's JVM holds its conf; connecting to it starts nothing.
        # (Without spark-submit, reading SparkConf first would start a JVM
        # without the driver heap set above.)
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized()
        submitted = SparkConf()
        conf = {k: v for k, v in conf.items() if not submitted.contains(k)}
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
