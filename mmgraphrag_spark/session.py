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

    In this sandbox we always run ``local[N]`` (single JVM); on a real cluster the
    master is supplied by spark-submit and these configs carry over unchanged.
    AQE is on so fusion-join skew is re-planned at runtime; Arrow is on because the
    extractor/scene/fusion UDFs are all pandas/Arrow-batched (no per-row Python).
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Keep the heap SMALL: on lazily-backed VMs, G1 young-gen size tracks
        # the heap and every collection touches fresh pages — measured 60M-row
        # md5 at local[32]: 8g=1.6s, 16g=6s, 24g=23s, 48g=10-70s. Checkpoint
        # blocks spill to disk via MEMORY_AND_DISK, so 8g is enough.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

def get_test_session() -> SparkSession:
    """Session used by pytest (shared across tests)."""
    return build_session("mmgraphrag_spark_tests", shuffle_partitions=16)
