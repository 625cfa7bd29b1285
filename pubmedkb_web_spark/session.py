"""SparkSession builders.

Local test sessions run ``local[N]`` but every knob is chosen so the same
plans survive a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting + empty-relation propagation — the reference's hand-rolled
"smallest-input-first" and "AND early abort", kb_utils.py:171-173,1572-1573,
come for free), shuffle partitions sized to parallelism, Arrow on for every
pandas UDF, UTC session timezone so results compare bit-for-bit against the
DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "pubmedkb_web_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a ``local[cores]`` session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'; ``shuffle_partitions``
    to $SPARK_GRAFT_CPUS or 32. On a real cluster the master/memory
    settings come from spark-submit and these builder calls are inert —
    only the sql confs matter.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(env) if env and env.isdigit() else DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd ≈ halves string-heavy parquet bytes vs snappy at similar CPU:
        # the checkpointed stages (annotations especially) are write-volume
        # bound on shared disks, and fewer bytes also means fewer bytes to
        # scan on resume.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
