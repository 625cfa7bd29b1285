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
    master: str | None = None,
) -> SparkSession:
    """Build a session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or '*'. On a real cluster the
    master/memory settings come from spark-submit and these builder calls
    are inert — only the sql confs matter.

    ``master`` (or $SPARK_GRAFT_MASTER) overrides the ``local[cores]``
    default — e.g. ``local-cluster[4,8,20480]`` runs 4 separate executor
    PROCESSES of 8 cores each, the honest single-box analog of a
    multi-executor cluster (separate JVMs, separate Python worker pools,
    separate kernel address spaces — a 32-thread single JVM shares one
    mmap lock across all task threads and anti-scales on shuffle-file
    churn; real clusters never run one 32-thread executor per box).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(env) if env and env.isdigit() else DEFAULT_SHUFFLE_PARTITIONS
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"

    builder = (
        SparkSession.builder.master(master)
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
