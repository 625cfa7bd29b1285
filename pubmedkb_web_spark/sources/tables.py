"""Table IO.

The engine's canonical layout is an Iceberg catalog (the north-rule source
is an Iceberg table of source-code repositories); this sandbox image has no
Iceberg runtime jar, so the adapter falls back to plain parquet directories
with identical logical schemas. All call sites go through these functions —
swapping in Iceberg is a config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Schema  # type: ignore[attr-defined]
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a logical table: Iceberg identifier if configured, else
    ``{root}/{name}.parquet`` or ``{root}/{name}`` directory."""
    if iceberg_available(spark) and "/" not in root:
        return spark.read.format("iceberg").load(f"{root}.{name}")
    for suffix in (f"{name}.parquet", name):
        p = os.path.join(root, suffix)
        if os.path.exists(p):
            return spark.read.parquet(p)
    raise FileNotFoundError(f"table {name} not found under {root}")
