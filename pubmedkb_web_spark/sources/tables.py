"""Table IO.

The engine's canonical layout is an Iceberg catalog (the north-rule source
is an Iceberg table of source-code repositories). Where the JVM has no
Iceberg runtime jar (this repository's test image has none), the adapter
reads plain parquet directories with identical logical schemas. All call
sites go through these functions — swapping in Iceberg is a config change,
not a code change.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when the JVM can load Iceberg's classes. The class is loaded by
    name: a py4j attribute chain (``spark._jvm.org.apache.iceberg.Schema``)
    gives back a ``JavaPackage`` for a class that is not there instead of
    raising."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    loader = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    try:
        jvm.java.lang.Class.forName("org.apache.iceberg.Schema", False, loader)
    except Py4JJavaError:
        return False
    return True


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a logical table: the Iceberg identifier ``{root}.{name}`` when
    Iceberg is available and ``root`` has no '/', else the
    ``{root}/{name}.parquet`` file or ``{root}/{name}`` directory. A
    relative ``root`` is resolved against this process's working
    directory, which the JVM's need not be."""
    if iceberg_available(spark) and "/" not in root:
        return spark.read.format("iceberg").load(f"{root}.{name}")
    for suffix in (f"{name}.parquet", name):
        p = os.path.abspath(os.path.join(root, suffix))
        if os.path.exists(p):
            return spark.read.parquet(p)
    raise FileNotFoundError(f"table {name} not found under {root}")
