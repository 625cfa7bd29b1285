"""Gate surface of the pubmedkb_web_spark engine, re-exported.

``queries()`` maps 50 gate names to ``(spark, sf_dir) -> DataFrame``
builders (``pubmedkb_web_spark/gates/builders.py``); ``oracle_sql()`` gives
each gate, and each constituent ``q_*`` builder of a merged gate, a DuckDB
twin over the same parquet tables (``pubmedkb_web_spark/gates/oracle.py``).
Every public ``q_*`` builder is re-exported: bench.py resolves constituent
gates by ``getattr(E, f"q_{name}")``. The gates are package modules, so a
``--py-files`` zip of the package is their only import source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pubmedkb_web_spark.gates.builders import *  # noqa: F401,F403
from pubmedkb_web_spark.gates.builders import q_rel_relevance_page
from pubmedkb_web_spark.gates.oracle import oracle_sql  # noqa: F401


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Rel relevance page over sf0.001 documents token postings."""
    return q_rel_relevance_page(spark, "/root/testdata/sf0.001")
