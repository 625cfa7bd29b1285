"""SQL statements bound to the caller's DataFrames, and driver rows as
local relations.

``spark.sql(text, **kwargs)`` binds each DataFrame keyword as a temp view
and each string keyword through PySpark's literal quoting, then drops the
views with ``Catalog.dropTempView`` — which also uncaches the view's plan,
that is the caller's cached DataFrame. :func:`sql` binds each DataFrame
through a no-op ``where("true")`` instead: the dropped view's plan is then
not the cached one, so the caller's cache stays, the statement still reads
it, and the optimizer removes the filter.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def sql(text: str, **kwargs) -> DataFrame:
    """``spark.sql(text, **kwargs)`` that leaves the bound frames' caches in
    place. At least one keyword must be a DataFrame (it gives the session)."""
    frames = [v for v in kwargs.values() if isinstance(v, DataFrame)]
    bound = {k: v.where("true") if isinstance(v, DataFrame) else v for k, v in kwargs.items()}
    return frames[0].sparkSession.sql(text, **bound)


def local_relation(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver rows (tuples in ``schema``'s field order) → a ``LocalRelation``
    of that schema: the rows travel once, as one Arrow table, and reading
    the frame runs no Spark job and no Python worker. ``createDataFrame``
    of a Python list instead plans a Python RDD, whose every read starts a
    Python-worker job. Works with Arrow execution disabled too."""
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
