"""SQL statements bound to the caller's DataFrames.

``spark.sql(text, **kwargs)`` binds each DataFrame keyword as a temp view
and each string keyword through PySpark's literal quoting, then drops the
views with ``Catalog.dropTempView`` — which also uncaches the view's plan,
that is the caller's cached DataFrame. :func:`sql` binds each DataFrame
through a no-op ``where("true")`` instead: the dropped view's plan is then
not the cached one, so the caller's cache stays, the statement still reads
it, and the optimizer removes the filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def sql(text: str, **kwargs) -> DataFrame:
    """``spark.sql(text, **kwargs)`` that leaves the bound frames' caches in
    place. At least one keyword must be a DataFrame (it gives the session)."""
    frames = [v for v in kwargs.values() if isinstance(v, DataFrame)]
    bound = {k: v.where("true") if isinstance(v, DataFrame) else v for k, v in kwargs.items()}
    return frames[0].sparkSession.sql(text, **bound)
