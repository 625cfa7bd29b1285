"""The gate surface: ``builders`` (the ``q_*`` gate builders and
``queries()``) and ``oracle`` (their DuckDB twins, ``oracle_sql()``).
The engine imports neither; ``__spark_entry__.py`` re-exports both."""
