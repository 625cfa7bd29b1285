"""pubmedkb_web_spark — a from-scratch PySpark-native knowledge-graph
construction + query engine with the computational capabilities of
jacobvsdanniel/pubmedkb_web (reference at /root/reference, read-only).

This is NOT a port: the reference is a single-process Flask server over
precomputed offset-indexed JSONL/gdbm stores; this engine recomputes those
stores as Spark DataFrames (parquet / Iceberg-when-available) and answers the
same queries with DataFrame/SQL operators. See SURVEY.md for the full
operator-by-operator mapping.

Layout
------
- ``session``     SparkSession builders tuned for local[N] and cluster runs
- ``schemas``     every table contract from SURVEY.md §1.2 as StructType
- ``fixtures``    deterministic synthetic source/dictionary generators (seed=42)
- ``functions/``  scalar function library (fuzzy ratio, HGVSp, hashing, text)
- ``pipeline/``   KG construction stages M1–M4 (mentions → extractors →
                  canonicalize → materialize) with checkpoint/resume
- ``query/``      the M5 query layer (entity-spec compiler, Rel pipeline,
                  NEN fuzzy lookup, retrieval fusion, summary, varsum)
- ``ops/``        large-scale training-data operators (dedup, similarity
                  search, text analysis, multimodal plumbing)
- ``sources/``    source/sink adapters (parquet always; Iceberg behind an
                  import-try)
- ``streaming/``  event windows and sessionization, batch and stream twins
- ``gates/``      the gate surface ``__spark_entry__.py`` re-exports: the
                  ``q_*`` gate builders and ``queries()`` (``builders``) and
                  their DuckDB twins, ``oracle_sql()`` (``oracle``); the
                  engine imports neither
"""

__version__ = "0.1.0"
