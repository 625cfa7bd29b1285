"""Table IO: logical table names resolve to parquet under a root."""

from __future__ import annotations

from pubmedkb_web_spark.sources import tables


def test_relative_root_reads_parquet(spark, tmp_path, monkeypatch):
    """A root without '/' is read as parquet when the JVM has no Iceberg
    runtime, relative to this process's working directory (the JVM's can
    differ)."""
    spark.range(3).write.parquet(str(tmp_path / "kb" / "meta"))
    monkeypatch.chdir(tmp_path)
    assert not tables.iceberg_available(spark)
    assert tables.read_table(spark, "kb", "meta").count() == 3
