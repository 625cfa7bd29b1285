from __future__ import annotations

import pytest

from pubmedkb_web_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="pubmedkb_web_spark_tests",
        cores=4,
        shuffle_partitions=4,
        driver_memory="8g",
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_kb(spark, tmp_path_factory):
    """One shared small KG build (120 docs) for all query-layer tests."""
    from pubmedkb_web_spark.pipeline import runner

    out = tmp_path_factory.mktemp("kb")
    tables = runner.run_kg_pipeline(spark, str(out), n_docs=120)
    return tables
