"""The table contracts in ``schemas.py`` match the committed KG stages."""

from __future__ import annotations

import pytest

from pubmedkb_web_spark import schemas

STAGE_SCHEMAS = {
    "source": schemas.SOURCE_INGESTED,
    "sentences": schemas.SENTENCES,
    "mentions": schemas.MENTIONS,
    "annotations": schemas.ANNOTATIONS,
    "triples": schemas.TRIPLES,
    "entity_postings": schemas.ENTITY_POSTINGS,
    "meta": schemas.META,
    "chem_disease": schemas.CHEM_DISEASE,
}


def _columns(struct):
    return {(f.name, f.dataType.simpleString()) for f in struct.fields}


@pytest.mark.parametrize("stage", list(STAGE_SCHEMAS))
def test_stage_matches_schema(stage, small_kb):
    """Column names and types, as a set: ``partitionBy`` moves a column
    to the end, and parquet read-back drops nullability."""
    assert _columns(small_kb[stage].schema) == _columns(STAGE_SCHEMAS[stage])
