"""Emitted-triple precision/recall vs the reference-semantics oracle —
the north-rule acceptance metric (P/R ≥ 0.95). Deterministic extractors
must actually hit 1.0; the odds_ratio annotator is corpus-statistical and
checked separately (tests/test_extractors.py::test_contingency_math)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import extractors as X
from pubmedkb_web_spark.pipeline import mentions as M

import tests.oracle as oracle

DETERMINISTIC = {"co_occurrence", "spacy_ore", "openie_ore", "rbert_cre"}


def test_triple_precision_recall(spark):
    n = 60
    src = fixtures.ingest(fixtures.source_table(spark, n))
    ed = fixtures.entity_dict_df(spark)
    sents, ments = M.build_mentions(src, ed)
    sents = sents.cache()
    anns = X.extract_all(ments.cache(), sents, sents.count())
    got = {
        (r["subj"], r["pred"], r["obj"], r["annotator"], r["doc_id"], r["sent_idx"])
        for r in X.to_triples(anns)
        .filter(F.col("annotator").isin(list(DETERMINISTIC)))
        .dropDuplicates(["subj", "pred", "obj", "annotator", "doc_id", "sent_idx"])
        .collect()
    }
    expected = oracle.corpus_triples(n)
    assert expected, "oracle produced no triples — fixture broken"
    tp = len(got & expected)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(expected), 1)
    assert precision >= 0.95, f"precision {precision:.4f}; extra: {sorted(got - expected)[:5]}"
    assert recall >= 0.95, f"recall {recall:.4f}; missing: {sorted(expected - got)[:5]}"
    # deterministic extractors should in fact be exact
    assert precision == 1.0 and recall == 1.0
