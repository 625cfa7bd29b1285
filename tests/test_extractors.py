"""M2 extractor semantics: payload shapes, contingency math, determinism."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import extractors as X
from pubmedkb_web_spark.pipeline import mentions as M

import tests.oracle as oracle


def _build(spark, n=40):
    src = fixtures.ingest(fixtures.source_table(spark, n))
    ed = fixtures.entity_dict_df(spark)
    sents, ments = M.build_mentions(src, ed)
    return sents.cache(), ments.cache()


def test_contingency_math(spark):
    """OR/CI from a known tiny corpus, vs closed-form Python."""
    rows = [
        ("d1", 0, "x"), ("d1", 0, "y"),
        ("d2", 0, "x"), ("d2", 0, "y"),
        ("d3", 0, "x"),
        ("d4", 0, "y"),
        ("d5", 0, "z"),
    ]
    mentions = spark.createDataFrame(rows, "doc_id string, sent_idx int, name string")
    # six sentences: d1..d5 above plus a mention-less d6
    got = {(r["n1"], r["n2"]): r for r in X.pair_contingency(mentions, 6).collect()}
    r = got[("x", "y")]
    assert (r["a"], r["b"], r["c"], r["d"]) == (2, 1, 1, 2)
    aa, bb, cc, dd = 2.5, 1.5, 1.5, 2.5
    expect_or = (aa * dd) / (bb * cc)
    assert abs(r["odds_ratio"] - round(expect_or, 4)) < 1e-9
    se = math.sqrt(1 / aa + 1 / bb + 1 / cc + 1 / dd)
    assert abs(r["ci_low"] - round(expect_or * math.exp(-1.96 * se), 4)) < 1e-9
    n = 6
    chi_num = n * (2 * 2 - 1 * 1) ** 2
    chi_den = 3 * 3 * 3 * 3
    p = math.erfc(math.sqrt(chi_num / chi_den / 2))
    assert abs(r["p"] - round(p, 6)) < 1e-9


def test_cre_payload_contract(spark):
    sents, ments = _build(spark)
    cre = X.extract_cre(X.mention_pairs(ments, sents)).collect()
    assert cre, "fixture must produce variant-disease pairs"
    for r in cre:
        assert r["relation"] in {"Cause-associated", "In-patient", "Appositive"}
        assert r["confidence"].endswith("%")
        v = float(r["confidence"][:-1])  # parse contract server.py:733
        assert 50.0 <= v <= 99.9
        assert abs(r["score"] - v / 100 * 3) < 1e-9


def test_ore_adjacency(spark):
    sents, ments = _build(spark)
    pairs = X.mention_pairs(ments, sents)
    sent_map = {
        (r["doc_id"], r["sent_idx"]): r["sentence"] for r in sents.collect()
    }
    for r in X.extract_ore(pairs).filter(F.col("annotator") == "spacy_ore").collect():
        s = sent_map[(r["doc_id"], r["sent_idx"])]
        assert f"{r['subject']} {r['predicate']} {r['object']}" in s
        assert r["predicate"] in X.PREDICATES


def test_ann_ids_unique_within_doc(spark):
    sents, ments = _build(spark, 60)
    anns = X.extract_all(ments, sents, sents.count())
    dup = (
        anns.groupBy("doc_id", "ann_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_extract_all_fused_matches_union(spark):
    """The fused single-pass plan must emit EXACTLY the four branches'
    union — column for column, ann_id for ann_id (the round-3 annotations
    rewrite is a physical-plan change only)."""
    sents, ments = _build(spark, 60)
    n = sents.count()
    fused = X.extract_all(ments, sents, n)
    union = X.extract_all_unioned(ments, sents, n)
    cols = sorted(fused.columns)
    assert sorted(union.columns) == cols
    a = sorted(map(tuple, fused.select(*cols).collect()))
    b = sorted(map(tuple, union.select(*cols).collect()))
    assert a == b


def test_extractors_deterministic(spark):
    sents, ments = _build(spark, 30)
    n = sents.count()
    a = sorted(map(tuple, X.to_triples(X.extract_all(ments, sents, n)).collect()))
    b = sorted(map(tuple, X.to_triples(X.extract_all(ments, sents, n)).collect()))
    assert a == b


def test_cre_hash_matches_python_oracle(spark):
    """CRE label/confidence reproduce from the portable hash."""
    sents, ments = _build(spark)
    for r in X.extract_cre(X.mention_pairs(ments, sents)).limit(20).collect():
        # reconstruct the pair offsets from the mention table
        ms = {
            m["mention_idx"]: m
            for m in ments.filter(
                (F.col("doc_id") == r["doc_id"]) & (F.col("sent_idx") == r["sent_idx"])
            ).collect()
        }
        h_off = ms[r["head"][0]]["offset"]
        t_off = ms[r["tail"][0]]["offset"]
        key = "\x1f".join([r["doc_id"], str(r["sent_idx"]), str(h_off), str(t_off), "cre"])
        from pubmedkb_web_spark.functions.hashing import xxh64_pmod

        assert r["relation"] == ["Cause-associated", "In-patient", "Appositive"][xxh64_pmod(key, 3)]
        assert r["confidence"] == f"{(500 + xxh64_pmod(key, 500)) / 10:.1f}%"


def test_pair_contingency_matches_self_join_formulation(spark):
    # r7: collect_set + pair explode must reproduce the old distinct +
    # self-join pair counts exactly (a, b, c, d and derived stats).
    from pyspark.sql import functions as F

    from pubmedkb_web_spark.pipeline import extractors

    rows = [
        ("d1", 0, "alpha"), ("d1", 0, "beta"), ("d1", 0, "alpha"),
        ("d1", 1, "alpha"), ("d2", 0, "beta"), ("d2", 0, "gamma"),
        ("d2", 0, "ALPHA"), ("d3", 0, "beta"),
    ]
    mentions = spark.createDataFrame(rows, "doc_id string, sent_idx int, name string")
    n_sentences = mentions.select("doc_id", "sent_idx").distinct().count()
    got = {
        (r["n1"], r["n2"]): (r["a"], r["b"], r["c"], r["d"])
        for r in extractors.pair_contingency(mentions, n_sentences).collect()
    }
    # 4 distinct sentences; per-sentence distinct lowercased names:
    # (d1,0)={alpha,beta} (d1,1)={alpha} (d2,0)={alpha,beta,gamma} (d3,0)={beta}
    assert got[("alpha", "beta")] == (2, 1, 1, 0)
    assert got[("alpha", "gamma")] == (1, 2, 0, 1)
    assert got[("beta", "gamma")] == (1, 2, 0, 1)
    assert set(got) == {("alpha", "beta"), ("alpha", "gamma"), ("beta", "gamma")}
