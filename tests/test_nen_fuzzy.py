"""NEN fuzzy lookup: exact difflib parity + blocking semantics."""

from __future__ import annotations

import difflib

import pytest

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.query import nen


def _dict_names(case_sensitive):
    names = fixtures.build_entity_dict()["name"]
    return {n if case_sensitive else n.lower() for n in names}


@pytest.mark.parametrize(
    "q, case_sensitive, max_length_diff",
    [
        ("p.v600x", False, 1),  # 1 char off the hot variant
        ("BRAFX", True, 1),  # 'BRAF' scores, 'braf' does not match case
        ("p.v600", False, 2),
    ],
    ids=["default", "case-sensitive", "length-diff-2"],
)
def test_ratio_parity_with_difflib(spark, q, case_sensitive, max_length_diff):
    ed = fixtures.entity_dict_df(spark)
    got = [
        (r["name"], r["similarity"])
        for r in nen.fuzzy_names(
            ed, q, case_sensitive=case_sensitive, min_similarity=0.5,
            max_length_diff=max_length_diff,
        ).collect()
    ]
    assert got, "candidates expected within the length bound"
    key = q if case_sensitive else q.lower()
    scored = sorted(
        (-round(difflib.SequenceMatcher(a=n, b=key).ratio(), 6), n)
        for n in _dict_names(case_sensitive)
        if abs(len(n) - len(key)) <= max_length_diff
    )
    expect = [(n, -neg) for neg, n in scored if -neg >= 0.5][: nen.DEFAULT_MAX_NAMES]
    assert got == expect


@pytest.mark.parametrize(
    "case_sensitive, max_length_diff",
    [(False, 1), (True, 1), (False, 3)],
    ids=["default", "case-sensitive", "length-diff-3"],
)
def test_length_blocking(spark, case_sensitive, max_length_diff):
    ed = fixtures.entity_dict_df(spark)
    q = "BRAF"
    names = {
        r["name"]
        for r in nen.fuzzy_names(
            ed, q, case_sensitive=case_sensitive, min_similarity=0.0,
            max_length_diff=max_length_diff, max_names=1000,
        ).collect()
    }
    assert names == {
        n for n in _dict_names(case_sensitive) if abs(len(n) - len(q)) <= max_length_diff
    }


def test_exact_match_ranks_first(spark):
    ed = fixtures.entity_dict_df(spark)
    rows = nen.fuzzy_names(ed, "braf").collect()
    assert rows[0]["name"] == "braf"
    assert rows[0]["similarity"] == 1.0


def test_ids_by_name_freq_ranked(spark):
    ed = fixtures.entity_dict_df(spark)
    names = nen.fuzzy_names(ed, "rs113488022")
    ranked = nen.ids_by_name(ed, names).collect()
    by_name: dict[str, list] = {}
    for r in ranked:
        by_name.setdefault(r["name"], []).append(r)
    for rows in by_name.values():
        rows.sort(key=lambda r: r["rank"])
        freqs = [r["freq"] for r in rows]
        assert freqs == sorted(freqs, reverse=True)


def test_aliases_by_id_capped(spark):
    ed = fixtures.entity_dict_df(spark)
    out = nen.aliases_by_id(ed, max_aliases=2).collect()
    from collections import Counter

    c = Counter((r["type"], r["id"]) for r in out)
    assert max(c.values()) <= 2


def test_variant_dict_membership(spark):
    """VariantNEN store semantics (kb_utils.py:1403-1434): lowercase dedup
    per id, synthesized rs<digits> surface for RS#: ids."""
    ed = fixtures.entity_dict_df(spark)
    vd = nen.variant_dict(ed)
    rows = {(r["type"], r["id"], r["name_lower"]) for r in vd.collect()}
    # every VARIANT dict row is present lowercased
    pdf = fixtures.build_entity_dict()
    vt = set(nen.VARIANT_UMBRELLA)
    for t, i, n in zip(pdf["type"], pdf["id"], pdf["name"]):
        if t in vt:
            assert (t, i, n.lower()) in rows
    # RS ids carry the synthesized surface
    assert ("SNP", "RS#:113488022", "rs113488022") in rows
    # only variant types, no duplicates
    assert all(t in vt for t, _, _ in rows)
    assert vd.count() == len(rows)


def test_variant_in_kb_matches_python_oracle(spark):
    """get_variant_in_kb (kb_utils.py:385-396) vs a direct Python replica:
    type-by-type probe, stable sort by frequency desc."""
    ed = fixtures.entity_dict_df(spark)
    id_list = ["RS#:113488022", "HGVS:p.V600E", "MISSING:1"]
    name_list = ["rs113488022", "p.v600e", "nope"]
    got = [
        (r["type"], r["id"], r["name"], r["frequency"])
        for r in nen.variant_in_kb(ed, id_list, name_list).collect()
    ]

    pdf = fixtures.build_entity_dict()
    store: dict[tuple[str, str, str], int] = {}
    for t, i, n, f in zip(pdf["type"], pdf["id"], pdf["name"], pdf["freq"]):
        store[(t, i, n)] = store.get((t, i, n), 0) + int(f)
    expect = []
    for t in nen.VARIANT_UMBRELLA:
        for i in id_list:
            for n in name_list:
                if (t, i, n) in store:
                    expect.append((t, i, n, store[(t, i, n)]))
    expect.sort(key=lambda x: -x[3])  # python sort is stable
    assert got == expect
    assert got, "probe must hit the golden variant entries"


def test_fuzzy_names_scores_its_bucket_in_one_job(spark):
    """One scan collects the length bucket; scoring runs on the driver."""
    ed = fixtures.entity_dict_df(spark).cache()
    try:
        ed.count()
        sc = spark.sparkContext
        sc.setJobGroup("fuzzy-one-job", "fuzzy")
        try:
            rows = nen.fuzzy_names(ed, "brafx").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        assert len(sc.statusTracker().getJobIdsForGroup("fuzzy-one-job")) == 1
    finally:
        ed.unpersist()


def test_fuzzy_names_refuses_an_oversized_bucket(spark, monkeypatch):
    """A length bucket past MAX_BUCKET_ROWS raises instead of reaching the
    driver, and the error names the bound and the bucket."""
    ed = fixtures.entity_dict_df(spark)
    q = "braf"
    bucket = sum(abs(len(n.lower()) - len(q)) <= 1 for n in fixtures.build_entity_dict()["name"])
    assert bucket > 2
    monkeypatch.setattr(nen, "MAX_BUCKET_ROWS", bucket - 1)
    with pytest.raises(ValueError, match=f"more than {bucket - 1} dictionary names of length 3-5"):
        nen.fuzzy_names(ed, q)
    monkeypatch.setattr(nen, "MAX_BUCKET_ROWS", bucket)
    assert nen.fuzzy_names(ed, q).collect()
