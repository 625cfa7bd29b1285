"""LitVar autocomplete source parity (SURVEY.md S6).

The expectation oracle is a verbatim-logic Python replica of the
``query_variant`` result loop (kb_utils.py:219-250) applied to raw
result dicts — the engine's JVM parse must reproduce it exactly,
including the degenerate ``find() == -1`` slice arithmetic.
"""

from __future__ import annotations

import json

import pytest

from pubmedkb_web_spark.sources import litvar


def _ref_parse(result_list):
    # verbatim logic of kb_utils.query_variant (kb_utils.py:226-249)
    variant_list = []
    for result in result_list:
        id_list = []
        if "rsid" in result:
            id_list.append("RS#:" + result["rsid"][2:])
        if "hgvs" in result:
            id_list.append("HGVS:" + result["hgvs"])
        name_list = [result["name"]]
        if "match" in result:
            match = result["match"]
            prefix = "<m>"
            suffix = "</m>"
            i = match.find(prefix) + len(prefix)
            j = match.find(suffix, i)
            match = match[i:j]
            if match != name_list[0]:
                name_list.append(match)
        gene_list = result.get("gene", [])
        variant_list.append((id_list, name_list, gene_list))
    return variant_list


RESULTS = [
    # the normal shapes LitVar2 actually returns
    {"rsid": "rs113488022", "hgvs": "p.V600E", "name": "V600E",
     "match": "<m>V600E</m> mutation", "gene": ["BRAF"]},
    {"rsid": "rs121913529", "name": "G12D", "match": "KRAS <m>G12D</m>",
     "gene": ["KRAS", "NRAS"]},
    {"hgvs": "c.35G>A", "name": "c.35G>A"},
    # match equals name -> no second entry
    {"name": "R175H", "match": "<m>R175H</m>", "gene": []},
    # degenerate: markers absent -> Python slices match[2:-1]
    {"name": "X99X", "match": "no markers here"},
    # degenerate: opener but no closer -> match[i:-1]
    {"name": "Y1Y", "match": "ab<m>tail"},
    # degenerate: short match string
    {"name": "Z2Z", "match": "a"},
    # empty-name edge, empty match inner
    {"name": "", "match": "<m></m>", "gene": ["TP53"]},
]


def test_parse_litvar_matches_reference_loop(spark):
    raw = json.dumps(RESULTS)
    got = (
        litvar.parse_litvar(litvar.results_df(spark, raw, "q"))
        .select("id_list", "name_list", "gene_list")
        .collect()
    )
    expected = _ref_parse(RESULTS)
    assert len(got) == len(expected)
    for row, (ids, names, genes) in zip(got, expected):
        assert row["id_list"] == ids
        assert row["name_list"] == names
        assert row["gene_list"] == genes


def test_query_variant_offline_fetcher(spark):
    fetched = []

    def fake(q):
        fetched.append(q)
        return json.dumps(RESULTS[:2])

    df = litvar.query_variant(spark, "V600E", fetcher=fake)
    rows = df.collect()
    assert fetched == ["V600E"]
    assert [r["query"] for r in rows] == ["V600E", "V600E"]
    assert rows[0]["id_list"] == ["RS#:113488022", "HGVS:p.V600E"]
    assert rows[0]["name_list"] == ["V600E"]
    assert rows[1]["name_list"] == ["G12D"]
    assert rows[1]["gene_list"] == ["KRAS", "NRAS"]


def test_litvar_enrich_bulk(spark):
    # deterministic executor-side fetcher: one synthetic result per query
    def fake(q):
        return json.dumps(
            [{"rsid": f"rs{len(q)}{q}", "name": q, "match": f"<m>{q}x</m>",
              "gene": [q.upper()]}]
        )

    queries = spark.createDataFrame(
        [("abc",), ("de",), ("abc",)], "query string"
    )
    out = {
        r["query"]: r
        for r in litvar.litvar_enrich(queries, fetcher=fake).collect()
    }
    assert set(out) == {"abc", "de"}  # distinct() dedups the fan-out
    expected = _ref_parse(json.loads(fake("abc")))
    assert out["abc"]["id_list"] == expected[0][0]
    assert out["abc"]["name_list"] == expected[0][1]
    assert out["abc"]["gene_list"] == expected[0][2]


def test_no_fetcher_refuses_without_opt_in(spark):
    # the fetcher is required: a live call must name live_fetcher
    with pytest.raises(TypeError, match="fetcher"):
        litvar.query_variant(spark, "V600E")
    with pytest.raises(TypeError, match="fetcher"):
        litvar.litvar_enrich(spark.range(1).selectExpr("'V600E' AS query"))
