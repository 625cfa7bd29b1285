"""Plan-shape expectations: one table, one test.

Each row names a plan and the strings its formatted physical plan must and
must not contain. The plan is taken before execution (with AQE, the
initial plan), so the table pins what the optimizer chose, not what one run
re-planned to. The shapes that matter at scale:

- parquet scans carry PushedFilters / PartitionFilters where expected;
- small-side joins are broadcast (BroadcastHashJoin), not sort-merge;
- top-k plans use TakeOrderedAndProject, not a global Sort;
- no row-at-a-time Python (BatchEvalPython) anywhere, and no Python at all
  (ArrowEvalPython) where the operator is pure column expressions;
- token filters are codegen expressions, not interpreted array lambdas
  (``lambdafunction``);
- map-only operators plan no Exchange.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.gates import builders
from pubmedkb_web_spark.ops import similarity
from pubmedkb_web_spark.pipeline import materialize, mentions
from pubmedkb_web_spark.query import graph, kbqueries
from tests.test_entry import SF

PY = ["BatchEvalPython", "ArrowEvalPython"]
SINGLE_SCAN = ["BatchEvalPython", "SortMergeJoin", "BroadcastHashJoin", "Union"]


def _query(name):
    # merged driver gates keep their per-capability q_ functions; the
    # table audits those plans, not the union wrapper
    return lambda spark: (E.queries().get(name) or getattr(E, f"q_{name}"))(spark, SF)


def _builder(fn):
    return lambda spark: fn(spark, SF)


def _embed_text(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return similarity.embed_text(docs, dim=16)


def _cgd_topk(spark):
    paths = spark.range(8).selectExpr(
        "concat('c', id % 3) AS c", "'d0' AS d", "concat('g', id) AS g", "id / 8.0 AS cgd_score"
    )
    return graph.cgd_drug_discovery(paths, "d0", top_k=2)


def _chem_disease(spark):
    rows = spark.range(8).selectExpr(
        "concat('c', id % 2) AS c", "concat('d', id % 3) AS d", "'paper' AS level",
        "concat('p', id) AS doc_id",
    )
    return graph.chem_disease_lookup(rows, c="c1")


def _mesh_names(spark):
    names = spark.range(8).selectExpr(
        "concat('D', id % 2) AS mesh", "concat('n', id) AS name", "CAST(7 - id AS INT) AS rank"
    )
    return graph.mesh_name_lookup(names, ["D0"])


def _glof_lookup(spark):
    # the library function itself: the glof_rollup gate projects sent_idxs away
    glof = spark.range(8).selectExpr(
        "'Gene' AS type", "concat('g', id % 2) AS key", "'gof' AS direction",
        "concat('p', id % 3) AS doc_id", "CAST(id AS INT) AS sent_idx",
    )
    return kbqueries.glof_rollup(glof)


def _pair_stats(spark):
    triples = spark.range(8).selectExpr(
        "concat('s', id % 2) AS subj", "concat('o', id % 3) AS obj", "'x' AS annotator",
        "id / 8.0 AS score", "concat('p', id) AS doc_id", "CAST(id AS INT) AS sent_idx",
    )
    return materialize.build_pair_stats(triples)


def _typed_triples(spark):
    triples = spark.range(8).selectExpr(
        "concat('e', id % 3) AS subj", "'p' AS pred", "concat('e', id % 4) AS obj",
        "'x' AS annotator", "1.0 AS score", "concat('p', id) AS doc_id",
        "CAST(id AS INT) AS sent_idx", "'h' AS content_sha256",
    )
    types = spark.range(4).selectExpr(
        "concat('e', id) AS id",
        "element_at(array('Chemical', 'Gene', 'Disease'), CAST(id % 3 + 1 AS INT)) AS type",
    )
    return triples, types


def _mentions(spark):
    source = fixtures.ingest(fixtures.source_table(spark, 4, 42))
    return mentions.build_mentions(source, fixtures.entity_dict_df(spark), max_tokens=4)[1]


# name: (build(spark) -> DataFrame, must contain, must not contain)
SHAPES = {
    "tpch_pricing_summary": (
        _query("tpch_pricing_summary"),
        ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate"],
        ["BatchEvalPython"],
    ),
    # top-20 on the thin aggregate first, then a 20-row broadcast probe of
    # orders: never a sort-merge join of two full relations
    "top_revenue_orders": (
        _query("top_revenue_orders"),
        ["TakeOrderedAndProject"],
        ["BatchEvalPython", "SortMergeJoin"],
    ),
    "market_join": (_query("market_join"), ["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
    "cosine_topk": (_query("cosine_topk"), ["TakeOrderedAndProject"], PY),
    # pagination ranks only the <= page_end survivors, never the full
    # relation in one task
    "rel_relevance_page": (
        _query("rel_relevance_page"),
        ["TakeOrderedAndProject"],
        ["BatchEvalPython", "Union", "SortMergeJoin"],
    ),
    "rrf_fusion_orders": (_query("rrf_fusion_orders"), ["TakeOrderedAndProject"], ["BatchEvalPython"]),
    # a spec tree is one postings scan and one aggregation: no per-leaf
    # scans joined or unioned together
    "spec_and_or": (_query("spec_and_or"), [], SINGLE_SCAN),
    "spec_pair": (_query("spec_pair"), [], SINGLE_SCAN),
    "minhash_signatures": (_query("minhash_signatures"), ["HashAggregate"], PY),
    "simhash_docs": (_query("simhash_docs"), ["HashAggregate"], PY),
    # the bucket cap is opt-in: uncapped LSH pairs pay no bucket-size pass
    "lsh_near_dup_pairs": (_query("lsh_near_dup_pairs"), [], ["_bsz"]),
    "bm25_docs": (_query("bm25_docs"), ["BroadcastHashJoin"], ["BatchEvalPython"]),
    "lang_id_docs": (_query("lang_id_docs"), [], PY),
    "fingerprint_docs": (_query("fingerprint_docs"), [], PY),
    "quality_scores": (_query("quality_scores"), [], PY),
    "orders_page": (_query("orders_page"), ["TakeOrderedAndProject"], ["BatchEvalPython"]),
    "anti_join_customers": (_query("anti_join_customers"), ["BroadcastHashJoin"], ["BatchEvalPython"]),
    # presentation and the LitVar parse are pure codegen
    "html_escape_docs": (_query("html_escape_docs"), [], PY),
    "paper_meta_html_docs": (_query("paper_meta_html_docs"), [], PY),
    "litvar_parse_docs": (_query("litvar_parse_docs"), [], PY + ["lambdafunction"]),
    "user_sessions": (_query("user_sessions"), ["HashAggregate"], PY),
    # the IVF probe prunes the partitioned index to the probed lists
    "ivf_cosine_topk": (_query("ivf_cosine_topk"), ["TakeOrderedAndProject", "PartitionFilters"], PY),
    # explode, then two-level hash aggregation with a map-side combine
    "repetition_docs": (_query("repetition_docs"), ["HashAggregate"], PY),
    "gopher_filters": (_query("gopher_filters"), [], PY + ["Exchange"]),
    "pii_scrub": (_query("pii_scrub"), [], PY + ["Exchange"]),
    "c4_line_filters": (_query("c4_line_filters"), [], PY + ["Exchange"]),
    # the eval-sized benchmark side broadcasts, so the corpus-side shingle
    # scan never shuffles before the join
    "decontaminate_docs": (_query("decontaminate_docs"), ["BroadcastHashJoin"], PY + ["SortMergeJoin"]),
    # per-doc match lists are array expressions over the token array: no
    # explode + groupBy(doc_id) exchange
    "qa_target_filter": (_query("qa_target_filter"), [], ["Exchange", "BatchEvalPython"]),
    # vocabulary membership / tf / halves postings dedup inside the
    # per-row array: no aggregation exchange
    "doc_postings": (_builder(builders._doc_postings), [], ["Exchange"]),
    "tf_postings": (_builder(builders._tf_postings), [], ["Exchange"]),
    "ht_postings": (_builder(builders._ht_postings), [], ["Exchange"]),
    # codegen assembly (no ObjectHashAggregate collect_list->map path) and
    # the distinct-token md5 map joined by broadcast
    "embed_text": (_embed_text, ["BroadcastHashJoin"], ["ObjectHashAggregate", "SortMergeJoin"]),
    # vocabulary-token filters are a codegen isin after the posexplode
    "glof_rollup": (_query("glof_rollup"), [], ["lambdafunction", "BatchEvalPython"]),
    "gvd_stats": (_query("gvd_stats"), [], ["lambdafunction", "BatchEvalPython"]),
    "kg_extractor_slice": (_query("kg_extractor_slice"), [], ["lambdafunction", "BatchEvalPython"]),
    # the fuzzy names reach the id lookup as literals: no Python in the plan
    "fuzzy_nen": (_query("fuzzy_nen"), [], PY),
    # lookups sort their per-key lists with sort_array and read struct
    # fields, not array_sort's interpreted comparator or transform lambdas
    "cgd_topk": (_cgd_topk, ["TakeOrderedAndProject"], ["lambdafunction", "BatchEvalPython"]),
    # n_docs is size(collect_set): one hash aggregation, no distinct count
    "chem_disease": (_chem_disease, [], ["lambdafunction", "BatchEvalPython", "count(distinct"]),
    "mesh_name_lookup": (_mesh_names, [], ["lambdafunction", "BatchEvalPython"]),
    "glof_rollup_lookup": (_glof_lookup, [], ["lambdafunction", "BatchEvalPython"]),
    # one hash aggregation: the map-side partial count combines a hot pair
    # before the exchange, with no salt column hashed per row
    "pair_stats": (_pair_stats, ["partial_count"], ["xxhash64"]),
    # the graph tail orients each typed triple in one projection over two
    # broadcast type lookups: no forward/reverse union
    "chem_disease_build": (
        lambda spark: materialize.build_chem_disease(*_typed_triples(spark)),
        ["BroadcastHashJoin"],
        ["Union", "lambdafunction"],
    ),
    "cgd_paths_build": (
        lambda spark: materialize.build_cgd_paths(*_typed_triples(spark)),
        ["BroadcastHashJoin"],
        ["Union", "lambdafunction"],
    ),
    # candidate ids and per-sentence candidates sort with sort_array and
    # read struct fields: no interpreted array lambda in the mentions stage
    "mentions_build": (_mentions, [], ["lambdafunction"]),
}


def _formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("name", list(SHAPES))
def test_plan_shape(name, spark):
    build, need, forbid = SHAPES[name]
    plan = _formatted_plan(spark, build(spark))
    missing = [s for s in need if s not in plan]
    present = [s for s in forbid if s in plan]
    assert not missing and not present, f"{name}: missing={missing} forbidden={present}\n{plan}"
