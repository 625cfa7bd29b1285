"""The graph tail of the KG build: ``chem_disease`` and ``cgd_paths`` from
the typed triples, against the pure-Python oracle."""

from __future__ import annotations

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import materialize as M
from tests.oracle import cgd_paths_py, chem_disease_py

TRIPLES = (
    "subj string, pred string, obj string, annotator string, score double, "
    "doc_id string, sent_idx int, content_sha256 string"
)

TYPES = [
    ("C1", "Chemical"), ("C2", "Chemical"), ("G1", "Gene"), ("G2", "Gene"),
    ("D1", "Disease"), ("D2", "Disease"), ("V1", "ProteinMutation"),
    # an id with two types
    ("X1", "Chemical"), ("X1", "Gene"),
]

# (subj, pred, obj, doc_id, sent_idx); U1 has no type
EDGES = [
    ("C1", "treats", "D1", "p1", 0),
    ("C1", "treats", "D1", "p1", 1),           # duplicate evidence
    ("D1", "treated_by", "C1", "p2", 0),       # reversed orientation
    ("C1", "inhibits", "G1", "p1", 0),
    ("C1", "inhibits", "G1", "p1", 1),
    ("G1", "activates", "C1", "p3", 0),        # reversed; ties inhibits 2:2
    ("C1", "activates", "G1", "p4", 0),
    ("C2", "inhibits", "G2", "p13", 0),
    ("G1", "causes", "D1", "p1", 0),
    ("D1", "associated", "G1", "p5", 0),
    ("G1", "causes", "D2", "p6", 0),
    ("G2", "causes", "D1", "p7", 0),
    ("X1", "binds", "G2", "p8", 0),            # X1 as Chemical
    ("X1", "causes", "D2", "p9", 0),           # X1 as Chemical and as Gene
    ("U1", "causes", "D1", "p10", 0),          # untyped subject
    ("C2", "binds", "U1", "p10", 1),           # untyped object
    ("V1", "causes", "D1", "p11", 0),          # type outside the tail
    ("G1", "interacts", "G2", "p12", 0),       # same type on both ends
]


def _frames(spark):
    triples = spark.createDataFrame(
        [(s, p, o, "a", 1.0, d, i, "h") for s, p, o, d, i in EDGES], TRIPLES
    )
    return triples, spark.createDataFrame(TYPES, "id string, type string")


def _oracle_input():
    return [(s, p, o, d) for s, p, o, d, _ in EDGES], TYPES


def _rows(df):
    return {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()}


def test_chem_disease_matches_the_oracle(spark):
    got = M.build_chem_disease(*_frames(spark))
    assert got.columns == ["c", "d", "level", "doc_id"]
    rows = got.collect()
    assert len(rows) == len(set(rows)), "no duplicate rows"
    expect = chem_disease_py(*_oracle_input())
    assert set(map(tuple, rows)) == expect
    assert {(c, d, doc) for c, d, level, doc in expect if level == "paper"} == {
        ("C1", "D1", "p1"), ("C1", "D1", "p2"), ("X1", "D2", "p9"),
    }


def test_cgd_paths_matches_the_oracle(spark):
    got = M.build_cgd_paths(*_frames(spark))
    assert got.columns == [
        "c", "d", "g", "cgd_score", "cg_relation", "gd_relation", "cg_pmids", "gd_pmids",
    ]
    rows = _rows(got)
    assert rows == cgd_paths_py(*_oracle_input())
    by_path = {(r[0], r[2], r[1]): r for r in rows}
    # four C1-G1 rows, two each of inhibits and activates, and one each of
    # causes and associated on G1-D1: each tie goes to the smaller pred
    assert by_path["C1", "G1", "D1"][3:] == (
        8.0, "activates", "associated", ("p1", "p3", "p4"), ("p1", "p5"),
    )
    # X1 is a chemical on the X1-G2 edge and a gene on the X1-D2 edge
    assert ("X1", "G2", "D1") in by_path and ("C1", "X1", "D2") not in by_path


def test_cgd_paths_rows_do_not_depend_on_partitioning(spark, small_kb):
    """Every column, the relations included, is the same whatever the
    partitioning of the triples."""
    types = fixtures.entity_dict_df(spark).select("id", "type").distinct()
    tri = small_kb["triples"]
    one = _rows(M.build_cgd_paths(tri.repartition(1), types))
    many = _rows(M.build_cgd_paths(tri.repartition(7, "sent_idx", "doc_id"), types))
    assert one and one == many


def test_graph_tail_job_budget(spark, small_kb, tmp_path):
    """Writing chem_disease runs at most 6 Spark jobs and cgd_paths at most
    12, over the fixture triples and a cached dictionary."""
    ed = fixtures.entity_dict_df(spark).cache()
    try:
        ed.count()
        types = ed.select("id", "type").distinct()
        sc = spark.sparkContext
        for build, budget in ((M.build_chem_disease, 6), (M.build_cgd_paths, 12)):
            group = f"graph-tail-budget-{build.__name__}"
            sc.setJobGroup(group, build.__name__)
            try:
                build(small_kb["triples"], types).write.parquet(str(tmp_path / build.__name__))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs <= budget, (build.__name__, jobs)
    finally:
        ed.unpersist()
