"""M3 canonical map (shared lowercased names → one entity) + triple rewrite."""

from __future__ import annotations

import random

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import canonicalize as C
from tests.oracle import canonical_map_py

DICT = "type string, id string, name string, freq long"


def _dict(spark, rows, n_partitions=None):
    """(id, name) rows → an entity dictionary frame."""
    ed = spark.createDataFrame([("Gene", i, n, 1) for i, n in rows], DICT)
    return ed if n_partitions is None else ed.repartition(n_partitions)


def _canon(ed) -> dict:
    return {r["id"]: r["canonical_id"] for r in C.canonical_map(ed).collect()}


def test_connected_components_known_graph(spark):
    """Components a-b-c (two names), d-e (case variant), f (a name it holds
    twice), g (alone): each maps to its smallest id."""
    rows = [("b", "n1"), ("a", "n1"), ("b", "n2"), ("c", "n2"), ("d", "n3"),
            ("e", "N3"), ("f", "n4"), ("f", "n4"), ("g", "n5")]
    assert _canon(_dict(spark, rows)) == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"
    }


def test_alias_edges_merge_shared_names(spark):
    ed = spark.createDataFrame(
        [
            ("Gene", "G1", "braf", 10),
            ("Gene", "G2", "BRAF", 5),   # same lowercase surface → same entity
            ("Gene", "G3", "kras", 5),
        ],
        DICT,
    )
    canon = _canon(ed)
    assert canon["G1"] == canon["G2"] == "G1"
    assert canon["G3"] == "G3"


def test_rewrite_triples(spark):
    canon = spark.createDataFrame([("B", "A"), ("A", "A")], "id string, canonical_id string")
    triples = spark.createDataFrame(
        [("B", "p", "C", "x", 1.0, "d1", 0, "h")],
        "subj string, pred string, obj string, annotator string, score double, "
        "doc_id string, sent_idx int, content_sha256 string",
    )
    out = C.rewrite_triples(triples, canon).collect()[0]
    assert out["subj"] == "A"
    assert out["obj"] == "C"  # unknown id passes through


def test_long_chain_collapses_to_its_smallest_id(spark):
    """A 1024-id alias chain (id i shares one name with id i+1), listed in
    shuffled order, is one component rooted at its smallest id."""
    ids = [f"n{i:05d}" for i in range(1024)]
    rows = [(x, f"link{k}") for k, pair in enumerate(zip(ids, ids[1:])) for x in pair]
    random.Random(5).shuffle(rows)
    assert _canon(_dict(spark, rows)) == {x: ids[0] for x in ids}


def test_components_partition_invariant(spark):
    """The map does not depend on input partitioning or row order
    (determinism that checkpoint-resume relies on)."""
    links = [(f"a{i}", f"a{i+1}") for i in range(50)] + [("z1", "z2"), ("z2", "z3")]
    rows = [(x, f"{s}|{d}") for s, d in links for x in (s, d)]
    r1 = sorted(map(tuple, C.canonical_map(_dict(spark, rows, 1)).collect()))
    r32 = sorted(map(tuple, C.canonical_map(_dict(spark, rows[::-1], 32)).collect()))
    assert r1 == r32
    assert dict(r1)["a50"] == "a0" and dict(r1)["z3"] == "z1"


def test_canonical_map_matches_the_oracle(spark):
    """Seeded random dictionaries against the pure-Python union-find:
    names shared across types, case variants, NULL names, duplicate rows
    and a NULL id (which maps to NULL)."""
    types = ["Gene", "Disease", "Chemical", "Variant"]
    for seed in range(4):
        rng = random.Random(seed)
        ids = [f"{rng.choice('aBcD')}{k:03d}" for k in range(60)]
        names = [f"{w}{k}" for k in range(25) for w in ("braf", "kras")]
        rows = []
        for i in ids:
            for _ in range(rng.randint(1, 3)):
                name = rng.choice(names + [None])
                if name is not None and rng.random() < 0.5:
                    name = name.upper()
                rows.append((rng.choice(types), i, name, rng.randint(1, 9)))
        rows += rng.sample(rows, 10) + [("Gene", None, "braf1", 1), ("Gene", None, None, 1)]
        rng.shuffle(rows)
        got = _canon(spark.createDataFrame(rows, DICT))
        expect = canonical_map_py({"id": [r[1] for r in rows], "name": [r[2] for r in rows]})
        assert got.pop(None) is None
        assert got == expect, seed
        assert any(k != v for k, v in expect.items()), "fixture must hold aliases"


def test_canonical_map_job_budget(spark):
    """Building and collecting the fixture map is one grouping statement,
    collected, and one broadcast join: at most 5 Spark jobs."""
    ed = fixtures.entity_dict_df(spark).cache()
    try:
        ed.count()
        sc = spark.sparkContext
        sc.setJobGroup("canonical-map-budget", "canonical map")
        try:
            rows = C.canonical_map(ed).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        assert len(sc.statusTracker().getJobIdsForGroup("canonical-map-budget")) <= 5
    finally:
        ed.unpersist()
