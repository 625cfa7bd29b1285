"""Entity-spec compiler vs brute-force evaluator + algebra properties
(SURVEY.md §5 item 1)."""

from __future__ import annotations

import random

import pytest

from pubmedkb_web_spark.query import rel
from pubmedkb_web_spark.query import spec as spec_mod

import tests.oracle as oracle


KEYS = [f"K{i}" for i in range(8)]


def _random_postings(rng: random.Random, n: int = 300, keys=KEYS) -> list[dict]:
    types = ["Gene", "Disease", "SNP", "ProteinMutation", "Mutation"]
    return [
        {
            "idx_kind": rng.choice(["type_id", "type_name"]),
            "type": rng.choice(types),
            "key": rng.choice(keys),
            "role": rng.choice(["head", "tail"]),
            "doc_id": f"d{rng.randrange(12)}",
            "ann_id": rng.randrange(20),
        }
        for _ in range(n)
    ]


def _random_spec(rng: random.Random, depth: int = 0, keys=KEYS):
    if depth >= 2 or rng.random() < 0.45:
        kind = rng.choice(["type_id", "type_name"])
        etype = rng.choice(["Gene", "Disease", "SNP", "VARIANT"])
        return (kind, (etype, rng.choice(keys)))
    op = rng.choice(["AND", "OR"])
    return (op, tuple(_random_spec(rng, depth + 1, keys) for _ in range(rng.randint(2, 3))))


def _spark_postings(spark, rows):
    return spark.createDataFrame(
        [(r["idx_kind"], r["type"], r["key"], r["role"], r["doc_id"], r["ann_id"], 1.0) for r in rows],
        "idx_kind string, type string, key string, role string, doc_id string, ann_id long, score double",
    )


@pytest.mark.parametrize("trial", range(6))
def test_compiler_matches_bruteforce(spark, trial):
    rng = random.Random(1000 + trial)
    rows = _random_postings(rng)
    postings = _spark_postings(spark, rows)
    tree = _random_spec(rng)
    got = {
        (r["role"], r["doc_id"], r["ann_id"])
        for r in spec_mod.SpecCompiler(postings).compile(tree).collect()
    }
    assert got == oracle.eval_spec(rows, tree)


@pytest.mark.parametrize("trial", range(4))
def test_pair_matches_bruteforce(spark, trial):
    rng = random.Random(2000 + trial)
    rows = _random_postings(rng)
    postings = _spark_postings(spark, rows)
    e1, e2 = _random_spec(rng), _random_spec(rng)
    got = {
        (r["doc_id"], r["ann_id"])
        for r in spec_mod.evaluate_pair(postings, e1, e2).collect()
    }
    assert got == oracle.eval_pair(rows, e1, e2)


def test_and_idempotent_and_or_commutative(spark):
    rng = random.Random(7)
    rows = _random_postings(rng)
    postings = _spark_postings(spark, rows)
    leaf = ("type_id", ("Gene", "K1"))
    other = ("type_name", ("Disease", "K2"))

    def rs(tree):
        return {
            (r["role"], r["doc_id"], r["ann_id"])
            for r in spec_mod.SpecCompiler(postings).compile(tree).collect()
        }

    assert rs(("AND", (leaf, leaf))) == rs(leaf)  # AND(x,x) == x
    assert rs(("OR", (leaf, other))) == rs(("OR", (other, leaf)))
    assert rs(("AND", (leaf, other))) == rs(("AND", (other, leaf)))
    # umbrella: VARIANT == OR over concrete variant types
    umbrella = ("type_id", ("VARIANT", "K3"))
    expanded = ("OR", tuple(("type_id", (t, "K3")) for t in oracle.VARIANT_TYPES))
    assert rs(umbrella) == rs(expanded)


def test_pmid_pushdown(spark):
    rng = random.Random(11)
    rows = _random_postings(rng)
    postings = _spark_postings(spark, rows)
    tree = ("OR", (("type_id", ("Gene", "K1")), ("type_id", ("Disease", "K2"))))
    got = {
        (r["role"], r["doc_id"], r["ann_id"])
        for r in spec_mod.SpecCompiler(postings, pmid="d3").compile(tree).collect()
    }
    assert got == oracle.eval_spec(rows, tree, pmid="d3")
    assert all(doc == "d3" for _, doc, _ in got)


# keys that break out of a naively quoted SQL string literal or comment out
# the rest of the statement
HOSTILE_KEYS = ["o'brien", "a\\b", "x' OR '1'='1", "k -- c"]


@pytest.fixture
def sql_texts(spark, monkeypatch):
    """The raw text of every ``spark.sql`` statement, before PySpark's
    formatter binds its keyword arguments."""
    texts = []
    cls = type(spark)
    real = cls.sql

    def recording(self, sqlQuery, *args, **kwargs):
        texts.append(sqlQuery)
        return real(self, sqlQuery, *args, **kwargs)

    monkeypatch.setattr(cls, "sql", recording)
    return texts


@pytest.mark.parametrize("trial", range(3))
def test_hostile_keys_match_bruteforce(spark, sql_texts, trial):
    """Literals are bound, not interpolated: trees over keys with quotes,
    backslashes and comment markers equal the oracle, and no key, type or
    pmid appears in any statement's text."""
    rng = random.Random(3000 + trial)
    rows = _random_postings(rng, keys=HOSTILE_KEYS)
    postings = _spark_postings(spark, rows)
    tree = _random_spec(rng, keys=HOSTILE_KEYS)
    e1, e2 = _random_spec(rng, keys=HOSTILE_KEYS), _random_spec(rng, keys=HOSTILE_KEYS)
    got = {
        (r["role"], r["doc_id"], r["ann_id"])
        for r in spec_mod.SpecCompiler(postings).compile(tree).collect()
    }
    assert got == oracle.eval_spec(rows, tree)
    pair = {(r["doc_id"], r["ann_id"]) for r in spec_mod.evaluate_pair(postings, e1, e2).collect()}
    assert pair == oracle.eval_pair(rows, e1, e2)
    pmid = "d3' OR '1'='1"
    single = spec_mod.evaluate_single(postings, tree, pmid=pmid).collect()
    assert single == []
    assert sql_texts
    literals = HOSTILE_KEYS + ["Gene", "Disease", "SNP", *oracle.VARIANT_TYPES, pmid]
    assert not [(lit, t) for t in sql_texts for lit in literals if lit in t]


def test_run_rel_pmid_is_a_literal(small_kb, sql_texts):
    """A pmid that would widen a naively interpolated filter matches no
    paper."""
    pmid = "1' OR '1'='1"
    res = rel.run_rel(
        small_kb["entity_postings"],
        small_kb["annotations"],
        small_kb["sentences"],
        small_kb["meta"],
        e1_spec=("type_name", ("Gene", "braf")),
        pmid=pmid,
    )
    assert res.papers.count() == 0
    assert res.statistics["papers"] == 0
    assert not [t for t in sql_texts if pmid in t or "braf" in t]
