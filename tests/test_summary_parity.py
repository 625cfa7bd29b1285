"""Summary NLG parity vs a Python replica of the reference pipeline.

The replica below ports the reference's Summary selection + template fill
(/root/reference/summary_utils.py:513-948) shape-for-shape over
reference-style paper objects: select_odds_ratio (argmax normalized OR,
unparsable→0), select_cre (argmax of (fresh-pmid, weighted confidence)),
select_ore (spaCy top-2 predicates by (support, original order), OpenIE
fill-down, per-predicate first-fresh-pmid representative),
get_template_type_and_term for all four passage types, and passage
concatenation with span rebasing. The reference chooses templates with
bare random.choice (summary_utils.py:919); both sides here use the same
seeded chooser (the engine's documented determinism substitute), so the
assertion is sentence-equality of everything else: selection, template
pools, fill, spans.

The fixed page is constructed TWICE from one fixture spec — once as
reference-shaped papers (in page order), once as the engine's flat
hydrated rows (sorted by (doc_id, ann_id), the engine's documented
stand-in for page order) — and the rendered summaries must be identical.
"""

from __future__ import annotations

import heapq
import random
from collections import defaultdict

from pubmedkb_web_spark.query import summary as S

CRE_WEIGHT = {"Cause-associated": 3, "In-patient": 2, "Appositive": 1}


def seeded_choice(pool, ptype, template_type, rel_key, seed=42):
    rng = random.Random(f"{seed}:{ptype}:{template_type}:{rel_key}")
    return rng.choice(pool)


class Paper:
    def __init__(self, pmid, sentences, annotator_to_relation):
        self.pmid = pmid
        # sentence_index → {"sentence": str, "mention": [ {"name":..}, ..]}
        self.sentence_index_to_sentence_mention = sentences
        self.annotator_to_relation = annotator_to_relation


class RefSummaryReplica:
    """Port of summary_utils.Summary (586-948) minus HTML."""

    def __init__(self, paper_list, e1_term, e2_term, pmid_spec):
        self.paper_list = paper_list
        self.e1_spec = e1_term
        self.e2_spec = e2_term
        self.pmid_spec = pmid_spec or ""
        self.selected_pmid_set = set()
        self.annotator_to_selected_paper_relation = {
            a: [] for a in ["odds_ratio", "cre", "ore"]
        }

    # --- selection (619-750) ---
    def select_odds_ratio_relation(self):
        prl = [
            (paper, rel)
            for paper in self.paper_list
            for rel in paper.annotator_to_relation.get("odds_ratio", [])
        ]
        if not prl:
            return
        keys = []
        for _paper, rel in prl:
            try:
                v = float(rel["annotation"]["OR"])
            except ValueError:
                keys.append(0)
                continue
            if v < 1:
                v = 1 / v
            keys.append(v)
        top = max(range(len(prl)), key=lambda i: keys[i])
        self.selected_pmid_set.add(prl[top][0].pmid)
        self.annotator_to_selected_paper_relation["odds_ratio"].append(prl[top])

    def select_cre_relation(self):
        prl = [
            (paper, rel)
            for paper in self.paper_list
            for rel in paper.annotator_to_relation.get("rbert_cre", [])
        ]
        if not prl:
            return
        keys = []
        for paper, rel in prl:
            label = rel["annotation"]["relation"]
            score = float(rel["annotation"]["score"][:-1]) * CRE_WEIGHT[label]
            keys.append((paper.pmid not in self.selected_pmid_set, score))
        top = max(range(len(prl)), key=lambda i: keys[i])
        self.selected_pmid_set.add(prl[top][0].pmid)
        self.annotator_to_selected_paper_relation["cre"].append(prl[top])

    def _ore_top(self, annotator, top_k, exclude):
        if top_k <= 0:
            return {}
        exclude = exclude or set()
        pred_to_prl = defaultdict(list)
        for paper in self.paper_list:
            for rel in paper.annotator_to_relation.get(annotator, []):
                p = rel["annotation"]["predicate"]
                if p not in exclude:
                    pred_to_prl[p].append((paper, rel))
        if len(pred_to_prl) > top_k:
            preds = list(pred_to_prl)
            if top_k == 1:
                keys = [len(pred_to_prl[p]) for p in preds]
                idxs = [max(range(len(preds)), key=lambda i: keys[i])]
            else:
                keys = [(len(pred_to_prl[p]), -pi) for pi, p in enumerate(preds)]
                idxs = heapq.nlargest(
                    top_k, range(len(preds)), key=lambda i: keys[i]
                )
            pred_to_prl = {preds[i]: pred_to_prl[preds[i]] for i in idxs}
        out = {}
        for pred, prl in pred_to_prl.items():
            for pr in prl:
                if pr[0].pmid not in self.selected_pmid_set:
                    self.selected_pmid_set.add(pr[0].pmid)
                    out[pred] = pr
                    break
            else:
                out[pred] = prl[0]
        return out

    def select_ore_relation(self):
        top_k = 2
        spacy = self._ore_top("spacy_ore", top_k, None)
        top_k -= len(spacy)
        openie = self._ore_top("openie_ore", top_k, set(spacy))
        for d in (spacy, openie):
            for _p, pr in d.items():
                self.annotator_to_selected_paper_relation["ore"].append(pr)

    # --- template typing + terms (752-915) ---
    def get_template_type_and_term(self, ptype):
        if ptype == "query":
            t = {}
            if self.pmid_spec:
                t["pmid"] = self.pmid_spec
                if self.e1_spec and self.e2_spec:
                    return "query_ABP", {**t, "entity1": self.e1_spec, "entity2": self.e2_spec}
                if self.e1_spec or self.e2_spec:
                    return "query_AP", {**t, "entity": self.e1_spec or self.e2_spec}
                return "query_P", t
            if self.e1_spec and self.e2_spec:
                return "query_AB", {"entity1": self.e1_spec, "entity2": self.e2_spec}
            if self.e1_spec or self.e2_spec:
                return "query_A", {"entity": self.e1_spec or self.e2_spec}
            return "X", {}
        if ptype == "odds_ratio":
            prl = self.annotator_to_selected_paper_relation["odds_ratio"]
            if not prl:
                return "X", {}
            paper, rel = prl[0]
            if self.pmid_spec:
                tt, t = "odds_ratio_X", {}
            else:
                tt, t = "odds_ratio_P", {"pmid": paper.pmid}
            sd = paper.sentence_index_to_sentence_mention[rel["sentence_index"]]
            ml = sd["mention"]
            t["variant"] = ml[rel["head_mention"][0]]["name"]
            t["disease"] = ml[rel["tail_mention"][0]]["name"]
            ann = rel["annotation"]
            t["OR"], t["CI"], t["p-value"] = ann["OR"], ann["CI"], ann["p-value"]
            return tt, t
        if ptype == "cre":
            prl = self.annotator_to_selected_paper_relation["cre"]
            if not prl:
                return "X", {}
            paper, rel = prl[0]
            if self.pmid_spec:
                tt, t = "X", {}
            else:
                tt, t = "P", {"pmid": paper.pmid}
            sd = paper.sentence_index_to_sentence_mention[rel["sentence_index"]]
            t["sentence"] = sd["sentence"]
            ml = sd["mention"]
            t["variant"] = ml[rel["head_mention"][0]]["name"]
            t["disease"] = ml[rel["tail_mention"][0]]["name"]
            t["score"] = rel["annotation"]["score"]
            label = rel["annotation"]["relation"]
            tt = {
                "Cause-associated": f"cre_cause_{tt}",
                "In-patient": f"cre_patient_{tt}",
                "Appositive": f"cre_appositive_{tt}",
            }[label]
            return tt, t
        if ptype == "ore":
            prl = self.annotator_to_selected_paper_relation["ore"][:2]
            if not prl:
                return "X", {}
            if len(prl) == 2:
                if self.pmid_spec:
                    tt, t = "ore_2_X", {}
                else:
                    tt, t = "ore_2_P", {
                        "pmid1": prl[0][0].pmid, "pmid2": prl[1][0].pmid,
                    }
                for ri, (_paper, rel) in enumerate(prl):
                    a = rel["annotation"]
                    t[f"triplet{ri+1}"] = f"{a['subject']} {a['predicate']} {a['object']}"
                return tt, t
            if self.pmid_spec:
                tt, t = "ore_1_X", {}
            else:
                tt, t = "ore_1_P", {"pmid": prl[0][0].pmid}
            a = prl[0][1]["annotation"]
            t["triplet"] = f"{a['subject']} {a['predicate']} {a['object']}"
            return tt, t
        raise AssertionError(ptype)

    def _rel_key(self, ptype):
        # mirror of the engine's per-passage RNG key (doc_id:ann_id chain)
        sel = {
            "odds_ratio": self.annotator_to_selected_paper_relation["odds_ratio"],
            "cre": self.annotator_to_selected_paper_relation["cre"],
            "ore": self.annotator_to_selected_paper_relation["ore"][:2],
        }.get(ptype, [])
        return ":".join(f"{p.pmid}:{r['ann_id']}" for p, r in sel)

    def render(self):
        text = ""
        term_to_span = defaultdict(list)
        for ptype in ("query", "odds_ratio", "cre", "ore"):
            tt, terms = self.get_template_type_and_term(ptype)
            template = seeded_choice(S.TEMPLATE_POOLS[tt], ptype, tt, self._rel_key(ptype))
            seq, texts = template
            passage = texts[0]
            spans = defaultdict(list)
            for i, txt in enumerate(texts[1:]):
                term = str(terms.get(seq[i], "") or "")
                spans[seq[i]].append((len(passage), len(passage) + len(term)))
                passage = passage + term + txt
            if not passage:
                continue
            if text:
                text += " "
            for term_type, sl in spans.items():
                for a, b in sl:
                    term_to_span[f"{ptype}_{term_type}"].append(
                        (len(text) + a, len(text) + b)
                    )
            text += passage
        return {"text": text, "term_to_span": dict(term_to_span)}


# ---------------------------------------------------------------------------
# fixed page: one fixture spec, rendered through both pipelines
# ---------------------------------------------------------------------------

def _fixture():
    """Four papers exercising every selection rule: p2 wins odds_ratio via
    1/OR normalization; p1 wins CRE via the fresh-pmid boolean DESPITE p2's
    relation being on an already-selected paper; spaCy's two predicates
    exhaust the ORE quota so OpenIE contributes nothing; the 'causes'
    representative prefers p1 (fresh) over p2 (used)."""
    sent = lambda s, names: {"sentence": s, "mention": [{"name": n} for n in names]}

    def ref_rel(ann_id, si, hi, ti, **annotation):
        return {
            "ann_id": ann_id,
            "sentence_index": si,
            "head_mention": [hi],
            "tail_mention": [ti],
            "annotation": annotation,
        }

    papers = [
        Paper(
            "p1",
            {0: sent("braf causes melanoma in p.v600e carriers", ["braf", "melanoma", "p.v600e"])},
            {
                "odds_ratio": [
                    ref_rel("a1", 0, 0, 1, OR="2.5", CI="1.2, 3.3", **{"p-value": "0.01"})
                ],
                "rbert_cre": [
                    ref_rel("a2", 0, 2, 1, relation="In-patient", score="97.0%")
                ],
                "spacy_ore": [
                    ref_rel("a3", 0, 0, 1, subject="braf", predicate="causes", object="melanoma")
                ],
            },
        ),
        Paper(
            "p2",
            {0: sent("gene2 relates to disease2", ["gene2", "disease2"])},
            {
                "odds_ratio": [
                    ref_rel("a1", 0, 0, 1, OR="0.2", CI="0.1, 0.4", **{"p-value": "0.001"})
                ],
                "rbert_cre": [
                    ref_rel("a2", 0, 0, 1, relation="Cause-associated", score="60.0%")
                ],
                "spacy_ore": [
                    ref_rel("a3", 0, 0, 1, subject="gene2", predicate="causes", object="disease2")
                ],
            },
        ),
        Paper(
            "p3",
            {0: sent("gene3 inhibits disease3", ["gene3", "disease3"])},
            {
                "spacy_ore": [
                    ref_rel("a1", 0, 0, 1, subject="gene3", predicate="inhibits", object="disease3")
                ],
            },
        ),
        Paper(
            "p4",
            {0: sent("gene4 binds disease4", ["gene4", "disease4"])},
            {
                "openie_ore": [
                    ref_rel("a1", 0, 0, 1, subject="gene4", predicate="binds", object="disease4")
                ],
            },
        ),
    ]

    rows = []
    for paper in papers:
        for annot, rels in paper.annotator_to_relation.items():
            for rel in rels:
                sd = paper.sentence_index_to_sentence_mention[rel["sentence_index"]]
                ml = sd["mention"]
                a = rel["annotation"]
                rows.append(
                    {
                        "annotator": annot,
                        "doc_id": paper.pmid,
                        "ann_id": rel["ann_id"],
                        "sentence": sd["sentence"],
                        "h_name": ml[rel["head_mention"][0]]["name"],
                        "t_name": ml[rel["tail_mention"][0]]["name"],
                        "or_value": a.get("OR"),
                        "ci": a.get("CI"),
                        "p_value": a.get("p-value"),
                        "relation": a.get("relation"),
                        "confidence": a.get("score"),
                        "subject": a.get("subject"),
                        "predicate": a.get("predicate"),
                        "object": a.get("object"),
                    }
                )
    rows.sort(key=lambda r: (r["doc_id"], r["ann_id"]))
    return papers, rows


def test_summary_sentence_parity_no_pmid_spec():
    papers, rows = _fixture()
    replica = RefSummaryReplica(papers, e1_term="braf", e2_term="", pmid_spec="")
    replica.select_odds_ratio_relation()
    replica.select_cre_relation()
    replica.select_ore_relation()
    expected = replica.render()

    got = S.summarize_page(rows, e1_spec=("type_name", ("Gene", "braf")))
    assert got["text"] == expected["text"]
    assert got["term_to_span"] == expected["term_to_span"]

    # the selections the text was built from, for clarity of intent
    sel = {(s["annotator"], s["doc_id"]) for s in got["selected"]}
    assert sel == {
        ("odds_ratio", "p2"),   # 1/0.2 = 5 > 2.5
        ("rbert_cre", "p1"),    # fresh pmid beats p2's used one
        ("spacy_ore", "p1"),    # 'causes' rep prefers fresh p1
        ("spacy_ore", "p3"),    # 'inhibits' — spaCy exhausts the quota
    }


def test_summary_sentence_parity_with_pmid_spec():
    papers, rows = _fixture()
    replica = RefSummaryReplica(papers, e1_term="braf", e2_term="melanoma", pmid_spec="p1")
    replica.select_odds_ratio_relation()
    replica.select_cre_relation()
    replica.select_ore_relation()
    expected = replica.render()

    got = S.summarize_page(
        rows,
        e1_spec=("type_name", ("Gene", "braf")),
        e2_spec=("type_name", ("Disease", "melanoma")),
        pmid="p1",
    )
    assert got["text"] == expected["text"]
    assert got["term_to_span"] == expected["term_to_span"]


def test_every_template_pool_fills_cleanly():
    """Structural invariant over the VERBATIM pools: seq/text lengths agree
    and fill_template spans index exactly the inserted terms."""
    for tt, pool in S.TEMPLATE_POOLS.items():
        for template in pool:
            seq, texts = template
            assert len(texts) == len(seq) + 1, tt
            terms = {k: f"<{k}>" for k in seq}
            text, spans = S.fill_template(template, terms)
            for k, sl in spans.items():
                for a, b in sl:
                    assert text[a:b] == f"<{k}>"


def _ore_row(annot, pred, doc, ann):
    return {
        "annotator": annot, "predicate": pred, "doc_id": doc, "ann_id": ann,
        "subject": "s", "object": "o",
    }


def test_ore_keeps_encounter_order_under_quota():
    """Round-4 ADVICE medium: the reference reorders predicates by support
    ONLY when the candidate count exceeds top_k (summary_utils.py:698-717);
    with ≤2 spaCy predicates it keeps first-encounter (dict-insertion)
    order. Fixture: the LOWER-support predicate appears first — it must
    stay first in the rendered ore_2 passage."""
    rows = [
        _ore_row("spacy_ore", "binds", "p1", "a1"),      # support 1, first
        _ore_row("spacy_ore", "inhibits", "p1", "a2"),   # support 3, later
        _ore_row("spacy_ore", "inhibits", "p2", "a1"),
        _ore_row("spacy_ore", "inhibits", "p3", "a1"),
    ]
    out = S.summarize_page(rows, e1_spec=("type_name", ("Gene", "braf")))
    ore = next(p for p in out["passages"] if p["passage_type"] == "ore")
    got = [(r["doc_id"], r["ann_id"]) for r in ore["relations"]]
    # binds first (its only row), then inhibits preferring a fresh pmid
    assert got == [("p1", "a1"), ("p2", "a1")]


def test_ore_sorts_by_support_only_when_trimming():
    """Three candidates against quota 2 → reference trims by (support
    desc, encounter asc); the lowest-support first-encountered predicate
    is dropped."""
    rows = [
        _ore_row("spacy_ore", "binds", "p1", "a1"),      # support 1
        _ore_row("spacy_ore", "inhibits", "p1", "a2"),   # support 3
        _ore_row("spacy_ore", "inhibits", "p2", "a1"),
        _ore_row("spacy_ore", "inhibits", "p3", "a1"),
        _ore_row("spacy_ore", "activates", "p4", "a1"),  # support 2
        _ore_row("spacy_ore", "activates", "p5", "a1"),
    ]
    out = S.summarize_page(rows, e1_spec=("type_name", ("Gene", "braf")))
    ore = next(p for p in out["passages"] if p["passage_type"] == "ore")
    got = [(r["doc_id"], r["ann_id"]) for r in ore["relations"]]
    # inhibits (support 3, fresh p1) then activates (support 2, fresh p4)
    assert got == [("p1", "a2"), ("p4", "a1")]


def test_ore_all_pmids_used_falls_back_to_first_row():
    """summary_utils.py:730-732: when every evidence pmid is already in
    the selected set, the predicate still gets its FIRST row."""
    rows = [
        # an odds_ratio row selects p1 first
        {
            "annotator": "odds_ratio", "doc_id": "p1", "ann_id": "z1",
            "or_value": "2.0", "ci": "1-3", "p_value": "0.01",
            "head_name": "v", "tail_name": "d", "sentence": "s",
        },
        _ore_row("spacy_ore", "binds", "p1", "a7"),
        _ore_row("spacy_ore", "binds", "p1", "a9"),
    ]
    out = S.summarize_page(rows, e1_spec=("type_name", ("Gene", "braf")))
    ore = next(p for p in out["passages"] if p["passage_type"] == "ore")
    got = [(r["doc_id"], r["ann_id"]) for r in ore["relations"]]
    assert got == [("p1", "a7")]
