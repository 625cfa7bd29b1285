"""Relation selection + template NLG summary (SURVEY.md §3.1 stage 6).

Reference semantics (/root/reference/summary_utils.py:586-948):

- pick ≤1 odds-ratio relation: argmax of normalized OR = max(OR, 1/OR)
  (summary_utils.py:619-645 — OR<1 is as informative as 1/OR>1);
- pick ≤1 CRE relation: argmax of (pmid-not-yet-selected, confidence ×
  label weight {Cause-associated: 3, In-patient: 2, Appositive: 1}) —
  the boolean PRECEDES the score: a paper not already used by the
  odds-ratio pick wins over a higher-scoring reuse
  (summary_utils.py:20-24,647-669);
- pick ≤2 ORE relations: spaCy's top-2 predicates by support count first,
  OpenIE fills the remainder excluding predicates already selected
  (summary_utils.py:731-750 — top_k starts at 2 for spaCy and decreases);
  each predicate represented by its first evidence row, preferring pmids
  not already used (summary_utils.py:722-729);
- render the reference's four-passage summary (query / odds_ratio / cre /
  ore) from its VERBATIM template pools (summary_utils.py:25-510 — the
  rendered sentences are the output contract) with char-span tracking per
  term (summary_utils.py:513-529) and passage concatenation with offset
  rebasing (summary_utils.py:925-948). Template choice is randomized in
  the reference (summary_utils.py:919 random.choice); here the RNG is
  seeded by the selected relations' content so output is deterministic
  (SURVEY.md §7 risk #5) — the parity test drives its reference replica
  with the same seeded RNG.

``summarize_page`` selects and renders over a collected page — the
reference inspects ≤ one page of rows, so driver-side is the honest cost
model.

Paper order: the reference breaks ties by paper-list order (stable max /
dict insertion order). Our deterministic stand-in is (doc_id, ann_id)
ascending everywhere a "first" is taken; the parity test feeds its replica
a page sorted the same way, so the stand-in is observationally identical
on any page sorted by that key.
"""

from __future__ import annotations

import random

from ..schemas import CRE_LABEL_WEIGHT


# ---------------------------------------------------------------------------
# Template pools — ported VERBATIM from the reference
# (/root/reference/summary_utils.py:25-510). Each template is
# (term_type_sequence, text_list) with len(text_list) == len(seq) + 1; the
# passage interleaves text_list[0] + term1 + text_list[1] + ... The strings
# ARE the reference's user-visible output contract (same ruling as the
# VarSum En/Zh templates).
# ---------------------------------------------------------------------------

TEMPLATE_POOLS: dict[str, list[tuple[list[str], list[str]]]] = {
    "X": [
        ([], [""]),
    ],
    "query_ABP": [
        (
            ["entity1", "entity2", "pmid"],
            [
                "Based on our search results, relation exists between ",
                " and ",
                " in PMID: ",
                ".",
            ],
        ),
        (
            ["entity1", "entity2", "pmid"],
            [
                "Relations occur between ",
                " and ",
                " as shown from our search for PMID: ",
                ".",
            ],
        ),
        (
            ["entity1", "entity2", "pmid"],
            ["", " and ", " relate to each other in PMID: ", "."],
        ),
    ],
    "query_AP": [
        (
            ["pmid", "entity"],
            [
                "Based on our search results, in PMID: ",
                ", relation exists for ",
                ".",
            ],
        ),
        (
            ["pmid", "entity"],
            ["From PMID: ", ", relation exists for ", "."],
        ),
        (
            ["entity", "pmid"],
            ["We found relations for ", " in PMID: ", "."],
        ),
    ],
    "query_P": [
        (["pmid"], ["PMID: ", " shows the following relations."]),
        (["pmid"], ["In PMID: ", ", our search results find these relations."]),
        (["pmid"], ["For PMID: ", ", some relations are extracted."]),
    ],
    "query_AB": [
        (
            ["entity1", "entity2"],
            [
                "Based on our search results, relation exists between ",
                " and ",
                ".",
            ],
        ),
        (
            ["entity1", "entity2"],
            [
                "Relations occur between ",
                " and ",
                " as shown from our search. The exact sources are demonstrated by PMID.",
            ],
        ),
        (
            ["entity1", "entity2"],
            ["", " and ", " relate to each other in the following ways."],
        ),
    ],
    "query_A": [
        (
            ["entity"],
            ["Based on our search results, relation exists for ", "."],
        ),
        (["entity"], ["", " has the following relations."]),
        (
            ["entity"],
            ["These relations are present in our search results for ", "."],
        ),
    ],
    "odds_ratio_P": [
        (
            ["variant", "disease", "pmid", "OR", "CI", "p-value"],
            [
                "The odds ratio found between ",
                " and ",
                " in PMID: ",
                " is ",
                " (CI: ",
                ", p-value: ",
                ").",
            ],
        ),
        (
            ["variant", "disease", "OR", "CI", "p-value", "pmid"],
            [
                "",
                " and ",
                " have an ",
                " odds ratio (CI: ",
                ", p-value: ",
                ") in PMID: ",
                ".",
            ],
        ),
    ],
    "odds_ratio_X": [
        (
            ["variant", "disease", "OR", "CI", "p-value"],
            [
                "The odds ratio found between ",
                " and ",
                " is ",
                " (CI: ",
                ", p-value: ",
                ").",
            ],
        ),
        (
            ["variant", "disease", "OR", "CI", "p-value"],
            ["", " and ", " have an ", " odds ratio (CI: ", ", p-value: ", ")."],
        ),
    ],
    "cre_cause_P": [
        (
            ["variant", "disease", "score", "pmid", "sentence"],
            [
                "We believe that there is a causal relationship between ",
                " and ",
                " with a confidence of ",
                ". Here is an excerpt of the literature (PMID: ",
                ") that captures the relation: \"",
                "\".",
            ],
        ),
        (
            ["score", "variant", "disease", "pmid", "sentence"],
            [
                "With a confidence of ",
                ", we found that ",
                " is a causal variant of ",
                ". This piece of relation is evidenced by the sentence in PMID: ",
                ": \"",
                "\".",
            ],
        ),
        (
            ["pmid", "sentence", "variant", "disease", "score"],
            [
                "Based on the sentence (PMID: ",
                "): \"",
                "\". Our finding indicates that ",
                " is associated with ",
                " by a confidence of ",
                ".",
            ],
        ),
    ],
    "cre_cause_X": [
        (
            ["variant", "disease", "score", "sentence"],
            [
                "We believe that there is a causal relationship between ",
                " and ",
                " with a confidence of ",
                ". Here is an excerpt in the paper that captures the relation: \"",
                "\".",
            ],
        ),
        (
            ["score", "variant", "disease", "sentence"],
            [
                "With a confidence of ",
                ", we found that ",
                " is a causal variant of ",
                ". This piece of relation is evidenced by the sentence: \"",
                "\".",
            ],
        ),
        (
            ["sentence", "variant", "disease", "score"],
            [
                "Based on the sentence: \"",
                "\". Our finding indicates that ",
                " is associated with ",
                " by a confidence of ",
                ".",
            ],
        ),
    ],
    "cre_patient_P": [
        (
            ["variant", "disease", "score", "pmid", "sentence"],
            [
                "",
                " occurs in some ",
                " patients. Our finding shows that the confidence of this association is approximately ",
                ". Here is an excerpt of the literature (PMID: ",
                ") that captures the relation: \"",
                "\".",
            ],
        ),
        (
            ["score", "disease", "variant", "pmid", "sentence"],
            [
                "With a confidence of ",
                ", we found that ",
                " patients carry ",
                ". This is evidenced by the following sentence in PMID ",
                ". \"",
                "\"",
            ],
        ),
        (
            ["pmid", "sentence", "score", "disease", "variant"],
            [
                "As claimed by (PMID: ",
                ") \"",
                "\", we are ",
                " sure that ",
                " patients show to have ",
                ".",
            ],
        ),
    ],
    "cre_patient_X": [
        (
            ["variant", "disease", "score", "sentence"],
            [
                "",
                " occurs in some ",
                " patients. Our finding shows that the confidence of this association is approximately ",
                ". Here is an excerpt in the paper that captures the relation: \"",
                "\".",
            ],
        ),
        # reference quirk (summary_utils.py:324-333): the original sequence
        # lists a fifth term "pmid" that has NO slot in the text list — its
        # own get_passage_from_template assertion would crash if
        # random.choice ever drew this template. The _P→_X copy-paste
        # evidently forgot to drop "pmid" from the sequence; we port the
        # intended template (4 terms, 5 texts).
        (
            ["score", "disease", "variant", "sentence"],
            [
                "With a confidence of ",
                ", we found that ",
                " patients carry ",
                ". This is evidenced by the following sentence. \"",
                "\"",
            ],
        ),
        (
            ["sentence", "score", "disease", "variant"],
            [
                "As claimed by \"",
                "\", we are ",
                " sure that ",
                " patients show to have ",
                ".",
            ],
        ),
    ],
    "cre_appositive_P": [
        (
            ["variant", "disease", "score", "pmid", "sentence"],
            [
                "",
                "'s relation with ",
                " is presupposed. We are ",
                " confident about this association. Here is an excerpt of the literature (PMID: ",
                ") that captures this: \"",
                "\".",
            ],
        ),
        (
            ["score", "variant", "disease", "sentence", "pmid"],
            [
                "It is ",
                " presupposed that ",
                " is related to ",
                " as evidenced by \"",
                "\" (PMID: ",
                ").",
            ],
        ),
        (
            ["sentence", "pmid", "score", "variant", "disease"],
            [
                "According to the sentence: \"",
                "\" (PMID: ",
                "), We are ",
                " confident that the relation between ",
                " and ",
                " contains a presupposition.",
            ],
        ),
    ],
    "cre_appositive_X": [
        (
            ["variant", "disease", "score", "sentence"],
            [
                "",
                "'s relation with ",
                " is presupposed. We are ",
                " confident about this association. Here is an excerpt in the paper that captures this: \"",
                "\".",
            ],
        ),
        (
            ["score", "variant", "disease", "sentence"],
            [
                "It is ",
                " presupposed that ",
                " is related to ",
                " as evidenced by \"",
                "\".",
            ],
        ),
        (
            ["sentence", "score", "variant", "disease"],
            [
                "According to the sentence: \"",
                "\", We are ",
                " confident that the relation between ",
                " and ",
                " contains a presupposition.",
            ],
        ),
    ],
    "ore_2_P": [
        (
            ["triplet1", "pmid1", "triplet2", "pmid2"],
            [
                "Moreover, there are also open relations found between entities, which includes the following. \"",
                "\" (PMID: ",
                "). \"",
                "\" (PMID: ",
                ").",
            ],
        ),
        (
            ["triplet1", "pmid1", "triplet2", "pmid2"],
            [
                "Further relations are present, notably: \"",
                "\" (PMID ",
                ") and \"",
                "\" (PMID ",
                ").",
            ],
        ),
        (
            ["triplet1", "pmid1", "triplet2", "pmid2"],
            [
                "Between entities, prior literature also entails that \"",
                "\" (PMID: ",
                ") and \"",
                "\" (PMID: ",
                ").",
            ],
        ),
    ],
    "ore_2_X": [
        (
            ["triplet1", "triplet2"],
            [
                "Moreover, there are also open relations found between entities, which includes the following. \"",
                "\". \"",
                "\".",
            ],
        ),
        (
            ["triplet1", "triplet2"],
            ["Further relations are present, notably: \"", "\" and \"", "\"."],
        ),
        (
            ["triplet1", "triplet2"],
            [
                "Between entities, prior literature also entails that \"",
                "\" and \"",
                "\".",
            ],
        ),
    ],
    "ore_1_P": [
        (["triplet", "pmid"], ["We also found \"", "\" (PMID: ", ")."]),
        (["triplet", "pmid"], ["\"", "\" (PMID: ", ")."]),
        (["triplet", "pmid"], ["In addition, \"", "\" (PMID: ", ")."]),
    ],
    "ore_1_X": [
        (["triplet"], ["We also found \"", "\"."]),
        (["triplet"], ["\"", "\"."]),
        (["triplet"], ["In addition, \"", "\"."]),
    ],
}

# CRE relation label → template-type prefix (summary_utils.py:857-864)
CRE_LABEL_TO_PREFIX = {
    "Cause-associated": "cre_cause",
    "In-patient": "cre_patient",
    "Appositive": "cre_appositive",
}


def fill_template(
    template: tuple[list[str], list[str]], terms: dict[str, str]
) -> tuple[str, dict[str, list[tuple[int, int]]]]:
    """Interleave template text with term values, tracking char spans per
    term type (summary_utils.py:513-529 get_passage_from_template)."""
    seq, texts = template
    assert len(seq) == len(texts) - 1
    spans: dict[str, list[tuple[int, int]]] = {}
    passage = texts[0]
    for i, text in enumerate(texts[1:]):
        term = str(terms.get(seq[i], "") or "")
        spans.setdefault(seq[i], []).append((len(passage), len(passage) + len(term)))
        passage = passage + term + text
    return passage, spans


def get_id_name_from_entity_spec(entity_spec) -> tuple[str, str]:
    """(id, name) for a spec tree — first id and first name found, depth
    first (summary_utils.py:532-558)."""
    if not entity_spec:
        return "", ""
    op, arg = entity_spec
    if op in ("AND", "OR"):
        first_id, first_name = "", ""
        for sub in arg:
            _id, name = get_id_name_from_entity_spec(sub)
            if not first_id:
                first_id = _id
            if not first_name:
                first_name = name
            if first_id and first_name:
                break
        return first_id, first_name
    if op == "type_id":
        return arg[1], ""
    if op == "type_name":
        return "", arg[1]
    raise ValueError(op)


def get_term_for_entity_spec(entity_spec) -> str:
    """Display term for a spec: its name if any, else its id
    (summary_utils.py:580-584)."""
    _id, name = get_id_name_from_entity_spec(entity_spec)
    return name if name else _id


def _norm_or(s: str | None) -> float | None:
    try:
        v = float(s)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return None
    return max(v, 1.0 / v) if v > 0 else None


def _pct(s: str | None) -> float | None:
    if s and isinstance(s, str) and s.endswith("%"):
        try:
            return float(s[:-1])
        except ValueError:
            return None
    return None


def summarize_page(
    page_rows: list[dict],
    e1_spec=None,
    e2_spec=None,
    pmid=None,
) -> dict:
    """Driver-side replica of the reference's Summary pipeline
    (summary_utils.py:586-948) over a collected, hydrated page.

    Selection: ≤1 odds_ratio by normalized OR; ≤1 CRE by (fresh pmid, weighted
    confidence); ≤2 ORE by spaCy-top-2-then-OpenIE predicate fill-down.
    Rendering: the four reference passages (query / odds_ratio / cre /
    ore), each filled from the verbatim TEMPLATE_POOLS with span tracking,
    concatenated with offset rebasing into one text summary.

    Returns {"text", "term_to_span", "passages", "selected"} — "selected"
    is the flat [(annotator, doc_id, ann_id)] record of chosen relations.
    """
    e1_term = get_term_for_entity_spec(e1_spec) if e1_spec else ""
    e2_term = get_term_for_entity_spec(e2_spec) if e2_spec else ""
    pmid_term = str(pmid) if pmid else ""

    selected_pmids: set[str] = set()
    selected: list[dict] = []

    # --- odds_ratio: argmax normalized OR (summary_utils.py:619-645);
    # an unparsable OR gets key 0 (629-633), it is NOT excluded ---
    or_pick = None
    ors = [r for r in page_rows if r["annotator"] == "odds_ratio"]
    if ors:
        or_pick = min(
            ors,
            key=lambda r: (
                -(_norm_or(r.get("or_value")) or 0.0), r["doc_id"], r["ann_id"],
            ),
        )
        selected_pmids.add(or_pick["doc_id"])
        selected.append(or_pick)

    # --- cre: argmax (fresh pmid, weighted confidence) (655-662) ---
    cre_pick = None
    cres = [
        r for r in page_rows
        if r["annotator"] == "rbert_cre" and _pct(r.get("confidence")) is not None
    ]
    if cres:
        cre_pick = min(
            cres,
            key=lambda r: (
                r["doc_id"] in selected_pmids,  # False (fresh) sorts first
                -_pct(r["confidence"]) * CRE_LABEL_WEIGHT.get(r.get("relation"), 0),
                r["doc_id"],
                r["ann_id"],
            ),
        )
        selected_pmids.add(cre_pick["doc_id"])
        selected.append(cre_pick)

    # --- ore: spaCy top-2 predicates, OpenIE fills remainder (731-750) ---
    ore_picks: list[dict] = []
    seen_preds: set[str] = set()
    quota = 2
    for annot in ("spacy_ore", "openie_ore"):
        if quota <= 0:
            break
        # encounter order = (doc_id, ann_id) asc, the engine's documented
        # page-order stand-in; the reference iterates papers in page order
        rows = sorted(
            (r for r in page_rows if r["annotator"] == annot and r.get("predicate")),
            key=lambda r: (r["doc_id"], r["ann_id"]),
        )
        pred_rows: dict[str, list] = {}
        for r in rows:
            if r["predicate"] not in seen_preds:
                pred_rows.setdefault(r["predicate"], []).append(r)
        # the reference reorders by support ONLY when it must trim
        # (summary_utils.py:698-717); under the quota, first-encounter
        # (dict-insertion) order is kept — round-4 ADVICE parity fix
        if len(pred_rows) > quota:
            first_idx = {p: i for i, p in enumerate(pred_rows)}
            cands = sorted(pred_rows, key=lambda p: (-len(pred_rows[p]), first_idx[p]))[
                :quota
            ]
        else:
            cands = list(pred_rows)
        for pred in cands:
            seen_preds.add(pred)
            # first evidence row with a not-yet-selected pmid; ALL pmids
            # already used falls back to the first row (722-732)
            for r in pred_rows[pred]:
                if r["doc_id"] not in selected_pmids:
                    selected_pmids.add(r["doc_id"])
                    best = r
                    break
            else:
                best = pred_rows[pred][0]
            ore_picks.append(best)
        quota -= len(cands)

    selected.extend(ore_picks)

    # --- passages (get_template_type_and_term, summary_utils.py:752-915) ---
    def passage_terms(ptype: str) -> tuple[str, dict[str, str], list[dict]]:
        if ptype == "query":
            if pmid_term:
                if e1_term and e2_term:
                    return "query_ABP", {
                        "entity1": e1_term, "entity2": e2_term, "pmid": pmid_term,
                    }, []
                if e1_term or e2_term:
                    return "query_AP", {
                        "pmid": pmid_term, "entity": e1_term or e2_term,
                    }, []
                return "query_P", {"pmid": pmid_term}, []
            if e1_term and e2_term:
                return "query_AB", {"entity1": e1_term, "entity2": e2_term}, []
            if e1_term or e2_term:
                return "query_A", {"entity": e1_term or e2_term}, []
            return "X", {}, []
        if ptype == "odds_ratio":
            if or_pick is None:
                return "X", {}, []
            # the reference omits the pmid term when a pmid spec is set
            # (summary_utils.py:793-798) — mirror its term dict exactly so
            # a template that (quirkily) still references pmid renders the
            # same "" on both sides
            tt = "odds_ratio_X" if pmid_term else "odds_ratio_P"
            terms = {} if pmid_term else {"pmid": or_pick["doc_id"]}
            terms.update(
                {
                    "variant": or_pick.get("h_name") or "",
                    "disease": or_pick.get("t_name") or "",
                    "OR": or_pick.get("or_value") or "",
                    "CI": or_pick.get("ci") or "",
                    "p-value": or_pick.get("p_value") or "",
                }
            )
            return tt, terms, [or_pick]
        if ptype == "cre":
            if cre_pick is None:
                return "X", {}, []
            prefix = CRE_LABEL_TO_PREFIX.get(cre_pick.get("relation"))
            if prefix is None:
                return "X", {}, []
            tt = f"{prefix}_X" if pmid_term else f"{prefix}_P"
            terms = {} if pmid_term else {"pmid": cre_pick["doc_id"]}
            terms.update(
                {
                    "sentence": cre_pick.get("sentence") or "",
                    "variant": cre_pick.get("h_name") or "",
                    "disease": cre_pick.get("t_name") or "",
                    "score": cre_pick.get("confidence") or "",
                }
            )
            return tt, terms, [cre_pick]
        if ptype == "ore":
            if not ore_picks:
                return "X", {}, []
            picks = ore_picks[:2]
            if len(picks) == 2:
                tt = "ore_2_X" if pmid_term else "ore_2_P"
                terms = {}
                for i, r in enumerate(picks, start=1):
                    terms[f"triplet{i}"] = (
                        f"{r.get('subject')} {r.get('predicate')} {r.get('object')}"
                    )
                    if not pmid_term:
                        terms[f"pmid{i}"] = r["doc_id"]
                return tt, terms, picks
            r = picks[0]
            tt = "ore_1_X" if pmid_term else "ore_1_P"
            terms = {
                "triplet": f"{r.get('subject')} {r.get('predicate')} {r.get('object')}"
            }
            if not pmid_term:
                terms["pmid"] = r["doc_id"]
            return tt, terms, picks
        raise ValueError(ptype)

    passages = []
    for ptype in ("query", "odds_ratio", "cre", "ore"):
        tt, terms, rel_rows = passage_terms(ptype)
        pool = TEMPLATE_POOLS[tt]
        # seeded template choice: the reference's random.choice
        # (summary_utils.py:919) made deterministic per passage content
        rel_key = ":".join(f"{r['doc_id']}:{r['ann_id']}" for r in rel_rows)
        rng = random.Random(f"42:{ptype}:{tt}:{rel_key}")
        text, spans = fill_template(rng.choice(pool), terms)
        passages.append(
            {
                "passage_type": ptype,
                "template_type": tt,
                "text": text,
                "spans": spans,
                "relations": [
                    {"annotator": r["annotator"], "doc_id": r["doc_id"], "ann_id": r["ann_id"]}
                    for r in rel_rows
                ],
            }
        )

    # --- concatenation with offset rebasing (summary_utils.py:925-948) ---
    text = ""
    term_to_span: dict[str, list[tuple[int, int]]] = {}
    for p in passages:
        if not p["text"]:
            continue
        if text:
            text += " "
        for term_type, span_list in p["spans"].items():
            key = f"{p['passage_type']}_{term_type}"
            for a, b in span_list:
                term_to_span.setdefault(key, []).append((len(text) + a, len(text) + b))
        text += p["text"]

    return {
        "text": text,
        "term_to_span": term_to_span,
        "passages": passages,
        "selected": [
            {"annotator": r["annotator"], "doc_id": r["doc_id"], "ann_id": r["ann_id"]}
            for r in selected
        ],
    }
