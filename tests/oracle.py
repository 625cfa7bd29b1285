"""Pure-Python oracle implementing the reference algorithms' semantics
(SURVEY.md §5 item 2): mention detection (n-gram dictionary annotation per
/root/reference/kb_utils.py:806-856 + overlap removal per
/root/reference/server.py:1292-1334), pair extraction, and the entity-spec
boolean algebra (/root/reference/kb_utils.py:167-216,1540-1682). Used to
validate the Spark implementations on small corpora.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pubmedkb_web_spark import fixtures

VARIANT_TYPES = {
    "ProteinMutation", "DNAMutation", "SNP", "CopyNumberVariant", "Mutation", "DNAAcidChange",
}


def md5_int60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def build_dict_index(entity_pdf) -> dict[tuple[str, str], list[str]]:
    """(name_lower, type) → ids ordered by (freq desc, id asc), deduped."""
    acc: dict[tuple[str, str], list[tuple[int, str]]] = defaultdict(list)
    for t, i, n, f in zip(entity_pdf["type"], entity_pdf["id"], entity_pdf["name"], entity_pdf["freq"]):
        acc[(n.lower(), t)].append((-int(f), i))
    out = {}
    for k, pairs in acc.items():
        seen, ids = set(), []
        for _, i in sorted(pairs):
            if i not in seen:
                seen.add(i)
                ids.append(i)
        out[k] = ids
    return out


def split_sentences(content: str) -> list[str]:
    import re

    parts = re.split(r"\.\s+", content)
    return [p[:-1] if p.endswith(".") else p for p in parts if p.strip(".")]


def detect_mentions(content: str, dict_index, max_tokens: int) -> list[dict]:
    """All mentions per the M1 semantics: n-gram spans (3-100 chars,
    ≤max_tokens tokens), case-insensitive dict probe, greedy overlap keep."""
    import re

    out = []
    for sent_idx, sent in enumerate(split_sentences(content)):
        raw = sent.split(" ")
        # spaCy-token mirror (mentions.enumerate_spans): strip leading/
        # trailing non-word chars per token, advance the offset past the
        # leading strip; pure-punctuation tokens drop and block n-grams
        toks = []
        for i, t in enumerate(raw):
            off = sum(len(x) for x in raw[:i]) + i
            m = re.match(r"^([^0-9A-Za-z_]*)(.*?)([^0-9A-Za-z_]*)$", t)
            lead, core = m.group(1), m.group(2)
            toks.append((off + len(lead), core))
        # Construction order mirrors the reference's scan
        # (kb_utils.py:828-834): starting tokens ascending, term lengths
        # LONGEST FIRST per start. enum carries that order so the greedy
        # sort below reproduces Python's stable offset-sort behavior
        # (server.py:1296) exactly, not via a length-desc stand-in.
        cands = []
        enum = 0
        for i in range(len(toks)):
            off = toks[i][0]
            if not toks[i][1]:
                continue
            for n in range(max_tokens, 0, -1):
                if i + n > len(toks):
                    continue
                cores = [toks[j][1] for j in range(i, i + n)]
                if any(not c for c in cores):
                    continue  # dropped token blocks this n-gram
                span = " ".join(cores)
                enum += 1
                if not (3 <= len(span) <= 100):
                    continue
                for (nm, t), ids in dict_index.items():
                    if nm == span.lower():
                        cands.append(
                            {
                                "sent_idx": sent_idx,
                                "offset": off,
                                "name": span,
                                "type": t,
                                "ids": ids,
                                "enum": enum,
                            }
                        )
        cands.sort(key=lambda c: (c["offset"], c["enum"], c["type"], c["name"]))
        # reference greedy (server.py:1295-1302): exactly one mention per
        # position — a same-span duplicate has offset < last_end, dropped
        kept, last_end = [], -1
        for c in cands:
            start = c["offset"]
            if start >= last_end:
                kept.append(c)
                last_end = start + len(c["name"])
        kept.sort(key=lambda c: (c["offset"], c["type"]))
        for m_idx, c in enumerate(kept):
            c["mention_idx"] = m_idx
            out.append(c)
    return out


def merged_glof_mentions(
    content: str, dict_index, glof_index, max_tokens: int, glof_max_tokens: int
) -> list[dict]:
    """Reference GLOF merge (server.py:1292-1334): both populations resolved
    independently, GLOF mentions overlapping any normal mention's char range
    dropped, merged sorted by offset."""
    from collections import defaultdict

    normal = detect_mentions(content, dict_index, max_tokens)
    glof = detect_mentions(content, glof_index, glof_max_tokens)
    by_sent: dict[int, tuple[list, list]] = defaultdict(lambda: ([], []))
    for m in normal:
        by_sent[m["sent_idx"]][0].append(m)
    for m in glof:
        by_sent[m["sent_idx"]][1].append(m)
    out = []
    for sent_idx in sorted(by_sent):
        ns, gs = by_sent[sent_idx]
        idx_set = {
            i for m in ns for i in range(m["offset"], m["offset"] + len(m["name"]))
        }
        keep_g = [
            m for m in gs
            if all(
                i not in idx_set
                for i in range(m["offset"], m["offset"] + len(m["name"]))
            )
        ]
        merged = sorted(ns + keep_g, key=lambda m: m["offset"])
        for i, m in enumerate(merged):
            m = dict(m)
            m["mention_idx"] = i
            out.append(m)
    return out


def corpus_mentions(n_docs: int, seed: int = 42) -> dict[str, list[dict]]:
    ed = fixtures.build_entity_dict(seed)
    idx = build_dict_index(ed)
    max_tokens = max(len(n.split(" ")) for n in ed["name"])
    out = {}
    for i in range(n_docs):
        repo, path, commit, lang, content = fixtures.gen_doc(seed, i)
        doc_id = hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()[:16]
        out[doc_id] = detect_mentions(content, idx, max_tokens)
    return out


# ---------------- entity-spec brute-force evaluator ------------------------

def eval_spec(postings: list[dict], spec, pmid=None) -> set[tuple]:
    """postings rows: {idx_kind,type,key,role,doc_id,ann_id}. Returns set of
    (role, doc_id, ann_id) — reference AND/OR algebra."""
    op = spec[0]
    if op in ("type_id", "type_name"):
        etype, key = spec[1]
        types = VARIANT_TYPES if etype == "VARIANT" else {etype}
        return {
            (p["role"], p["doc_id"], p["ann_id"])
            for p in postings
            if p["idx_kind"] == op
            and p["type"] in types
            and p["key"] == key
            and (pmid is None or p["doc_id"] == pmid)
        }
    sets = [eval_spec(postings, b, pmid) for b in spec[1]]
    if op == "OR":
        out = set()
        for s in sets:
            out |= s
        return out
    if op == "AND":
        out = sets[0]
        for s in sets[1:]:
            out &= s
        return out
    raise ValueError(op)


def eval_pair(postings, e1, e2, pmid=None) -> set[tuple]:
    s1, s2 = eval_spec(postings, e1, pmid), eval_spec(postings, e2, pmid)

    def d(a, b):
        heads = {(doc, ann) for r, doc, ann in a if r == "head"}
        tails = {(doc, ann) for r, doc, ann in b if r == "tail"}
        return heads & tails

    return d(s1, s2) | d(s2, s1)


# ---------------- triple extraction oracle ---------------------------------

PREDICATES = ["inhibits", "activates", "causes", "treats", "binds", "regulates"]


def doc_triples(content: str, doc_id: str, dict_index, max_tokens: int) -> set[tuple]:
    """Expected (subj, pred, obj, annotator, doc_id, sent_idx) set for the
    deterministic extractors (co_occurrence + spacy_ore + openie_ore +
    rbert_cre), mirroring pipeline/extractors.py semantics. Triple subj/obj
    = top-ranked id of each mention (pre-canonicalization)."""
    out = set()
    mentions = detect_mentions(content, dict_index, max_tokens)
    by_sent: dict[int, list[dict]] = defaultdict(list)
    for m in mentions:
        by_sent[m["sent_idx"]].append(m)
    sents = split_sentences(content)
    for sent_idx, ms in by_sent.items():
        sent = sents[sent_idx]
        for m1 in ms:
            for m2 in ms:
                if m1["offset"] >= m2["offset"]:
                    continue
                s_id, o_id = m1["ids"][0], m2["ids"][0]
                out.add((s_id, "co_occurrence", o_id, "co_occurrence", doc_id, sent_idx))
                h_end = m1["offset"] + len(m1["name"])
                between = sent[h_end : m2["offset"]].strip()
                btoks = between.split(" ") if between else [""]
                if between in PREDICATES:
                    out.add((s_id, between, o_id, "spacy_ore", doc_id, sent_idx))
                found = [p for p in PREDICATES if p in btoks]
                if len(found) == 1 and len(btoks) <= 5:
                    out.add((s_id, found[0], o_id, "openie_ore", doc_id, sent_idx))
                vt = VARIANT_TYPES
                if (m1["type"] in vt and m2["type"] == "Disease") or (
                    m2["type"] in vt and m1["type"] == "Disease"
                ):
                    from pubmedkb_web_spark.functions.hashing import xxh64_pmod

                    key = "\x1f".join(
                        [doc_id, str(sent_idx), str(m1["offset"]), str(m2["offset"]), "cre"]
                    )
                    label = ["Cause-associated", "In-patient", "Appositive"][xxh64_pmod(key, 3)]
                    out.add((s_id, label, o_id, "rbert_cre", doc_id, sent_idx))
    return out


def corpus_triples(n_docs: int, seed: int = 42) -> set[tuple]:
    ed = fixtures.build_entity_dict(seed)
    idx = build_dict_index(ed)
    max_tokens = max(len(n.split(" ")) for n in ed["name"])
    out = set()
    for i in range(n_docs):
        repo, path, commit, lang, content = fixtures.gen_doc(seed, i)
        doc_id = hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()[:16]
        out |= doc_triples(content, doc_id, idx, max_tokens)
    return out


# ---------------- full-pipeline oracle (kg_pipeline_triples gate) -----------


def canonical_map_py(entity_pdf) -> dict[str, str]:
    """Python mirror of pipeline/canonicalize.py: ids sharing a lowercased
    surface form are one entity; canonical id = lexicographic min of the
    connected component. A NULL name aliases nothing, and a NULL id is
    left out (the engine maps it to NULL)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_name: dict[str, list[str]] = defaultdict(list)
    for i, n in zip(entity_pdf["id"], entity_pdf["name"]):
        if i is None:
            continue
        parent.setdefault(i, i)
        if n is not None:
            by_name[n.lower()].append(i)
    for ids in by_name.values():
        for other in ids[1:]:
            union(ids[0], other)
    return {i: find(i) for i in parent}


def pipeline_annotator_counts(n_docs: int, seed: int = 42) -> dict[str, int]:
    """Per-annotator DEDUPLICATED triple counts after canonical rewrite —
    the kg_pipeline_triples gate projection, derived WITHOUT running the
    Spark engine (mirrors runner.run_kg_pipeline's triples stage:
    extract_all → to_triples → rewrite_triples → dedup_triples).

    The odds_ratio annotator emits one annotation per co-occurring ordered
    pair whose two mention surfaces DIFFER case-insensitively: the
    contingency table keys pairs by (least, greatest) of the lowercased
    names with a STRICT n1 < n2 (extractors.pair_contingency), so a
    same-surface pair ("braf ... BRAF") has no contingency row and the
    inner join drops it. For surviving pairs `a >= 1` always holds (the
    observing sentence contributes to `a`), and pred = annotator
    (relation/predicate are NULL in its payload).
    """
    ed = fixtures.build_entity_dict(seed)
    idx = build_dict_index(ed)
    max_tokens = max(len(n.split(" ")) for n in ed["name"])
    cmap = canonical_map_py(ed)
    triples: set[tuple] = set()
    for i in range(n_docs):
        repo, path, commit, _lang, content = fixtures.gen_doc(seed, i)
        doc_id = hashlib.sha256(f"{repo}\x00{path}\x00{commit}".encode()).hexdigest()[:16]
        triples |= doc_triples(content, doc_id, idx, max_tokens)
        by_sent: dict[int, list[dict]] = defaultdict(list)
        for m in detect_mentions(content, idx, max_tokens):
            by_sent[m["sent_idx"]].append(m)
        for sent_idx, ms in by_sent.items():
            for m1 in ms:
                for m2 in ms:
                    if m1["offset"] >= m2["offset"]:
                        continue
                    if m1["name"].lower() == m2["name"].lower():
                        continue  # no strict n1<n2 contingency row
                    triples.add(
                        (
                            m1["ids"][0], "odds_ratio", m2["ids"][0],
                            "odds_ratio", doc_id, sent_idx,
                        )
                    )
    deduped = {
        (cmap.get(s, s), p, cmap.get(o, o), ann, d, si)
        for (s, p, o, ann, d, si) in triples
    }
    counts: dict[str, int] = defaultdict(int)
    for _s, _p, _o, ann, _d, _si in deduped:
        counts[ann] += 1
    return dict(counts)


# ---------------- graph tail (chem_disease, cgd_paths) ----------------------

# the tail's types in edge order: an edge runs Chemical → Gene → Disease
TAIL_TYPES = ("Chemical", "Gene", "Disease")


def typed_edges_py(triples, types) -> list[tuple]:
    """(src, dst, src_type, dst_type, pred, doc_id) for every pair of types
    its endpoints hold that are two distinct tail types, oriented by
    TAIL_TYPES. ``triples`` are (subj, pred, obj, doc_id), ``types`` are
    (id, type) rows."""
    of: dict[str, set[str]] = defaultdict(set)
    for i, t in types:
        if t in TAIL_TYPES:
            of[i].add(t)
    out = []
    for subj, pred, obj, doc_id in triples:
        for st in of[subj]:
            for ot in of[obj]:
                if st == ot:
                    continue
                if TAIL_TYPES.index(st) < TAIL_TYPES.index(ot):
                    out.append((subj, obj, st, ot, pred, doc_id))
                else:
                    out.append((obj, subj, ot, st, pred, doc_id))
    return out


def chem_disease_py(triples, types) -> set[tuple]:
    """(c, d, level, doc_id) rows: each Chemical–Disease (c, d, doc_id) at
    both levels."""
    pairs = {
        (s, d, doc) for s, d, st, dt, _, doc in typed_edges_py(triples, types)
        if (st, dt) == ("Chemical", "Disease")
    }
    return {(c, d, level, doc) for c, d, doc in pairs for level in ("sentence", "paper")}


def cgd_paths_py(triples, types) -> set[tuple]:
    """(c, d, g, cgd_score, cg_relation, gd_relation, cg_pmids, gd_pmids)
    rows; an edge's relation is its most frequent pred, ties to the
    smallest."""
    edges = typed_edges_py(triples, types)

    def side(src_type, dst_type):
        preds, docs = defaultdict(list), defaultdict(set)
        for s, d, st, dt, pred, doc in edges:
            if (st, dt) == (src_type, dst_type):
                preds[s, d].append(pred)
                docs[s, d].add(doc)
        return {
            k: (min(set(p), key=lambda x: (-p.count(x), x)), tuple(sorted(docs[k])), len(p))
            for k, p in preds.items()
        }

    cg, gd = side("Chemical", "Gene"), side("Gene", "Disease")
    return {
        (c, d, g, float(cn * dn), cr, dr, cp, dp)
        for (c, g), (cr, cp, cn) in cg.items()
        for (g2, d), (dr, dp, dn) in gd.items()
        if g == g2
    }
