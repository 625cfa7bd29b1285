"""The query layer against a committed KB: a seeded query mix, the engine
call for each op, its oracle, and the traced decomposition of ``run_rel``.

Every op returns a JSON-able answer. Setup checks each distinct query once
against an oracle computed in Python from the collected KB tables (the
entity-spec algebra comes from ``tests/oracle.py``); a timed op then counts
as correct only when its answer digest equals the checked one.
"""

from __future__ import annotations

import bisect
import difflib
import hashlib
import itertools
import json
import os
import random
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.query import graph, kbqueries, nen, rel, spec
from pubmedkb_web_spark.query import summary as summary_mod
from pubmedkb_web_spark.schemas import VARIANT_TYPES
from tests import oracle

REL_OPS = ("rel_single", "rel_pair", "rel_nested", "rel_sorted")
LOOKUP_OPS = ("nen_fuzzy", "cgd_topk", "chem_disease", "gvd_pivot")
OPS = REL_OPS + LOOKUP_OPS
PAGE = 10
TOP_K = 10
TABLES = ("entity_postings", "annotations", "sentences", "meta", "cgd_paths",
          "chem_disease", "pair_stats", "canonical_map")


@dataclass(frozen=True)
class Query:
    op: str
    e1: tuple | None = None
    e2: tuple | None = None
    sort_key: str = "relevance"
    key: str | None = None  # lookup key: name, disease, chemical or gene id
    side: str | None = None  # chem_disease access path: "c" or "d"

    def label(self) -> str:
        return json.dumps([self.op, self.e1, self.e2, self.sort_key, self.key, self.side])


def digest(answer) -> str:
    return hashlib.sha256(json.dumps(answer, sort_keys=True, default=str).encode()).hexdigest()


# ------------------------------------------------------------------ the mix


def _leaf(row) -> tuple:
    etype = "VARIANT" if row["type"] in VARIANT_TYPES else row["type"]
    return ("type_id", (etype, row["id"]))


def query_pool(seed: int, canon: dict[str, str]) -> list[Query]:
    """The request pool: one query per op type, and ``chem_disease`` once
    per access path. Entities come from the fixture dictionary weighted by
    frequency, at evenly spaced quantiles across the op types (op i takes
    the entity at quantile (i + 0.5) / 8 of its draw), so the pool spans the
    hot gene (braf) to cold entities, and its make-up is the same for every
    seed: the seed varies the corpus, ``rel_sorted``'s sort key, the
    fuzzy-name typo and the request order. Lookup keys are mapped to
    canonical ids like the KB's."""
    rows = sorted(
        fixtures.build_entity_dict(seed).to_dict("records"),
        key=lambda r: (r["type"], r["id"], r["name"]),
    )
    rng = random.Random(seed * 1_000_003 + 17)
    at = {op: (i + 0.5) / len(OPS) for i, op in enumerate(OPS)}

    def draw(q: float, types=None) -> dict:
        pool = [r for r in rows if types is None or r["type"] in types]
        cum = list(itertools.accumulate(r["freq"] for r in pool))
        return pool[bisect.bisect_right(cum, q * cum[-1])]

    def canonical(row) -> str:
        return canon.get(row["id"], row["id"])

    def typo(name: str) -> str:
        if len(name) >= 7:  # one substitution keeps the difflib ratio >= 0.85
            i = rng.randrange(len(name))
            return name[:i] + ("z" if name[i] != "z" else "y") + name[i + 1:]
        return name.upper()

    def nested(a: dict, b: dict) -> tuple:
        same = ("AND", (_leaf(a), ("type_name", (_leaf(a)[1][0], a["name"].lower()))))
        return ("OR", (same, _leaf(b)))

    gv = {"Gene"} | set(VARIANT_TYPES)
    hottest = max((r for r in rows if r["type"] in gv), key=lambda r: r["freq"])
    sorted_on = draw(at["rel_sorted"])
    sort_keys = rel.SORT_KEYS[1:]  # citation, year, impact: one per seed
    sort_key = sort_keys[seed % len(sort_keys)]
    return [
        Query("rel_single", e1=_leaf(draw(at["rel_single"]))),
        # the pair pins the hottest gene/variant: a sparse pair is empty in
        # some corpora, and an empty hit set short-circuits the whole plan
        Query("rel_pair", e1=_leaf(hottest), e2=_leaf(draw(at["rel_pair"], {"Disease"}))),
        Query("rel_nested", e1=nested(draw(at["rel_nested"], gv), draw(at["rel_nested"], {"Disease"}))),
        Query("rel_sorted", e1=_leaf(sorted_on), sort_key=sort_key),
        Query("nen_fuzzy", key=typo(draw(at["nen_fuzzy"])["name"])),
        Query("cgd_topk", key=canonical(draw(at["cgd_topk"], {"Disease"}))),
        Query("chem_disease", side="c", key=canonical(draw(at["chem_disease"], {"Chemical"}))),
        Query("chem_disease", side="d", key=canonical(draw(at["chem_disease"], {"Disease"}))),
        Query("gvd_pivot", key=canonical(draw(at["gvd_pivot"], {"Gene"}))),
    ]


def request_cycles(seed: int, pool: list[Query]):
    """The closed-loop request sequence, as cycles: each cycle issues every
    pooled query once, in a fresh seeded order. A run measures whole
    cycles, so every run issues the same mix."""
    rng = random.Random(seed * 7_777_777 + 3)
    cycle = list(pool)
    while True:
        rng.shuffle(cycle)
        yield list(cycle)


# ------------------------------------------------------------- engine side


class KB:
    """The committed tables of one build, read back from the checkpoint root."""

    def __init__(self, spark: SparkSession, kb_dir: str, seed: int) -> None:
        self.spark = spark
        self.t = {name: spark.read.parquet(os.path.join(kb_dir, name)) for name in TABLES}
        self.entity_dict = fixtures.entity_dict_df(spark, seed).cache()
        self.entity_pdf = fixtures.build_entity_dict(seed)
        self.annotators = sorted(
            r[0] for r in self.t["pair_stats"].select("annotator").distinct().collect()
        )

    def canonical(self) -> dict[str, str]:
        return {r["id"]: r["canonical_id"] for r in self.t["canonical_map"].collect()}


def _rel_answer(res: rel.RelResult) -> dict:
    page = [
        [r["doc_id"], round(r["relevance"], 6), round(r["sort_score"], 6), r["rank"]]
        for r in sorted(res.papers.collect(), key=lambda r: r["rank"])
    ]
    return {
        "page": page,
        "stats": res.statistics,
        "hydrated": res.relations.count(),
        "summary": res.summary,
    }


def run_op(kb: KB, q: Query):
    """One request, end to end. Returns a callable that builds the answer
    outside the timed region (``run_rel`` already materialized its page,
    relations and statistics; the lookups are collected here)."""
    t = kb.t
    if q.op in REL_OPS:
        res = rel.run_rel(
            t["entity_postings"], t["annotations"], t["sentences"], t["meta"],
            q.e1, q.e2, sort_key=q.sort_key, page_start=0, page_end=PAGE,
        )
        return lambda: _rel_answer(res)
    if q.op == "nen_fuzzy":
        names = nen.fuzzy_names(kb.entity_dict, q.key).collect()
        names_df = kb.spark.createDataFrame(names, "name string, similarity double")
        ids = nen.ids_by_name(kb.entity_dict, names_df).collect()
        return lambda: {
            "names": [[r["name"], round(r["similarity"], 6)] for r in names],
            "ids": sorted([r["name"], r["type"], r["id"], int(r["freq"]), r["rank"]] for r in ids),
        }
    if q.op == "cgd_topk":
        rows = graph.cgd_drug_discovery(t["cgd_paths"], q.key, top_k=TOP_K).collect()
        return lambda: [
            [r["c"], round(r["cd_score"], 6), list(r["genes"]), [round(x, 6) for x in r["gene_scores"]]]
            for r in rows
        ]
    if q.op == "chem_disease":
        kw = {q.side: q.key}
        rows = graph.chem_disease_lookup(t["chem_disease"], **kw).collect()
        return lambda: sorted([r["c"], r["d"], int(r["n_docs"]), list(r["doc_ids"])] for r in rows)
    if q.op == "gvd_pivot":
        ps = t["pair_stats"].filter(F.col("subj") == q.key)
        rows = kbqueries.gvd_pivot(ps, kb.annotators, top_k=TOP_K).collect()
        return lambda: sorted(
            [r["subj"], r["obj"], int(r["sort_score"])] + [int(r[a]) for a in kb.annotators]
            for r in rows
        )
    raise ValueError(q.op)


def run_rel_traced(kb: KB, q: Query, spans) -> dict:
    """``rel.run_rel`` split at its public calls, one span each: plan
    construction, page execution, hydration, statistics, summary."""
    t = kb.t
    with spans.span("spec.plan"):
        if q.e2 is None:
            hits = spec.evaluate_single(t["entity_postings"], q.e1)
        else:
            hits = spec.evaluate_pair(t["entity_postings"], q.e1, q.e2)
    hits = hits.cache()
    try:
        with spans.span("rel.page_exec"):
            page = rel.sorted_page(rel.paper_scores(hits), t["meta"], q.sort_key, 0, PAGE)
            page_rows = page.collect()
        with spans.span("rel.hydrate_exec"):
            rel_rows = rel.hydrate(page, hits, t["annotations"], t["sentences"]).collect()
        with spans.span("rel.statistics"):
            stats = rel.statistics(hits, t["annotations"])
    finally:
        hits.unpersist()
    with spans.span("summary"):
        summary = summary_mod.summarize_page(
            [r.asDict() for r in rel_rows], e1_spec=q.e1, e2_spec=q.e2, pmid=None
        )
    return {
        "page": [
            [r["doc_id"], round(r["relevance"], 6), round(r["sort_score"], 6), r["rank"]]
            for r in sorted(page_rows, key=lambda r: r["rank"])
        ],
        "stats": stats,
        "hydrated": len(rel_rows),
        "summary": summary,
    }


# ------------------------------------------------------------- oracle side


def _num(x) -> float | None:
    try:
        return float(x)
    except (TypeError, ValueError):
        return None


class Oracle:
    """Expected answers computed in Python from the collected KB tables."""

    def __init__(self, kb: KB) -> None:
        t = kb.t
        post = t["entity_postings"].toPandas()
        self.postings_by_key: dict[str, list[dict]] = defaultdict(list)
        for r in post.to_dict("records"):
            self.postings_by_key[r["key"]].append(r)
        self.score = {(r["doc_id"], int(r["ann_id"])): r["score"] for r in post.to_dict("records")}
        ann = t["annotations"].select("doc_id", "ann_id", "sent_idx", "annotator").toPandas()
        self.ann: dict[tuple, list[tuple]] = defaultdict(list)
        for d, a, s, an in zip(ann["doc_id"], ann["ann_id"], ann["sent_idx"], ann["annotator"]):
            self.ann[(d, int(a))].append((int(s), an))
        meta = t["meta"].select("doc_id", "citation", "year", "journal_impact").toPandas()
        self.meta = {r["doc_id"]: r for r in meta.to_dict("records")}
        self.cgd = t["cgd_paths"].select("c", "d", "g", "cgd_score").toPandas()
        self.chem = t["chem_disease"].toPandas()
        self.pairs = t["pair_stats"].select("subj", "obj", "annotator", "support").toPandas()
        self.entity_pdf = kb.entity_pdf
        self.annotators = kb.annotators

    def _keys(self, s) -> set[str]:
        if s[0] in ("type_id", "type_name"):
            return {s[1][1]}
        return set().union(*(self._keys(b) for b in s[1]))

    def expect(self, q: Query) -> dict | list:
        if q.op in REL_OPS:
            return self._rel(q)
        return getattr(self, "_" + q.op)(q)

    def _rel(self, q: Query) -> dict:
        keys = self._keys(q.e1) | (self._keys(q.e2) if q.e2 else set())
        rows = [r for k in keys for r in self.postings_by_key.get(k, [])]
        if q.e2 is None:
            pairs = {(d, a) for _r, d, a in oracle.eval_spec(rows, q.e1)}
        else:
            pairs = oracle.eval_pair(rows, q.e1, q.e2)
        pairs = {(d, int(a)) for d, a in pairs}
        relevance: dict[str, float] = defaultdict(float)
        for d, a in pairs:
            relevance[d] += self.score[(d, a)]
        relevance = {d: round(v, 6) for d, v in relevance.items()}
        if q.sort_key == "relevance":
            key = relevance
        else:
            col = {"citation": "citation", "year": "year", "journal_impact": "journal_impact"}[q.sort_key]
            key = {d: (_num(self.meta[d][col]) if d in self.meta else None) or 0.0 for d in relevance}
        # sort_score desc, int(doc_id) desc nulls last, doc_id desc
        docs = sorted(relevance, reverse=True)
        docs.sort(key=lambda d: (-key[d], 0 if d.isdigit() else 1, -int(d) if d.isdigit() else 0))
        page = [[d, relevance[d], round(key[d], 6), i + 1] for i, d in enumerate(docs[:PAGE])]
        page_docs = set(docs[:PAGE])
        by_ann: dict[str, int] = defaultdict(int)
        sents, n_rel, hydrated = set(), 0, 0
        for d, a in pairs:
            for s, an in self.ann.get((d, a), []):
                by_ann[an] += 1
                sents.add((d, s))
                n_rel += 1
                hydrated += d in page_docs
        stats = {
            "papers": len(relevance) if n_rel else 0,
            "sentences": len(sents),
            "relations": n_rel,
            "relations_by_annotator": dict(by_ann),
        }
        return {"page": page, "stats": stats, "hydrated": hydrated}

    def _nen_fuzzy(self, q: Query) -> dict:
        qq = q.key.lower()
        names = {n.lower() for n in self.entity_pdf["name"]}
        scored = []
        for n in names:
            if abs(len(n) - len(qq)) <= nen.DEFAULT_MAX_LENGTH_DIFF:
                sim = round(difflib.SequenceMatcher(a=n, b=qq).ratio(), 6)
                if sim >= nen.DEFAULT_MIN_SIMILARITY:
                    scored.append((-sim, n))
        top = sorted(scored)[: nen.DEFAULT_MAX_NAMES]
        hits = {n for _s, n in top}
        freq: dict[tuple, int] = defaultdict(int)
        for t, i, n, f in self.entity_pdf[["type", "id", "name", "freq"]].itertuples(index=False):
            if n.lower() in hits:
                freq[(n.lower(), t, i)] += int(f)
        ids, by_name = [], defaultdict(list)
        for (n, t, i), f in freq.items():
            by_name[n].append((-f, i, t))
        for n, lst in by_name.items():
            for rank, (nf, i, t) in enumerate(sorted(lst), start=1):
                ids.append([n, t, i, -nf, rank])
        return {"names": [[n, -s] for s, n in top], "ids": sorted(ids)}

    def _cgd_topk(self, q: Query) -> list:
        p = self.cgd[self.cgd["d"] == q.key]
        per_c: dict[str, list] = defaultdict(list)
        for c, g, s in zip(p["c"], p["g"], p["cgd_score"]):
            per_c[c].append((-s, g, s))
        rows = []
        for c, lst in per_c.items():
            lst.sort()
            rows.append([c, round(sum(s for _n, _g, s in lst), 6), [g for _n, g, _s in lst],
                         [round(s, 6) for _n, _g, s in lst]])
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:TOP_K]

    def _chem_disease(self, q: Query) -> list:
        p = self.chem[(self.chem["level"] == "paper") & (self.chem[q.side] == q.key)]
        docs: dict[tuple, set] = defaultdict(set)
        for c, d, doc in zip(p["c"], p["d"], p["doc_id"]):
            docs[(c, d)].add(doc)
        return sorted([c, d, len(v), sorted(v)] for (c, d), v in docs.items())

    def _gvd_pivot(self, q: Query) -> list:
        p = self.pairs[self.pairs["subj"] == q.key]
        grid: dict[str, dict[str, int]] = defaultdict(dict)
        for o, a, s in zip(p["obj"], p["annotator"], p["support"]):
            grid[o][a] = int(s)
        rows = []
        for o, cols in grid.items():
            vals = [cols.get(a, 0) for a in self.annotators]
            rows.append([q.key, o, sum(vals)] + vals)
        rows.sort(key=lambda r: (-r[2], r[1]))
        return sorted(rows[:TOP_K])


def matches(answer, expected, tol: float = 1e-6) -> bool:
    """``answer`` agrees with ``expected`` on every key ``expected`` has;
    floats within ``tol``."""
    if isinstance(expected, dict):
        return isinstance(answer, dict) and all(
            k in answer and matches(answer[k], v, tol) for k, v in expected.items()
        )
    if isinstance(expected, (list, tuple)):
        return (
            isinstance(answer, (list, tuple))
            and len(answer) == len(expected)
            and all(matches(a, e, tol) for a, e in zip(answer, expected))
        )
    if isinstance(expected, float) or isinstance(answer, float):
        return answer is not None and abs(float(answer) - float(expected)) <= tol
    return answer == expected
