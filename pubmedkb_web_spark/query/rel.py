"""The /query_rel pipeline (reference lifecycle at SURVEY.md §3.1;
server.py:770-958) as three SQL statements per request.

The reference runs six stages: spec → sort → paginate → hydrate →
statistics → summary. Only hydration needs the page, and statistics need
only the hit set, so ``run_rel`` issues:

1. **Page.** The spec compiles to one postings scan (spec.py). Relevance
   per paper, the sort key and the ``ranked_slice`` top-k
   (TakeOrderedAndProject on the thin per-paper relation) come on top, and
   each page row carries its document's hit ``ann_id``s.
2. **Hydration.** Annotations and sentences are read through literal
   ``doc_id IN (...)`` filters built from those page keys; sentences are
   broadcast and rank is a literal ``CASE``. It never re-runs the page plan
   and never shuffles either table.
3. **Statistics.** The GROUPING SETS statement over hits ⋈ annotations is
   submitted at the start of the request to a long-lived worker thread, so
   it runs while (1) and (2) run. Its jobs carry the caller's job group.

The page and the statistics each evaluate the spec: on a small hit set
two parallel scans beat one cached evaluation, which the other statement
waits on and which costs a columnar build and its own job.

The summary (summary.py) runs in Python on the collected page rows; it
inspects ≤ one page of rows, exactly like the reference.

Each statement is bound to the caller's DataFrames with
``bound.sql(text, **frames)``. Literal doc ids reach the SQL text only
through PySpark's formatter quoting; ann_ids and ranks are formatted as
ints.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import bound
from . import spec as spec_mod
from . import summary as summary_mod

SORT_KEYS = ("relevance", "citation", "year", "journal_impact")

# statistics overlap the page on one long-lived thread: no thread is
# started per request
_STATISTICS = ThreadPoolExecutor(max_workers=1, thread_name_prefix="rel-statistics")


@dataclass
class RelResult:
    """One evaluated request. ``papers`` and ``relations`` are local
    relations of the rows ``run_rel`` collected (``bound.local_relation``)."""

    papers: DataFrame      # (doc_id, relevance, sort_score, rank) — the page
    relations: DataFrame   # hydrated page annotations + sentences
    statistics: dict       # overall + per-annotator counts
    summary: list = None   # NLG summary sentences for the page (server.py:924-958)


def _scores(hits: DataFrame, carry: str = "") -> DataFrame:
    """relevance = per-paper sum of annotation scores (server.py:657-659),
    plus the ``carry`` aggregate columns."""
    return bound.sql(
        f"SELECT doc_id, round(sum(score), 6) AS relevance{carry} FROM {{hits}} GROUP BY doc_id",
        hits=hits,
    )


def paper_scores(hits: DataFrame) -> DataFrame:
    """(doc_id, relevance): relevance = per-paper sum of annotation scores
    (server.py:657-659)."""
    return _scores(hits)


# sort key desc, then the reference's tie-break: int(pmid) desc
# (server.py:875); non-numeric ids fall back to string order
_PAGE_ORDER = "sort_score DESC, try_cast(doc_id AS bigint) DESC NULLS LAST, doc_id DESC"


def ranked_slice(df: DataFrame, order: str, page_start: int, page_end: int) -> DataFrame:
    """Attach a global ``rank`` under the total order ``order`` (the text
    of a SQL ORDER BY) and slice (page_start, page_end] — without ever
    shuffling the full relation into one task: ``ORDER BY ... LIMIT
    page_end`` plans TakeOrderedAndProject (per-partition top-k heaps,
    one final merge of ≤page_end rows), and the row_number window then runs
    over that bounded relation only."""
    return bound.sql(
        f"SELECT * FROM (SELECT *, row_number() OVER (ORDER BY {order}) AS rank "
        f"FROM (SELECT * FROM {{df}} ORDER BY {order} LIMIT {int(page_end)})) "
        f"WHERE rank > {int(page_start)}",
        df=df,
    )


def sorted_page(
    scores: DataFrame,
    meta: DataFrame | None,
    sort_key: str,
    page_start: int,
    page_end: int,
) -> DataFrame:
    """Sort by the chosen key (non-numeric meta values fall back to 0,
    server.py:846-869), tie-break int(doc_id) desc then doc_id desc
    (server.py:875), slice [start, end) → the columns of ``scores``
    (doc_id, relevance, ...), then sort_score and rank."""
    if sort_key not in SORT_KEYS:
        raise ValueError(f"sort key must be one of {SORT_KEYS}")
    if sort_key == "relevance":
        keyed = bound.sql("SELECT *, relevance AS sort_score FROM {scores}", scores=scores)
    else:
        if meta is None:
            raise ValueError("meta table required for non-relevance sorts")
        # sort_key is one of SORT_KEYS: a column name, not a literal
        keyed = bound.sql(
            f"SELECT s.*, coalesce(try_cast(m.{sort_key} AS double), 0.0) AS sort_score "
            "FROM {scores} s LEFT JOIN {meta} m ON s.doc_id = m.doc_id",
            scores=scores,
            meta=meta,
        )
    return ranked_slice(keyed, _PAGE_ORDER, page_start, page_end)


def _hydration(keys: list, annotations: DataFrame, sentences: DataFrame) -> DataFrame:
    """Full annotation + sentence records of the page (server.py:665-745),
    read through literal filters built from ``keys``, one
    ``(doc_id, rank, ann_ids)`` per page document. With no keys the filters
    are ``false``: an empty relation with the same schema, whose collect
    runs no job. CRE rows re-sorted by parsed percent confidence happens at
    render (server.py:729-741) via the parsed ``confidence_value`` column."""
    doc_ids = {f"d{i}": k[0] for i, k in enumerate(keys)}  # placeholder → doc_id
    names = ["{" + d + "}" for d in doc_ids]
    if keys:
        docs = f"doc_id IN ({', '.join(names)})"
        anns = " OR ".join(
            f"(doc_id = {n} AND ann_id IN ({', '.join(str(int(a)) for a in ann_ids)}))"
            for n, (_, _, ann_ids) in zip(names, keys)
        )
        # only the page's docs pass the filter, so the last one can be the
        # ELSE branch: rank stays a non-null int, as from row_number
        ranks = [str(int(rank)) for _, rank, _ in keys]
        whens = " ".join(f"WHEN {n} THEN {r}" for n, r in zip(names, ranks[:-1]))
        rank = f"CASE a.doc_id {whens} ELSE {ranks[-1]} END" if whens else ranks[-1]
    else:
        docs = anns = "false"
        rank = "0"
    text = (
        "SELECT /*+ BROADCAST(s) */ a.doc_id, a.sent_idx, a.ann_id, "
        f"a.* EXCEPT (doc_id, sent_idx, ann_id), {rank} AS rank, s.sentence, "
        "try_cast(regexp_extract(a.confidence, {percent}, 1) AS double) AS confidence_value "
        f"FROM (SELECT * FROM {{annotations}} WHERE {docs} AND ({anns})) a "
        f"LEFT JOIN (SELECT doc_id, sent_idx, sentence FROM {{sentences}} WHERE {docs}) s "
        "ON a.doc_id = s.doc_id AND a.sent_idx = s.sent_idx"
    )
    # "93.2%" → 93.2 (server.py:733 float(score[:-1]))
    return bound.sql(
        text, annotations=annotations, sentences=sentences, percent=r"^([\d.]+)%$", **doc_ids
    )


def hydrate(
    page: DataFrame,
    hits: DataFrame,
    annotations: DataFrame,
    sentences: DataFrame,
) -> DataFrame:
    """Fetch full annotation + sentence records for the page only
    (server.py:665-745).

    EAGER: runs one bounded collect, the (doc_id, rank, ann_id) of every
    hit of the page's ≤ ``page_end`` documents, and returns the lazy
    literal-key hydration over them, the same one ``run_rel`` issues."""
    rows = bound.sql(
        "SELECT /*+ BROADCAST(p) */ p.doc_id, p.rank, h.ann_id "
        "FROM {page} p JOIN {hits} h ON p.doc_id = h.doc_id",
        page=page,
        hits=hits,
    ).collect()
    keys: dict[str, tuple] = {}
    for doc_id, rank, ann_id in rows:
        keys.setdefault(doc_id, (doc_id, rank, []))[2].append(ann_id)
    return _hydration(list(keys.values()), annotations, sentences)


def statistics(hits: DataFrame, annotations: DataFrame) -> dict:
    """Result statistics (server.py:895-921): papers / sentences /
    relations, plus per-annotator relation counts.

    ONE statement over the joined relation: GROUPING SETS ((), (annotator))
    computes the grand-total row and the per-annotator rows together; the
    distinct paper/sentence counts only live on the grand-total row."""
    rows = bound.sql(
        "SELECT a.annotator, count(DISTINCT a.doc_id) AS papers, "
        "count(DISTINCT a.doc_id, a.sent_idx) AS sentences, count(1) AS relations, "
        "grouping(a.annotator) AS is_total "
        "FROM {annotations} a JOIN {hits} h ON a.doc_id = h.doc_id AND a.ann_id = h.ann_id "
        "GROUP BY GROUPING SETS ((), (a.annotator))",
        annotations=annotations,
        hits=hits,
    ).collect()
    # Spark 4's grouping sets return ZERO rows on empty input (a plain
    # global agg would return one zeros row), so a no-match query must fall
    # back to the reference's zero counts (server.py:895-921) instead of
    # crashing on a missing grand-total row.
    overall = next((r for r in rows if r["is_total"] == 1), None)
    if overall is None:
        return {
            "papers": 0,
            "sentences": 0,
            "relations": 0,
            "relations_by_annotator": {},
        }
    per_annotator = {
        r["annotator"]: r["relations"] for r in rows if r["is_total"] == 0
    }
    return {
        "papers": overall["papers"],
        "sentences": overall["sentences"],
        "relations": overall["relations"],
        "relations_by_annotator": per_annotator,
    }


def run_rel(
    postings: DataFrame,
    annotations: DataFrame,
    sentences: DataFrame,
    meta: DataFrame | None,
    e1_spec: spec_mod.Spec,
    e2_spec: spec_mod.Spec | None = None,
    pmid: str | None = None,
    sort_key: str = "relevance",
    page_start: int = 0,
    page_end: int = 10,
) -> RelResult:
    """Answer one /query_rel request (server.py:770-958): the page, the
    hydration and the overlapped statistics, each statement run once. The
    page and hydration rows are collected here; the result's ``papers`` and
    ``relations`` hold those rows as local relations, so reading them runs
    no Spark job."""
    if e2_spec is None:
        hits = spec_mod.evaluate_single(postings, e1_spec, pmid)
    else:
        hits = spec_mod.evaluate_pair(postings, e1_spec, e2_spec, pmid)
    spark = hits.sparkSession
    stats = _STATISTICS.submit(inheritable_thread_target(spark)(statistics), hits, annotations)
    try:
        page = sorted_page(
            _scores(hits, ", collect_list(ann_id) AS ann_ids"), meta, sort_key, page_start, page_end
        )
        page_rows = page.collect()
        relations = _hydration(
            [(r["doc_id"], r["rank"], r["ann_ids"]) for r in page_rows], annotations, sentences
        )
        rel_rows = relations.collect()
    finally:
        # never leave a request's statistics running past its return
        wait([stats])
    statistics_ = stats.result()  # raises the statistics' error, if any
    papers_schema = T.StructType([f for f in page.schema if f.name != "ann_ids"])
    papers = [tuple(r[f.name] for f in papers_schema) for r in page_rows]
    # the reference returns the NLG summary with every /query_rel page
    # (server.py:924-958); it inspects ≤ one page of hydrated rows
    summary = summary_mod.summarize_page(
        [r.asDict() for r in rel_rows],
        e1_spec=e1_spec,
        e2_spec=e2_spec,
        pmid=pmid,
    )
    return RelResult(
        papers=bound.local_relation(spark, papers, papers_schema),
        relations=bound.local_relation(spark, rel_rows, relations.schema),
        statistics=statistics_,
        summary=summary,
    )
