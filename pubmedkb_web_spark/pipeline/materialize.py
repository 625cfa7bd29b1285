"""M4 — graph materialization: dedup, postings, stats tables, sinks.

Write-side equivalents of the reference's precomputed stores:

- ``triples``          deduplicated edge table (the KB itself)
- ``entity_postings``  the type_id/type_name inverted indexes
                       (/root/reference/kb_utils.py:1518-1538) as one table
- ``pair_stats``       per (subj, obj, annotator) support counts — the
                       GVD/GD score-table analog (kb_utils.py:1871-1903)
- ``chem_disease``     co-paper/co-sentence evidence (kb_utils.py:2407-2416)
- ``cgd_paths``        materialized 2-hop chem→gene→disease join
                       (kb_utils.py:2783-2823)

Skew: the hot V600E/BRAF analog concentrates a large fraction of all
pairs on one key; pair_stats is one hash aggregation, whose map-side
partial count already combines a hot key before the exchange, so each
reducer receives at most one partial row per key and map task.
Partitioning: triples partitioned by annotator
(query layer always filters/groups by it); postings repartitioned by
(type, key) so a query-side leaf lookup touches few files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Exact dedup on the full edge identity (FIXTURES.md requires dup
    (subj,pred,obj,annotator) across docs to survive — evidence rows are
    per (doc, sentence))."""
    return triples.dropDuplicates(
        ["subj", "pred", "obj", "annotator", "doc_id", "sent_idx"]
    )


def build_entity_postings(annotations_wide: DataFrame) -> DataFrame:
    """Explode head/tail mention attrs into posting rows.

    Two idx kinds per role: type_id (one row per candidate id) and
    type_name (one row per surface form), matching the reference's two
    inverted indexes (kb_utils.py:1518-1538).
    """

    def one_role(role: str, name_col: str, type_col: str, ids_col: str) -> DataFrame:
        base = annotations_wide.select(
            F.col(type_col).alias("type"),
            F.col(name_col).alias("name"),
            F.col(ids_col).alias("ids"),
            F.lit(role).alias("role"),
            "doc_id",
            "ann_id",
            "score",
        )
        by_id = base.select(
            F.lit("type_id").alias("idx_kind"),
            "type",
            F.explode("ids").alias("key"),
            "role",
            "doc_id",
            "ann_id",
            "score",
        )
        by_name = base.select(
            F.lit("type_name").alias("idx_kind"),
            "type",
            F.lower(F.col("name")).alias("key"),
            "role",
            "doc_id",
            "ann_id",
            "score",
        )
        return by_id.unionByName(by_name)

    return one_role("head", "h_name", "h_type", "h_ids").unionByName(
        one_role("tail", "t_name", "t_type", "t_ids")
    )


def pair_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """Per key: evidence rows (``support``) and rounded score mass
    (``score_sum``). Spark's hash aggregate counts and sums map-side
    before its one exchange, so a hot key reaches its reducer pre-combined."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("support"), F.round(F.sum("score"), 6).alias("score_sum")
    )


def build_pair_stats(triples_dedup: DataFrame) -> DataFrame:
    """per (subj, obj, annotator): evidence support + score mass — the
    build-time analog of the GVD score tables (annotator columns appear at
    query time via pivot, SURVEY.md A7)."""
    return pair_counts(triples_dedup, ["subj", "obj", "annotator"])


def build_chem_disease(triples_dedup: DataFrame, entity_types: DataFrame) -> DataFrame:
    """chem_disease(c, d, level, doc_id): sentence-level from triple rows,
    paper-level distinct per doc (kb_utils.py:2407-2416 semantics)."""
    typed = typed_pairs(triples_dedup, entity_types, "Chemical", "Disease")
    sent = typed.select(
        F.col("subj").alias("c"), F.col("obj").alias("d"),
        F.lit("sentence").alias("level"), "doc_id",
    ).distinct()
    paper = sent.select("c", "d", F.lit("paper").alias("level"), "doc_id").distinct()
    return sent.unionByName(paper)


def typed_pairs(
    triples_dedup: DataFrame, entity_types: DataFrame, subj_type: str, obj_type: str
) -> DataFrame:
    """Triples restricted to (subj_type → obj_type), orientation-normalized.

    entity_types(id, type) is dictionary-sized → broadcast both lookups.
    """
    ts = F.broadcast(entity_types.select(F.col("id").alias("subj"), F.col("type").alias("_st")))
    to = F.broadcast(entity_types.select(F.col("id").alias("obj"), F.col("type").alias("_ot")))
    both = triples_dedup.join(ts, "subj").join(to, "obj")
    fwd = both.filter((F.col("_st") == subj_type) & (F.col("_ot") == obj_type)).drop("_st", "_ot")
    rev = (
        both.filter((F.col("_st") == obj_type) & (F.col("_ot") == subj_type))
        .select(
            F.col("obj").alias("subj"), "pred", F.col("subj").alias("obj"),
            "annotator", "score", "doc_id", "sent_idx", "content_sha256",
        )
    )
    return fwd.unionByName(rev)


def build_cgd_paths(triples_dedup: DataFrame, entity_types: DataFrame) -> DataFrame:
    """Materialized 2-hop chem→gene→disease paths with per-edge evidence —
    the CGD drug-discovery KB (kb_utils.py:2783-2823, SURVEY.md J10).

    The join key is the gene — the canonical skewed 2-hop self-join; gene
    side aggregated first (evidence lists) so the join input is one row per
    (pair, gene), not one per evidence sentence.
    """
    cg = typed_pairs(triples_dedup, entity_types, "Chemical", "Gene")
    gd = typed_pairs(triples_dedup, entity_types, "Gene", "Disease")
    cg_agg = cg.groupBy(F.col("subj").alias("c"), F.col("obj").alias("g")).agg(
        F.first("pred").alias("cg_relation"),
        F.sort_array(F.collect_set("doc_id")).alias("cg_pmids"),
        F.count(F.lit(1)).alias("cg_n"),
    )
    gd_agg = gd.groupBy(F.col("subj").alias("g"), F.col("obj").alias("d")).agg(
        F.first("pred").alias("gd_relation"),
        F.sort_array(F.collect_set("doc_id")).alias("gd_pmids"),
        F.count(F.lit(1)).alias("gd_n"),
    )
    return (
        cg_agg.join(gd_agg, "g")
        .select(
            "c",
            "d",
            "g",
            (F.col("cg_n") * F.col("gd_n")).cast("double").alias("cgd_score"),
            "cg_relation",
            "gd_relation",
            "cg_pmids",
            "gd_pmids",
        )
    )
