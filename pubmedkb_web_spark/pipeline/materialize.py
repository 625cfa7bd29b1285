"""M4 — graph materialization: dedup, postings, stats tables, sinks.

Write-side equivalents of the reference's precomputed stores:

- ``triples``          deduplicated edge table (the KB itself)
- ``entity_postings``  the type_id/type_name inverted indexes
                       (/root/reference/kb_utils.py:1518-1538) as one table
- ``pair_stats``       per (subj, obj, annotator) support counts — the
                       GVD/GD score-table analog (kb_utils.py:1871-1903)
- ``chem_disease``     co-sentence evidence (kb_utils.py:2407-2416)
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


def typed_edges(triples_dedup: DataFrame, entity_types: DataFrame) -> DataFrame:
    """Triples whose endpoint types are two of Chemical, Gene and Disease,
    oriented Chemical → Gene → Disease: (src, dst, src_type, dst_type, pred,
    doc_id). One broadcast join of ``entity_types(id, type)`` per endpoint;
    an id with two types gives a row per type pair, an untyped end none."""
    types = entity_types.filter(F.col("type").isin("Chemical", "Gene", "Disease"))
    st = F.broadcast(types.selectExpr("id AS subj", "type AS _st"))
    ot = F.broadcast(types.selectExpr("id AS obj", "type AS _ot"))
    # of two distinct types among the three, a row runs forward iff it
    # starts at a Chemical or ends at a Disease
    fwd = "_st = 'Chemical' OR _ot = 'Disease'"
    return triples_dedup.join(st, "subj").join(ot, "obj").filter("_st != _ot").selectExpr(
        f"IF({fwd}, subj, obj) AS src", f"IF({fwd}, obj, subj) AS dst",
        f"IF({fwd}, _st, _ot) AS src_type", f"IF({fwd}, _ot, _st) AS dst_type", "pred", "doc_id",
    )


def build_chem_disease(triples_dedup: DataFrame, entity_types: DataFrame) -> DataFrame:
    """chem_disease(c, d, level, doc_id): one distinct (c, d, doc_id) set of
    Chemical–Disease triples, emitted at both levels.

    Known gap: both levels come from co-sentence triples, so the
    ``paper`` rows equal the ``sentence`` rows; the reference's co-paper
    level (a chemical and a disease anywhere in one paper,
    kb_utils.py:2407-2416) is not built.
    """
    return (
        typed_edges(triples_dedup, entity_types)
        .filter("src_type = 'Chemical' AND dst_type = 'Disease'")
        .select(F.col("src").alias("c"), F.col("dst").alias("d"), "doc_id")
        .distinct()
        .selectExpr("c", "d", "explode(array('sentence', 'paper')) AS level", "doc_id")
    )


def build_cgd_paths(triples_dedup: DataFrame, entity_types: DataFrame) -> DataFrame:
    """Materialized 2-hop chem→gene→disease paths with per-edge evidence —
    the CGD drug-discovery KB (kb_utils.py:2783-2823, SURVEY.md J10).

    The join key is the gene — the canonical skewed 2-hop self-join; each
    edge side is aggregated first (evidence lists) so the join input is one
    row per (pair, gene), not one per evidence sentence. An edge's relation
    is its most frequent ``pred``, ties going to the smallest, so the column
    does not depend on the physical plan.
    """
    edges = typed_edges(triples_dedup, entity_types)

    def side(kind: str, src_type: str, dst_type: str) -> DataFrame:
        # one row per edge, its two ends named by the kind's letters
        return (
            edges.filter(f"src_type = '{src_type}' AND dst_type = '{dst_type}'")
            .groupBy(F.col("src").alias(kind[0]), F.col("dst").alias(kind[1]))
            .agg(
                F.mode("pred", True).alias(f"{kind}_relation"),
                F.sort_array(F.collect_set("doc_id")).alias(f"{kind}_pmids"),
                F.count(F.lit(1)).alias(f"{kind}_n"),
            )
        )

    cg, gd = side("cg", "Chemical", "Gene"), side("gd", "Gene", "Disease")
    return cg.join(gd, "g").select(
        "c", "d", "g", (F.col("cg_n") * F.col("gd_n")).cast("double").alias("cgd_score"),
        "cg_relation", "gd_relation", "cg_pmids", "gd_pmids",
    )
