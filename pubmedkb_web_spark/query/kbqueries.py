"""Remaining reference query shapes: V2G, UMLS, GVD/GLOF, disease→gene
scores, journal normalization, QA quotas.

Each function cites the reference behavior it re-expresses (file:line into
/root/reference)."""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from . import bound

# ---------------------------------------------------------------- V2G (J8)

def v2g_translate(variant_links: DataFrame, kind1: str, key1: str, kind2: str) -> DataFrame:
    """hgvs↔rs↔gene translations with frequency ranking; 'first gene name'
    semantics = highest-freq then key asc (kb_utils.py:420-477 — reference
    breaks after the first dict entry, i.e. highest co-frequency)."""
    hits = variant_links.filter(
        (F.col("kind1") == kind1) & (F.col("key1") == key1) & (F.col("kind2") == kind2)
    )
    w = W.partitionBy("key1").orderBy(F.col("freq").desc(), F.col("key2").asc())
    return hits.withColumn("rank", F.row_number().over(w)).select(
        "kind2", "key2", "freq", "rank"
    )


# --------------------------------------------------------------- UMLS (J9)

def umls_expand(
    umls: DataFrame, umls_names: DataFrame, name: str, source_filter: str | None = None,
    umls_codes: DataFrame | None = None,
) -> DataFrame:
    """name (lowercased) → CUIs → preferred names (+ optional source-code
    filter, e.g. MSH) — chained broadcast dimension joins
    (kb_utils.py:2719-2731, server.py:3254-3260)."""
    cuis = umls_names.filter(F.col("name_lower") == name.lower()).select("cui").distinct()
    out = F.broadcast(cuis).join(umls, "cui")
    if source_filter is not None and umls_codes is not None:
        coded = umls_codes.filter(F.col("source") == source_filter).select("cui", "code")
        out = out.join(coded, "cui")
    return out


def cross_product_lookup(main: DataFrame, c_keys: list[str], d_keys: list[str]) -> DataFrame:
    """c_set × d_set probe (J12, server.py:2892-2896): crossJoin of two
    literal frames, then join the main (c, d)-keyed relation."""
    spark = main.sparkSession
    cs = bound.local_relation(spark, [(c,) for c in c_keys], _key_schema("c"))
    ds = bound.local_relation(spark, [(d,) for d in d_keys], _key_schema("d"))
    return F.broadcast(cs.crossJoin(ds)).join(main, ["c", "d"], "inner")


def _key_schema(name: str) -> T.StructType:
    return T.StructType([T.StructField(name, T.StringType())])


# ------------------------------------------------- disease→gene score (A4/A5)

def disease_to_gene_scores(
    db_scores: DataFrame, pubmedkb_scores: DataFrame
) -> DataFrame:
    """Blend per (disease, gene): db side rolled up by sum (A5,
    kb_utils.py:1953-1959), then **binarized** — ``100 if db > 0 else 0``
    (kb_utils.py:1983-1985) — plus an **uncapped** normalized pubmedkb term
    ``100 * pk / 10000`` (max_raw_pubmedkbscore = 10000, kb_utils.py:1943,
    1987); max over diseases per gene (A4, kb_utils.py:1961-2013). Key-space
    union is a full-outer join (U4, kb_utils.py:1980); missing side
    contributes 0.

    db_scores(disease, gene, score) · pubmedkb_scores(disease, gene, score)
    """
    db = db_scores.groupBy("disease", "gene").agg(F.sum("score").alias("db"))
    pk = pubmedkb_scores.groupBy("disease", "gene").agg(F.sum("score").alias("pk"))
    both = db.join(pk, ["disease", "gene"], "full_outer").select(
        "disease",
        "gene",
        F.coalesce("db", F.lit(0.0)).alias("db"),
        F.coalesce("pk", F.lit(0.0)).alias("pk"),
    )
    blended = both.withColumn(
        "pair_score",
        F.round(
            F.when(F.col("db") > 0, F.lit(100.0)).otherwise(F.lit(0.0))
            + 100.0 * F.col("pk") / 10000.0,
            6,
        ),
    )
    per_gene = blended.groupBy("gene").agg(F.round(F.max("pair_score"), 6).alias("gene_score"))
    return blended.join(per_gene, "gene")


# ------------------------------------------------------------ GVD pivot (A7)

def gvd_pivot(
    pair_stats: DataFrame,
    annotators: list[str],
    gd_scores: DataFrame | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """(subj, obj) × annotator support matrix — the GVD score-table shape
    (kb_utils.py:1888-1903): one fixed-column pivot, zero-filled.

    Carries the reference's two blended display columns
    (server.py:1696-1702):

    - ``sort_score`` — the build-time blend the reference stores in its GVD
      tables and uses for display order and top-k cuts. The reference's
      build pipeline is not in the repo, so the blend is defined here as
      total annotator evidence (Σ supports) — deterministic and monotone in
      every annotator column, documented as the engine's build rule.
    - ``new_score`` — the GDScore lookup rendered via ``get_string_score``:
      ``f"{score/100:.2f}"`` (server.py:1767-1815); NULL when the pair has
      no GDScore row (the render layer's '-').

    ``top_k`` applies the reference's ordered build-time truncation: keep
    the top-k objects per subject by (sort_score desc, obj asc) — the loop
    cut at server.py:1786-1815 (``if top_k and i >= top_k: break`` over
    data already ordered by sort_score).
    """
    # annotator names reach the SQL text as formatter-quoted literals and as
    # backtick-quoted column names (braces doubled for the formatter)
    frames = {f"a{i}": a for i, a in enumerate(annotators)}
    names = [
        "`" + a.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`" for a in annotators
    ]
    pivot = "".join(
        f", coalesce(max(CASE WHEN annotator = {{{k}}} THEN support END), 0) AS {n}"
        for k, n in zip(frames, names)
    )
    sort_score = " + ".join(["CAST(0 AS BIGINT)"] + names)
    # the per-subject rank partitions by subj: distributing the input by
    # subj lets the pivot's GROUP BY and the rank share one exchange
    text = (
        f"SELECT *, {sort_score} AS sort_score FROM (SELECT subj, obj{pivot} FROM (SELECT "
        "subj, obj, annotator, support FROM {pair_stats} DISTRIBUTE BY subj) GROUP BY subj, obj)"
    )
    if gd_scores is None:
        text = f"SELECT *, CAST(NULL AS STRING) AS new_score FROM ({text})"
    else:
        text = (
            f"SELECT /*+ BROADCAST(g) */ p.*, g.new_score FROM ({text}) p LEFT JOIN "
            "(SELECT subj, obj, format_string('%.2f', CAST(score AS double) / 100.0) AS new_score "
            "FROM {gd_scores}) g ON p.subj = g.subj AND p.obj = g.obj"
        )
        frames["gd_scores"] = gd_scores
    if top_k is not None:
        text = (
            "SELECT * EXCEPT (_rk) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY subj ORDER BY sort_score DESC, obj ASC) AS _rk FROM ({text})) "
            f"WHERE _rk <= {int(top_k)}"
        )
    return bound.sql(text, pair_stats=pair_stats, **frames)


# ----------------------------------------------------------------- GLOF

def glof_rollup(glof: DataFrame) -> DataFrame:
    """(type, key, direction) → pmids sorted by per-paper evidence count
    desc (server.py:1455-1523, T6: sort by len(sid_list)).
    glof(type, key, direction, doc_id, sent_idx)."""
    per_doc = glof.groupBy("type", "key", "direction", "doc_id").agg(
        F.count(F.lit(1)).alias("n_sents"),
        F.sort_array(F.collect_set("sent_idx")).alias("sent_idxs"),
    )
    w = W.partitionBy("type", "key", "direction").orderBy(
        F.col("n_sents").desc(), F.col("doc_id").asc()
    )
    return per_doc.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------- QA early-stop quotas (A9)

def early_stop_quota(
    ranked: DataFrame,
    doc_col: str = "doc_id",
    triplet_count_col: str = "n_triplets",
    rank_col: str = "rank",
    min_docs: int = 10,
    min_triplets: int = 30,
    max_rank: int = 10_000,
) -> DataFrame:
    """Take-while over a ranked stream: keep rows until cumulative
    #docs ≥ min_docs AND cumulative #triplets ≥ min_triplets
    (kb_utils.py:2424-2426,2486-2490). Emulated with running-count windows
    — the row that first satisfies both quotas is included, later rows cut.

    The unpartitioned running-sum window is safe only because the input is a
    bounded ranked stream (the reference feeds it its top-10000 retrieval
    list, kb_utils.py:2424); ``max_rank`` enforces that bound so an unbounded
    relation can never reach the single-task window.
    """
    ranked = ranked.filter(F.col(rank_col) <= max_rank)
    w = W.orderBy(F.col(rank_col).asc()).rowsBetween(W.unboundedPreceding, -1)
    before_docs = F.coalesce(F.count(F.col(doc_col)).over(w), F.lit(0))
    before_trip = F.coalesce(F.sum(F.col(triplet_count_col)).over(w), F.lit(0))
    return (
        ranked.withColumn("_docs_before", before_docs)
        .withColumn("_trip_before", before_trip)
        .filter((F.col("_docs_before") < min_docs) | (F.col("_trip_before") < min_triplets))
        .drop("_docs_before", "_trip_before")
    )


# ------------------------------------------------ journal normalization (F2)

@F.pandas_udf(T.StringType())
def _nfkc(s: pd.Series) -> pd.Series:
    return s.map(lambda x: unicodedata.normalize("NFKC", x) if x is not None else None)


def journal_impact_map(journal_impact: DataFrame) -> DataFrame:
    """Acceptance filter over the journal-impact match table
    (kb_utils.py:1812-1815): keep rows with ``int(match_ratio[:-1]) >= 70 OR
    match_substring == 'True'``. Input columns mirror the reference csv:
    (journal, articles, match_ratio, match_substring, match_journal,
    match_impact); ``journal`` is the already-normalized name."""
    ratio = F.regexp_extract(F.col("match_ratio"), r"^(\d+)", 1).try_cast("int")
    # exact == 'True', not case-insensitive: the reference's load_data
    # compares the raw csv string (kb_utils.py:1812-1815), so 'TRUE'/'true'
    # rows are rejected there and must be rejected here too
    accepted = journal_impact.filter(
        (ratio >= 70) | (F.col("match_substring").cast("string") == "True")
    )
    return accepted.select("journal", F.col("match_impact").alias("journal_impact"))


def enrich_meta_with_impact(meta: DataFrame, impact_map: DataFrame) -> DataFrame:
    """meta.journal → normalized → impact (Meta.get_meta_by_pmid,
    kb_utils.py:1826-1830). The impact table is small (one row per journal)
    → broadcast; unmatched journals get null impact (the reference returns
    '' which downstream float() treats as 0 — sorted_page does the same via
    try_cast+coalesce).

    The map side is deduplicated per journal before the join: the
    reference's dict build collapses duplicate journal rows (last wins,
    kb_utils.py:1812-1815); a relational input carries no file order, so
    the max impact string is kept (deterministic) — one row per journal, so
    meta rows can never fan out."""
    one_per_journal = impact_map.groupBy("journal").agg(
        F.max("journal_impact").alias("journal_impact")
    )
    jnorm = normalize_journal(F.col("journal"))
    right = F.broadcast(one_per_journal.withColumnRenamed("journal", "_jnorm"))
    return (
        meta.withColumn("_jnorm", jnorm)
        .join(right, "_jnorm", "left")
        .drop("_jnorm")
    )


def normalize_journal(col: Column) -> Column:
    """NFKC → lower → '&'→' and ' → non-alnum→space → collapse whitespace
    (kb_utils.py:1771-1784). Only the NFKC step needs Python (pandas UDF);
    the rest stays JVM-side."""
    c = F.lower(_nfkc(col))
    c = F.regexp_replace(c, "&", " and ")
    c = F.regexp_replace(c, r"[^0-9a-z]+", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


# --------------------------------------------------- id canonicalization (F3/F4)

def mesh_canon(col: Column) -> Column:
    """Add the MESH: prefix iff missing (kb_utils.py:1963-1970,2272-2275)."""
    return F.when(col.startswith("MESH:"), col).otherwise(F.concat(F.lit("MESH:"), col))


def split_variant_id(col: Column) -> Column:
    """'geneid_variantid' → struct(gene_id, variant_id)
    (server.py:1721-1728).

    Split at the FIRST underscore, like the reference's
    ``_i = _variant_id.find("_")`` — HGVS range variants legitimately
    contain underscores (``673_HGVS:p.Lys23_Val25del`` → variant_id
    ``HGVS:p.Lys23_Val25del``), so last-underscore splitting is wrong."""
    return F.struct(
        F.substring_index(col, "_", 1).alias("gene_id"),
        col.substr(F.instr(col, "_") + 1, F.length(col)).alias("variant_id"),
    )
