"""Retrieval operators: BM25-as-join, RRF fusion, exact cosine top-k.

Reference chain (/query_pubmed_qa, SURVEY.md §3.3): UMLS dictionary
annotation → BM25 top-10000 (bm25s mmap index, kb_utils.py:895-955) →
impact-rank RRF fusion 1/(rank+61) (kb_utils.py:997-1033) → embedding
re-rank via Qdrant (kb_utils.py:1112-1185). Spark-first replacements:

- BM25: a term-postings DataFrame (tf/df/doclen precomputed at build time)
  joined against the query's term set — no serving index, scoring is a
  broadcast join + groupBy;
- RRF: full outer join of two windowed rank columns (SURVEY.md J13);
- embeddings: brute-force exact cosine top-k. One ``_dot`` (zip_with +
  aggregate, JVM-side; Spark evaluates the lambdas interpreted) serves
  every cosine and hyperplane signature in the engine, and Catalyst plans
  the top-k as TakeOrderedAndProject, no Python in the loop. (The LSH and
  IVF ANN probes for the 100 TB path live in ops/similarity.py.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..ops.textstats import word_tokens
from . import bound

_DOC_IDS = T.StructType([T.StructField("doc_id", T.StringType())])

RRF_K = 61  # reciprocal-rank constant (kb_utils.py:997)
BM25_K1 = 1.5
BM25_B = 0.75


def build_term_postings(corpus: DataFrame) -> DataFrame:
    """corpus → (term, doc_id, tf, dl). One explode + one groupBy."""
    toks = word_tokens("text")
    exploded = corpus.select(
        "doc_id",
        F.size(toks).alias("dl"),
        F.explode(toks).alias("term"),
    )
    return exploded.groupBy("term", "doc_id", "dl").agg(F.count(F.lit(1)).alias("tf"))


def build_bm25_index(corpus: DataFrame, out_path: str) -> tuple[DataFrame, int, float]:
    """Materialize the BM25 index ONCE — the reference serves queries from
    a prebuilt mmap index (kb_utils.py:895-918); scoring must never pay the
    corpus pass again.

    Postings are range-partitioned (one range per default-parallelism
    slot) and sorted by term so a query's ``term IN (...)`` predicate
    prunes row groups at the scan (parquet min/max statistics on the sort
    column); corpus stats (n_docs, avgdl)
    land in a sidecar JSON next to the parquet. Returns
    (postings, n_docs, avgdl) reloaded from the written artifact."""
    import json
    import os

    spark = corpus.sparkSession
    tp = build_term_postings(corpus)
    (
        tp.repartitionByRange(spark.sparkContext.defaultParallelism, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    n_docs = corpus.count()
    avgdl_row = (
        tp.select("doc_id", "dl").distinct().agg(F.avg("dl").alias("a")).first()
    )
    avgdl = float(avgdl_row["a"]) if avgdl_row and avgdl_row["a"] is not None else 0.0
    with open(os.path.join(out_path, "_bm25_stats.json"), "w") as f:
        json.dump({"n_docs": int(n_docs), "avgdl": avgdl}, f)
    return spark.read.parquet(out_path), int(n_docs), avgdl


def load_bm25_index(spark, path: str) -> tuple[DataFrame, int, float]:
    """Reload a :func:`build_bm25_index` artifact (postings, n_docs, avgdl)."""
    import json
    import os

    with open(os.path.join(path, "_bm25_stats.json")) as f:
        stats = json.load(f)
    return spark.read.parquet(path), int(stats["n_docs"]), float(stats["avgdl"])


def bm25_score(
    term_postings: DataFrame,
    query_terms: list[str],
    n_docs: int,
    avgdl: float,
    top_k: int | None = 10_000,
) -> DataFrame:
    """Score all docs containing any query term; top_k by (score desc, doc asc).
    ``top_k=None`` returns every scored doc (no global sort-limit) — the
    exact-comparison shape gates need, since a LIMIT at a score tie is
    nondeterministic across engines.

    df(term) is computed on the pruned postings (only query terms survive
    the scan thanks to the pushed isin filter).
    """
    qt = [t.lower() for t in query_terms]
    hits = term_postings.filter(F.col("term").isin(qt))
    df_counts = hits.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = hits.join(F.broadcast(df_counts), "term").withColumn(
        "idf",
        F.log(1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
    )
    out = (
        scored.withColumn("term_score", F.col("idf") * tf_part)
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    if top_k is None:
        return out
    return out.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(top_k)


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    key: str = "doc_id",
    top_k: int = 1_000,
) -> DataFrame:
    """Reciprocal-rank fusion of two (key, rank) relations
    (kb_utils.py:997,1016-1022): full outer join, 1/(rank+RRF_K) summed,
    absent side contributes 0."""
    a = ranked_a.select(key, F.col("rank").alias("rank_a"))
    b = ranked_b.select(key, F.col("rank").alias("rank_b"))
    fused = a.join(b, key, "full_outer").withColumn(
        "rrf",
        F.round(
            F.coalesce(1.0 / (F.col("rank_a") + RRF_K), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("rank_b") + RRF_K), F.lit(0.0)),
            8,
        ),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col(key).asc()).limit(top_k)


RANK_DEPTH = 10_000  # reference fuses bounded lists only (kb_utils.py:997-1033)


def rank_by(
    df: DataFrame,
    order_col: str,
    key: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """(key, rank) with deterministic tiebreak on the key, capped at
    ``RANK_DEPTH``: ``orderBy().limit(RANK_DEPTH)`` plans TakeOrderedAndProject
    (per-partition heaps, no full-relation sort), so the row_number window
    numbers ≤RANK_DEPTH survivors instead of shuffling every row into one task.
    The reference never ranks an unbounded relation — BM25 is top-10000 and
    impact lists are top-k (kb_utils.py:997-1033) — so fusion semantics are
    identical: a key outside the top ``RANK_DEPTH`` contributes 0 to RRF."""
    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    order = [oc, F.col(key).asc()]
    limited = df.select(key, order_col).orderBy(*order).limit(RANK_DEPTH)
    return limited.withColumn("rank", F.row_number().over(W.orderBy(*order)))


def qa_target_filter(
    candidates: DataFrame,
    d_set: list[str] | None = None,
    g_set: list[str] | None = None,
    v_set: list[str] | None = None,
) -> DataFrame:
    """The QA retrieval target filter (kb_utils.py:2456-2483) over a
    candidate relation ``(doc_id, d_name_matches, g_name_matches,
    v_name_matches, triplet_list, …)``:

    - rows with no triplets are dropped (l.2459-2460);
    - with a disease target set: any d ∈ d_name_matches (l.2461-2466);
    - with gene/variant targets: any g ∈ g_name_matches, OR the
      **gene-prefix fallback** — any v2 ∈ v_name_matches whose prefix
      before '_' is a target gene (variant ids are 'geneid_variantid',
      l.2471-2476) — OR any v ∈ v_set in v_name_matches (l.2477-2481).

    Faithful quirk: the reference computes ``v2[:v2.find('_')]`` — when a
    variant id has NO underscore, find() is -1 and the slice drops the
    *last* character; replicated here so parity holds on malformed ids.

    All predicates are arrays_overlap / exists on array columns (the
    ``exists`` lambda runs interpreted) — no Python, no shuffle,
    embarrassingly parallel at any scale.
    """
    df = candidates.filter(F.size("triplet_list") > 0)
    if d_set:
        df = df.filter(
            F.arrays_overlap("d_name_matches", F.array(*[F.lit(d) for d in d_set]))
        )
    if g_set or v_set:
        cond = F.lit(False)
        if g_set:
            cond = cond | F.arrays_overlap(
                "g_name_matches", F.array(*[F.lit(g) for g in g_set])
            )
            glist = list(g_set)

            def prefix_in_gset(v: Column) -> Column:
                i = F.instr(v, "_")
                g2 = F.when(i > 0, v.substr(F.lit(1), i - 1)).otherwise(
                    v.substr(F.lit(1), F.length(v) - 1)
                )
                return g2.isin(glist)

            cond = cond | F.exists("v_name_matches", prefix_in_gset)
        if v_set:
            cond = cond | F.arrays_overlap(
                "v_name_matches", F.array(*[F.lit(v) for v in v_set])
            )
        df = df.filter(cond)
    return df


def fetch_paper_text(paper_text: DataFrame, doc_ids: DataFrame | list[str]) -> DataFrame:
    """PaperText.query (kb_utils.py:1188-1211): pmid → (title, abstract);
    absent pmids yield ("", "") like the reference's None fallback.

    The gdbm point-lookup store becomes one broadcast-hash probe: the id
    list is page-sized → broadcast against the big paper_text scan (one
    pass, id pushdown via the join), then the not-found remainder is
    rebuilt driver-light from the id list itself."""
    spark = paper_text.sparkSession
    if isinstance(doc_ids, list):
        ids = bound.local_relation(spark, [(d,) for d in doc_ids], _DOC_IDS)
    else:
        ids = doc_ids.select("doc_id")
    found = paper_text.select("doc_id", "title", "abstract").join(
        F.broadcast(ids), "doc_id"
    )
    missing = ids.join(F.broadcast(found.select("doc_id")), "doc_id", "left_anti")
    return found.unionByName(
        missing.select(
            "doc_id", F.lit("").alias("title"), F.lit("").alias("abstract")
        )
    )


def _dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] over two array columns in double, folded left from 0.0
    (zip_with + aggregate, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity of two array columns; pass a literal query
    vector as ``F.array(*[F.lit(x) for x in query])``.

    A zero vector has no direction, so a zero norm on either side gives
    NULL (``try_divide``), never a DIVIDE_BY_ZERO that fails the whole
    query under ANSI: a DESC top-k ranks the NULL last and a ``>=``
    threshold drops it. ``embed_text`` emits that zero vector for a
    document with no tokens."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_top_k(
    embeddings: DataFrame,
    query: list[float],
    top_k: int = 20,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force exact top-k (the reference's Qdrant call is exact at its
    collection sizes too, kb_utils.py:1112-1154): (id, cos_sim) by cos_sim
    desc, id asc. Plans as one scan + TakeOrderedAndProject — embarrassingly
    parallel at any scale. The ANN probes in ops/similarity.py filter their
    buckets and end here."""
    qcol = F.array(*[F.lit(float(x)) for x in query])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col("embedding"), qcol), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(top_k)
    )
