"""Gate builders: one ``(spark, sf_dir) -> DataFrame`` per operator family.

``queries()`` maps the 50 gate names to their builders; each has a DuckDB
twin in :mod:`pubmedkb_web_spark.gates.oracle` over the same parquet
tables. Every builder calls the engine's own operators, so a gate tests
package code, not ad-hoc SQL. Hash-derived columns use the portable
md5-int60 / Mersenne-31 family (``functions/hashing.py``) so signatures
compare value-for-value with the oracle.

Nothing in the engine imports this module: it is the gate surface that
``__spark_entry__.py`` re-exports.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.functions import htmlrender
from pubmedkb_web_spark.functions.hashing import md5_int60
from pubmedkb_web_spark.functions.hgvsp import parse_hgvsp_col
from pubmedkb_web_spark.sources import litvar
from pubmedkb_web_spark.ops import dedup, multimodal, similarity, textstats
from pubmedkb_web_spark.pipeline import extractors, materialize, runner
from pubmedkb_web_spark.query import graph, nen, rel, retrieval, spec, varsum
from pubmedkb_web_spark.query import kbqueries as kbq
from pubmedkb_web_spark.streaming import events as streaming_events

VOCAB = ["spark", "join", "merge", "sort", "hash"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _gate_index(
    sf_dir: str, table: str, kind: str, marker: str, build: Callable[[str], object]
) -> str:
    """Directory of the gate-built ``kind`` index over ``table``.

    Its cache key is the path plus a stat fingerprint of the source parquet
    (name, size, mtime of every part file), so regenerated test data at the
    same path gets a fresh index instead of a silently-stale one, and two
    processes over different data never share a directory. ``build(dir)``
    writes into a private directory that one rename publishes, so a reader
    never sees a half-written index and a same-data race keeps the winner's
    copy; ``marker`` is the file whose presence says the index is complete."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    parts = [src]
    if os.path.isdir(src):
        parts = [
            os.path.join(dp, fn)
            for dp, _dirs, fns in sorted(os.walk(src))
            for fn in sorted(fns)
        ]
    for pth in parts:
        st = os.stat(pth)
        h.update(f"{os.path.basename(pth)}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}_idx_{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(path, marker)):
        build_root = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_build_")
        build(build_root)
        try:
            os.rename(build_root, path)
        except OSError:
            pass  # a concurrent builder already published identical content
    return path


def _vocab_arr():  # built lazily: F.lit needs an active SparkContext
    return F.array(*[F.lit(w) for w in VOCAB])


# map-only tokenization base shared by the token queries: the token array
# stays a per-row ARRAY column (array_remove == the length>0 filter, pure
# codegen) so vocabulary predicates run as array expressions BEFORE any
# explode — no occurrence-level row blowup, no shuffle. The array lands in
# its own projection so CollapseProject never duplicates the regex split.
def _doc_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.word_tokens("text").alias("_toks"))


def _vocab_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ord, tok) — 1-based positional VOCAB tokens of documents."""
    return (
        _doc_token_arrays(spark, sf_dir)
        .select("doc_id", F.posexplode("_toks").alias("pos0", "tok"))
        .filter(F.col("tok").isin(VOCAB))
        .select("doc_id", (F.col("pos0") + 1).alias("ord"), "tok")
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding array<double>) — the embeddings table as every
    vector operator reads it."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _query_vec(emb: DataFrame, vec_id: int) -> list[float]:
    """The embedding of ``vec_id`` as a driver-side literal query vector."""
    return [float(x) for x in emb.filter(F.col("vec_id") == vec_id).first()["embedding"]]


def _token_postings(
    df: DataFrame, key: Column, role: Column, ann_id: Column, score: Column
) -> DataFrame:
    """entity_postings-shaped rows of ``df``'s doc_id-keyed Token keys."""
    return df.select(
        F.lit("type_name").alias("idx_kind"),
        F.lit("Token").alias("type"),
        key.alias("key"),
        role.alias("role"),
        F.col("doc_id").cast("string").alias("doc_id"),
        ann_id.cast("long").alias("ann_id"),
        score.cast("double").alias("score"),
    )


def _doc_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entity_postings-shaped doc-level token index: role=head, ann_id=0,
    score=1. AND/OR over it = boolean doc algebra (SURVEY.md J1/J2).

    Distinct (doc, vocab-token) membership == array_intersect of the token
    array with the vocabulary — deduped by construction, so no
    dropDuplicates shuffle."""
    base = _doc_token_arrays(spark, sf_dir)
    toks = base.select(
        "doc_id", F.explode(F.array_intersect(F.col("_toks"), _vocab_arr())).alias("tok")
    )
    return _token_postings(toks, F.col("tok"), F.lit("head"), F.lit(0), F.lit(1.0))


def _tf_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token-frequency postings: ann_id = hash(token), score = tf — OR over
    it sums per-doc tf mass, the relevance-ranking shape (SURVEY.md A1).

    tf(w) = size(toks) − size(array_remove(toks, w)) per vocab word — pure
    codegen array math in a map-only projection, no groupBy(doc_id, tok)
    shuffle; md5 ann_ids are computed on ≤|VOCAB| rows/doc, not per
    occurrence."""
    base = _doc_token_arrays(spark, sf_dir)
    entries = F.array(
        *[
            F.struct(
                F.lit(w).alias("tok"),
                (
                    F.size(F.col("_toks")) - F.size(F.array_remove(F.col("_toks"), w))
                ).alias("tf"),
            )
            for w in VOCAB
        ]
    )
    tf = (
        base.select("doc_id", F.explode(entries).alias("_e"))
        .select("doc_id", F.col("_e.tok").alias("tok"), F.col("_e.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    return _token_postings(
        tf, F.col("tok"), F.lit("head"), md5_int60(F.col("tok")) % 1_000_000, F.col("tf")
    )


def _ht_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head/tail postings: token occurrence in the first half of the doc →
    head role, second half → tail (exercises the pair query, SURVEY.md J3).

    ord*2 <= dl ⇔ the occurrence sits in slice(toks, 1, dl/2) — the halves
    are materialized once per row and membership is array_contains, so no
    dropDuplicates shuffle."""
    base = _doc_token_arrays(spark, sf_dir)
    half = F.floor(F.size("_toks") / 2).cast("int")
    halves = base.select(
        "doc_id",
        F.slice(F.col("_toks"), F.lit(1), half).alias("_head"),
        F.slice(F.col("_toks"), half + 1, F.size("_toks") - half).alias("_tail"),
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(w).alias("tok"),
                F.lit(role).alias("role"),
                F.array_contains(F.col(c), w).alias("has"),
            )
            for w in VOCAB
            for role, c in (("head", "_head"), ("tail", "_tail"))
        ]
    )
    hits = halves.select("doc_id", F.explode(entries).alias("_e")).filter(F.col("_e.has"))
    return _token_postings(hits, F.col("_e.tok"), F.col("_e.role"), F.lit(0), F.lit(1.0))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_spec_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spec compiler: spark AND (join OR merge) → doc ids."""
    postings = _doc_postings(spark, sf_dir)
    tree = (
        "AND",
        (
            ("type_name", ("Token", "spark")),
            ("OR", (("type_name", ("Token", "join")), ("type_name", ("Token", "merge")))),
        ),
    )
    out = spec.evaluate_single(postings, tree)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_spec_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pair query: (spark.head ∩ join.tail) ∪ (join.head ∩ spark.tail)."""
    postings = _ht_postings(spark, sf_dir)
    out = spec.evaluate_pair(
        postings, ("type_name", ("Token", "spark")), ("type_name", ("Token", "join"))
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_rel_relevance_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rel pipeline sort+paginate: relevance = Σ tf, page [0,20)."""
    postings = _tf_postings(spark, sf_dir)
    tree = ("OR", tuple(("type_name", ("Token", t)) for t in VOCAB[:3]))
    hits = spec.evaluate_single(postings, tree)
    page = rel.sorted_page(rel.paper_scores(hits), None, "relevance", 0, 20)
    return page.select(
        F.col("doc_id").cast("long").alias("doc_id"), "relevance", "rank"
    )


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, orders = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    rev = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    # take the top-20 on the thin aggregate FIRST (TakeOrderedAndProject —
    # per-partition heaps, no extra exchange), THEN join the 20 survivors
    # against orders as a broadcast probe, never a sort-merge join of the
    # full aggregate and the full orders table. Precondition: lineitem's
    # orderkeys are a TPC-H foreign key into orders, so the inner join can't
    # eliminate a top-20 candidate.
    top = (
        rev.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(20)
        .withColumnRenamed("l_orderkey", "orderkey")
    )
    return (
        F.broadcast(top)
        .join(orders, top.orderkey == orders.o_orderkey)
        .select("orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
    )


def q_supplier_rank_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return (
        sup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("s_nationkey", "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"), "rn")
    )


def q_rrf_fusion_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    by_price = retrieval.rank_by(orders, "o_totalprice", key="o_orderkey", ascending=False)
    by_date = retrieval.rank_by(orders, "o_orderdate", key="o_orderkey", ascending=True)
    fused = retrieval.rrf_fuse(by_price, by_date, key="o_orderkey", top_k=100)
    return fused.select("o_orderkey", "rank_a", "rank_b", "rrf")


def q_two_hop_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, sup, nat = (_t(spark, sf_dir, x) for x in ("customer", "supplier", "nation"))
    return (
        cust.join(sup, cust.c_nationkey == sup.s_nationkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_freq_cutoff_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    cnt = part.groupBy("p_brand").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy()
    return cnt.withColumn("max_cnt", F.max("cnt").over(w)).filter(
        F.col("cnt") >= 0.5 * F.col("max_cnt")
    ).select("p_brand", "cnt", "max_cnt")


def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select((k % 10).alias("k_mod")).groupBy("k_mod").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select("user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types])
    )


def q_hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = streaming_events.windowed_counts(ev, "1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "value_sum",
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rows (gap > 30 min splits) — the batch twin of the
    applyInPandasWithState streaming sessionizer (streaming/events.py);
    stream-vs-batch parity is pytest's job (test_graph_streaming)."""
    return streaming_events.sessionize_batch(_t(spark, sf_dir, "events"), gap_s=1800)


def q_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rollup of q_user_sessions: session and event counts."""
    return q_user_sessions(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events")
    )


def q_cooccurrence_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-doc distinct vocab set is array_intersect(toks, VOCAB); pair
    # enumeration (n1 < n2) is a double explode of that ≤5-element array per
    # doc, map-only with no doc_id self-join — only the final pair-count
    # aggregation shuffles.
    base = _doc_token_arrays(spark, sf_dir)
    vs = base.select(
        "doc_id", F.array_intersect(F.col("_toks"), _vocab_arr()).alias("_vs")
    )
    pairs = (
        vs.select("doc_id", F.explode("_vs").alias("n1"), F.col("_vs"))
        .select("doc_id", "n1", F.explode("_vs").alias("n2"))
        .filter(F.col("n1") < F.col("n2"))
        .withColumn("score", F.lit(1.0))
    )
    out = materialize.pair_counts(pairs, ["n1", "n2"])
    return out.select("n1", "n2", "support")


def q_odds_ratio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair_contingency deduplicates mentions per (doc, sent, name) first
    # thing, so feeding it the map-only per-doc distinct vocab set
    # (array_intersect, ≤5 rows/doc) equals feeding every occurrence — but
    # its internal DISTINCT shuffles ≤5 rows/doc, not every token.
    base = _doc_token_arrays(spark, sf_dir)
    mentions = base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("sent_idx"),
        F.explode(F.array_intersect(F.col("_toks"), _vocab_arr())).alias("name"),
    )
    sentences = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), F.lit(0).alias("sent_idx")
    )
    # doc_id is unique in documents, so the plain footer-metadata count IS
    # the distinct (doc_id, sent_idx) total — passing it removes the
    # distinct+count job pair_contingency would otherwise run.
    cont = extractors.pair_contingency(
        mentions, sentences, n_sentences=_t(spark, sf_dir, "documents").count()
    )
    return cont.select("n1", "n2", "a", "b", "c", "d", "odds_ratio", "ci_low", "ci_high")


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sh = dedup.shingles(docs, 3)
    sigs = dedup.minhash_signatures(sh, 8)
    return sigs.select("doc_id", F.posexplode("sig").alias("hash_idx", "minhash"))


def q_lsh_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = dedup.shingles(docs, 3)
    cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh, 8), 4, 2)
    return dedup.jaccard_pairs(sh, cands)


def _replicate_hot(df: DataFrame, id_col: str, payload: str) -> DataFrame:
    """(id, payload) rows with id < 20 replicated into hot buckets: every
    5th row ×12 copies (> cap 8 → star fallback), the rest ×3 (≤ cap →
    clique); copy r of row id gets the new long id id*100 + r. Same
    derivation in the DuckDB oracle."""
    base = df.filter(F.col(id_col) < 20)
    reps = F.when(F.col(id_col) % 5 == 0, F.lit(12)).otherwise(F.lit(3))
    return base.select(
        id_col, payload, F.explode(F.sequence(F.lit(0), reps - 1)).alias("r")
    ).select((F.col(id_col) * 100 + F.col("r")).cast("long").alias(id_col), payload)


def _hot_lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures of a derived corpus with guaranteed hot LSH
    buckets: the documents table has no duplicate texts, so replicate
    doc_id<20 (_replicate_hot). Identical texts share every band bucket,
    so the ×12 groups exceed the cap in ALL bands."""
    corpus = _replicate_hot(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return dedup.minhash_signatures(dedup.shingles(corpus, 3), 8)


def q_lsh_star_fallback_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the hot-bucket star fallback (the lsh_near_dup_pairs gate
    corpus never exceeds the cap). Cap 8 forces the ×12 buckets onto the star
    path while the ×3 buckets stay on the clique path — one gate, both
    branches, hash-matched against the oracle's explicit star/clique SQL."""
    sigs = _hot_lsh_signatures(spark, sf_dir)
    return dedup.lsh_candidate_pairs(sigs, 4, 2, max_bucket_size=8)


def q_lsh_hot_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability half of the cap (drop-with-log): which band buckets
    exceeded max_bucket_size, with sizes."""
    sigs = _hot_lsh_signatures(spark, sf_dir)
    return dedup.lsh_hot_buckets(sigs, 4, 2, max_bucket_size=8)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone gate for dedup.jaccard_pairs — the exact n-gram verify
    stage — decoupled from LSH candidate generation (the brief lists
    n-gram Jaccard as its own dedup op; in lsh_near_dup_pairs it is only
    exercised on LSH survivors). Candidates here are every doc pair
    sharing >= 1 shingle (a shingle equi-self-join, not a cross product),
    so the op scores the complete non-zero-Jaccard pair set exactly."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    sh = dedup.shingles(docs, 3)
    cands = dedup.bucket_pairs(sh, ["shingle"]).distinct()
    return dedup.jaccard_pairs(sh, cands)


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for similarity.embedding_near_duplicates covering BOTH bucket
    branches (the ×12 groups exceed cap 8 → star path; the ×3 groups stay
    on the clique path), hash-matched against an oracle that replicates
    the affine hyperplane signature, the bucket-size split, and the
    round-then-threshold filter in explicit SQL. The corpus replicates
    vec_id<20 (_replicate_hot): identical vectors share every hyperplane
    bucket and score cos_sim=1."""
    corpus = _replicate_hot(_embeddings(spark, sf_dir), "vec_id", "embedding")
    return similarity.embedding_near_duplicates(
        corpus, threshold=0.95, n_planes=8, max_bucket_size=8
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.simhash(docs, 16)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    return retrieval.cosine_top_k(emb, _query_vec(emb, 0), top_k=10)


def q_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scoring against the PERSISTED index — build is a separate
    stage (the reference loads a prebuilt bm25s index, kb_utils.py:895-918),
    so the gate measures query cost, not corpus indexing."""
    idx_path = _gate_index(
        sf_dir, "documents", "bm25", "_bm25_stats.json",
        lambda d: retrieval.build_bm25_index(_t(spark, sf_dir, "documents"), d),
    )
    tp, n_docs, avgdl = retrieval.load_bm25_index(spark, idx_path)
    # top_k=None: the oracle scores every matching doc, and a LIMIT at a
    # score tie is nondeterministic across engines (first seen at sf1,
    # where 48k docs match vs the 10k default cap)
    return retrieval.bm25_score(
        tp, ["spark", "join", "window"], n_docs, avgdl, top_k=None
    )


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang", "lang_hits"
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio", "quality"
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


def q_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (ops/textstats.py
    repetition_metrics): dup-line fractions + top-2/3-gram character
    coverage — the LLM-training-data quality-filter family."""
    return textstats.repetition_metrics(_t(spark, sf_dir, "documents"))


# ----- merged gates -----------------------------------------------------------
# The gate check reads at most the first 50 queries() entries, so these
# gates union same-family outputs into one entry each, keeping the surface
# at exactly 50 WITHOUT dropping any checked capability: every constituent
# keeps its own q_ function (bench.py times them and
# tests/test_plan_shapes.py audits their plans individually) and its own
# oracle_sql entry.


def q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash_signatures + simhash_docs as one gate: (kind, doc_id, idx, val)."""
    mh = q_minhash_signatures(spark, sf_dir).select(
        F.lit("minhash").alias("kind"),
        "doc_id",
        F.col("hash_idx").cast("int").alias("idx"),
        F.col("minhash").cast("long").alias("val"),
    )
    sh = q_simhash_docs(spark, sf_dir).select(
        F.lit("simhash").alias("kind"),
        "doc_id",
        F.lit(0).alias("idx"),
        F.col("simhash").cast("long").alias("val"),
    )
    return mh.unionByName(sh)


def q_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based boolean quality filters (ops/textstats.py
    gopher_filters): published thresholds, per-rule booleans on rounded
    measures + gopher_keep."""
    return textstats.gopher_filters(_t(spark, sf_dir, "documents"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII detect + redact (ops/textstats.py pii_scrub): email →
    IPv4 → phone, order-defined sequential replacement."""
    return textstats.pii_scrub(_t(spark, sf_dir, "documents"))


def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (ops/textstats.py c4_line_filters):
    kept-line stats, cleaned text, page-level keep decision."""
    return textstats.c4_line_filters(_t(spark, sf_dir, "documents"))


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (ops/textstats.py decontaminate, the
    GPT-3 appendix-C 13-gram procedure at gate width n=3 so the synthetic
    corpus has non-trivial overlap): benchmark = every 17th doc, training
    side = all docs (benchmark members flag themselves — that is the
    contract). min_hits=2 exercises the threshold boundary."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    return textstats.decontaminate(docs, bench, n=3, min_hits=2).select(
        "doc_id", "n_contaminated_ngrams", "contaminated"
    )


def q_textstats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_id + quality + token_counts + fingerprint + repetition +
    gopher-rule filters + PII scrub + C4 line filters + benchmark
    decontamination joined on doc_id (inner: each emits one row per doc
    with >=1 token — any token lives on some non-empty line, so the
    repetition leg's >=1-line domain is a superset; the
    gopher/pii/c4/decontaminate legs are all-docs, supersets; token-less
    docs drop on both sides)."""
    out = (
        q_lang_id_docs(spark, sf_dir)
        .join(q_quality_scores(spark, sf_dir), "doc_id")
        .join(q_token_counts(spark, sf_dir), "doc_id")
        .join(q_fingerprint_docs(spark, sf_dir), "doc_id")
        .join(q_repetition_docs(spark, sf_dir), "doc_id")
        .join(q_gopher_filters(spark, sf_dir), "doc_id")
        .join(q_pii_scrub(spark, sf_dir), "doc_id")
        .join(q_c4_line_filters(spark, sf_dir), "doc_id")
        .join(q_decontaminate_docs(spark, sf_dir), "doc_id")
    )
    return out


def q_anti_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = q_anti_join_customers(spark, sf_dir).select(
        F.lit("anti").alias("kind"), "c_custkey"
    )
    s = q_semi_join_customers(spark, sf_dir).select(
        F.lit("semi").alias("kind"), "c_custkey"
    )
    return a.unionByName(s)


def q_lsh_star_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-fallback pairs + hot-bucket observability as one gate over the
    shared hot corpus: (kind, k1, k2, v)."""
    pairs = q_lsh_star_fallback_pairs(spark, sf_dir).select(
        F.lit("pair").alias("kind"),
        F.col("doc_a").cast("string").alias("k1"),
        F.col("doc_b").cast("string").alias("k2"),
        F.lit(0).cast("long").alias("v"),
    )
    hot = q_lsh_hot_buckets(spark, sf_dir).select(
        F.lit("hot").alias("kind"),
        F.col("band_idx").cast("string").alias("k1"),
        F.col("band_key").alias("k2"),
        F.col("bucket_size").cast("long").alias("v"),
    )
    return pairs.unionByName(hot)


def q_cosine_topk_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k (query vec 0) + IVF full-probe top-k (query vec 2)
    as one gate; the IVF leg's oracle stays brute force (exact by
    construction at nprobe=ALL), so this is the strongest check of both."""
    brute = q_cosine_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"), "vec_id", "cos_sim"
    )
    ivf = q_ivf_cosine_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "vec_id", "cos_sim"
    )
    return brute.unionByName(ivf)


def q_html_render_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four F7/S10 presentation gates as one row set:
    (kind, k, html) — escape + paper-meta lines keyed by doc_id, the
    reference-list and <table> single-string renders keyed 0."""
    esc = q_html_escape_docs(spark, sf_dir).select(
        F.lit("escape").alias("kind"),
        F.col("doc_id").alias("k"),
        F.col("escaped").alias("html"),
    )
    meta = q_paper_meta_html_docs(spark, sf_dir).select(
        F.lit("meta").alias("kind"),
        F.col("doc_id").alias("k"),
        F.col("meta_html").alias("html"),
    )
    ref = q_reference_list_html_docs(spark, sf_dir).select(
        F.lit("reflist").alias("kind"), F.lit(0).cast("long").alias("k"), "html"
    )
    tbl = q_table_html_orders(spark, sf_dir).select(
        F.lit("table").alias("kind"), F.lit(0).cast("long").alias("k"), "html"
    )
    return esc.unionByName(meta).unionByName(ref).unionByName(tbl)


def q_mesh_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") >= 2)
    edges = part.select(
        F.col("p_partkey").cast("string").alias("src"),
        F.floor(F.col("p_partkey") / 2).cast("long").cast("string").alias("dst"),
    )
    out = graph.bfs_subgraph(edges, ["1"], max_depth=3, direction="in")
    return out.select(F.col("node").cast("long").alias("node"), "depth")


def q_orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination slice 100..120 via the head-page path: TakeOrderedAndProject
    on the full relation, window only over the ≤120 survivors."""
    orders = _t(spark, sf_dir, "orders")
    page = rel.ranked_slice(orders, "o_orderdate DESC, o_orderkey DESC", 100, 120)
    return page.select("o_orderkey", F.col("rank").alias("rn"))


def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 100_000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select("c_custkey")


def q_distinct_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, sup = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .union(sup.select(F.col("s_nationkey")))
        .distinct()
    )


def q_market_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, nat, reg = (_t(spark, sf_dir, x) for x in ("customer", "nation", "region"))
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("price"), "rn")
    )


# hand-derived per-annotator deduplicated triple counts of the FIXED
# 120-doc gate corpus, computed by the pure-Python reference-semantics
# oracle (tests.oracle.pipeline_annotator_counts(120) — mentions →
# extractors → canonical rewrite → dedup in plain Python), NOT by running
# the Spark engine; tests/test_checkpoint.py asserts oracle == pinned ==
# engine so drift on any side is visible
_KG_GATE_PINNED = [
    ("co_occurrence", 289),
    ("odds_ratio", 242),
    ("openie_ore", 289),
    ("rbert_cre", 22),
    ("spacy_ore", 289),
]


def q_kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content-addressed by the pipeline code fingerprint: a code change gets
    # a fresh dir (no stale-checkpoint reads), an unchanged rerun resumes
    out_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_kg_gate_{runner.CODE_FINGERPRINT[:12]}"
    )
    tables = runner.run_kg_pipeline(spark, out_dir, n_docs=120, resume=True)
    return (
        tables["triples"]
        .groupBy("annotator")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("annotator")
    )


def q_hgvsp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HGVSp parser gate over the reference's dispatch classes
    (HGVSp_parser.py:18-109). kind/ref/pos/alt are hand-derived from the
    reference dispatch (parens stripped, Ter→*, ext C-terminal carries the
    stop codon); the `text` column pins this engine's rendered prose
    (renderer drift stays visible at the gate, not only in
    tests/test_hgvsp.py — the reference renders different, fuller
    sentences, so text is OUR frozen output contract, not reference
    parity)."""
    df = spark.createDataFrame([(c,) for c, *_ in _HGVSP_PINNED], "hgvsp string")
    parsed = df.select("hgvsp", parse_hgvsp_col(F.col("hgvsp")).alias("p"))
    return parsed.select(
        "hgvsp", "p.kind", "p.ref_aa", "p.pos_start", "p.alt_aa", "p.text"
    )


# kind/ref/pos/alt hand-derived from the reference dispatch
# (HGVSp_parser.py:18-109) and the pytest expectation table
# (tests/test_hgvsp.py) — NOT generated by running the engine. The last
# element freezes the engine's rendered prose (verified piecewise by
# test_hgvsp): (raw, kind, ref_aa, pos_start, alt_aa, text)
_HGVSP_PINNED = [
    ("p.V600E", "substitution", "V", 600, "E",
     "substitution of V at the 600th residue by E"),
    ("p.Val600Glu", "substitution", "V", 600, "E",
     "substitution of V at the 600th residue by E"),
    ("p.(Arg97fs)", "fs", "R", 97, None,
     "frameshift at the 97th residue"),
    ("p.Met1ext-5", "ext", "M", 1, None,
     "N-terminal extension at the 1st residue with a new start at position -5"),
    ("p.Ter110GlnextTer17", "ext", "*", 110, "Q",
     "C-terminal extension at the 110th residue with a new stop 17 residues downstream"),
    ("p.Cys28delinsTrpVal", "delins", "C", 28, "WV",
     "deletion of the 28th residue with insertion of WV"),
    ("p.Lys23_Val25del", "del", "K", 23, None,
     "deletion of residues 23-25"),
    ("p.Gly4dup", "dup", "G", 4, None,
     "duplication of the 4th residue"),
    ("p.Lys2_Gly3insGlnSerLys", "ins", "K", 2, "QSK",
     "insertion of QSK between residues 2-3"),
    ("p.Trp26Ter", "substitution", "W", 26, "*",
     "substitution of W at the 26th residue by *"),
    ("p.=", "unknown", None, None, None, "p.="),
    ("garbage", "unknown", None, None, None, "garbage"),
]


def q_fuzzy_nen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ed = fixtures.entity_dict_df(spark)
    names = nen.fuzzy_names(ed, "p.v600e", min_similarity=0.7)
    return nen.ids_by_name(ed, names)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthetic_media(spark, 60)
    return multimodal.extract_features(media, fake=True).select(
        "media_id", "media_type", "n_bytes", "checksum"
    )


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe against the PERSISTED index (build_ann_index) so the
    measured plan is the partition-pruned one — `_sig IN (probe set)`
    reaches the scan as PartitionFilters, only probed buckets are read."""
    emb = _embeddings(spark, sf_dir)
    qvec = _query_vec(emb, 1)
    idx_path = _gate_index(
        sf_dir, "embeddings", "ann", "_SUCCESS", lambda d: similarity.build_ann_index(emb, d)
    )
    return similarity.ann_bucketed_top_k(spark.read.parquet(idx_path), qvec, top_k=10)


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned ANN (the second ANN scale path beside the LSH
    buckets): deterministic k-means coarse quantizer
    (ivf_train), inverted lists persisted partitionBy(_cent)
    (ivf_build), probe scans only the nprobe nearest lists via
    partition pruning (ivf_top_k). The gate probes ALL lists so the
    contract is exactness vs brute force; recall@nprobe<ALL and the
    pruning plan are pytest's job (tests/test_ops.py)."""
    emb = _embeddings(spark, sf_dir)
    qvec = _query_vec(emb, 2)

    def build(root: str) -> None:
        centroids = similarity.ivf_train(emb, n_centroids=8, n_iter=4)
        similarity.ivf_build(emb, os.path.join(root, "ivf"), centroids)
        with open(os.path.join(root, "_centroids.json"), "w") as f:
            json.dump(centroids, f)

    idx_root = _gate_index(sf_dir, "embeddings", "ivf", "_centroids.json", build)
    with open(os.path.join(idx_root, "_centroids.json")) as f:
        centroids = json.load(f)
    idx = spark.read.parquet(os.path.join(idx_root, "ivf"))
    return similarity.ivf_top_k(
        idx, qvec, centroids, top_k=10, nprobe=len(centroids)
    )


# ----- reference query and rendering gates -----------------------------------

def q_disease_gene_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5 blend (kb_utils.py:1983-1990 semantics: binarized db +
    uncapped normalized pk) over surrogate score tables from orders."""
    orders = _t(spark, sf_dir, "orders")
    # integer-valued doubles: sums are exact in binary, so the blend hashes
    # identically across engines regardless of aggregation order
    db = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderpriority").alias("disease"),
        (F.col("o_custkey") % 20).cast("string").alias("gene"),
        (F.col("o_custkey") % 7).cast("double").alias("score"),
    )
    pk = orders.filter(F.col("o_orderkey") % 3 == 1).select(
        F.col("o_orderpriority").alias("disease"),
        (F.col("o_custkey") % 20).cast("string").alias("gene"),
        ((F.col("o_custkey") % 11) * 250).cast("double").alias("score"),
    )
    out = kbq.disease_to_gene_scores(db, pk)
    return out.select("disease", "gene", "pair_score", "gene_score")


def q_journal_impact_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance filter + normalized broadcast join (kb_utils.py:1805-1830)."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    meta = sup.select(
        F.col("s_suppkey").alias("doc_id"),
        F.concat(F.lit("Journal & Rev. "), (F.col("s_suppkey") % 25).cast("string")).alias("journal"),
    )
    impact_raw = nat.select(
        F.concat(F.lit("journal and rev "), F.col("n_nationkey").cast("string")).alias("journal"),
        (F.lit(100)).cast("long").alias("articles"),
        F.concat((40 + F.col("n_nationkey") * 3).cast("string"), F.lit("%")).alias("match_ratio"),
        F.when(F.col("n_nationkey") % 4 == 0, F.lit("True")).otherwise(F.lit("False")).alias("match_substring"),
        F.lit("x").alias("match_journal"),
        F.round(F.col("n_nationkey") / 10.0, 3).cast("string").alias("match_impact"),
    )
    out = kbq.enrich_meta_with_impact(meta, kbq.journal_impact_map(impact_raw))
    return out.select("doc_id", "journal", "journal_impact")


def q_glof_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOF evidence rollup (server.py:1455-1523): per (key, direction,
    doc) sentence counts, docs ranked by evidence desc."""
    # the vocab filter runs map-side before the dropDuplicates shuffle, so
    # only vocabulary occurrences are shuffled. A fully map-side variant
    # (array_distinct over derived structs, removing the dropDuplicates
    # exchange too) was MEASURED slower (2.3-2.6 s vs 2.0-2.1 s at sf1.0):
    # the interpreted struct-building lambda costs more than the small
    # post-filter shuffle it saves.
    dt = _vocab_tokens(spark, sf_dir)
    glof = dt.select(
        F.lit("Token").alias("type"),
        F.col("tok").alias("key"),
        F.when(F.col("ord") % 2 == 0, F.lit("gof")).otherwise(F.lit("lof")).alias("direction"),
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.col("ord") % 7).cast("int").alias("sent_idx"),
    ).dropDuplicates()
    out = kbq.glof_rollup(glof)
    return out.select(
        "key", "direction",
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_sents", "rank",
    )


def _mesh_nodes_from_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-heap MeSH forest over part keys: parent(k)=k//2; every 7th
    node carries a supplemental record s<k> (which back-links via
    descriptor_list)."""
    part = _t(spark, sf_dir, "part").select(F.col("p_partkey").cast("long").alias("k"))
    n_max = part.agg(F.max("k")).first()[0]
    k = F.col("k")
    descriptors = part.select(
        k.cast("string").alias("mesh"),
        F.concat(F.lit("node "), k.cast("string")).alias("display_name"),
        F.when(k >= 2, F.array(F.floor(k / 2).cast("string"))).otherwise(
            F.array().cast("array<string>")
        ).alias("parent_list"),
        F.filter(
            F.array((k * 2).cast("string"), (k * 2 + 1).cast("string")),
            lambda c: c.cast("long") <= F.lit(n_max),
        ).alias("child_list"),
        F.when(k % 7 == 0, F.array(F.concat(F.lit("s"), k.cast("string")))).otherwise(
            F.array().cast("array<string>")
        ).alias("supplemental_list"),
        F.array().cast("array<string>").alias("descriptor_list"),
        F.lit(False).alias("is_supplemental"),
    )
    supplementals = part.filter(k % 7 == 0).select(
        F.concat(F.lit("s"), k.cast("string")).alias("mesh"),
        F.concat(F.lit("supp "), k.cast("string")).alias("display_name"),
        F.array().cast("array<string>").alias("parent_list"),
        F.array().cast("array<string>").alias("child_list"),
        F.array().cast("array<string>").alias("supplemental_list"),
        F.array(k.cast("string")).alias("descriptor_list"),
        F.lit(True).alias("is_supplemental"),
    )
    return descriptors.unionByName(supplementals)


def q_mesh_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled multi-phase MeSH traversal (kb_utils.py:2264-2352) from
    node 63: ancestors 31,15; child 126,127; sibling 62; supplemental s63."""
    nodes = _mesh_nodes_from_parts(spark, sf_dir)
    labeled, _edges = graph.mesh_subgraph(
        nodes, ["63"], super_level=2, sub_level=1, sibling_level=1, supplemental_level=1
    )
    return labeled.select("mesh", "display_name", "label", "is_supplemental")


def q_varsum_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity VarSum table_cleaning (VarSum_germline.py:55-277) over
    a customer-derived raw record table; checks the CDS parse, exon/intron
    classification, rank, ClinVar + consequence translations, MANE
    transcript indexing and numeric formatting value-for-value."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").cast("long").alias("k"))
    k = F.col("k")
    pos = (k % 500 + 1).cast("string")
    hgvsc_tail = (
        F.when(k % 7 == 0, F.concat(F.lit("c.*"), pos, F.lit("del")))
        .when(k % 7 == 1, F.concat(F.lit("c.-"), pos, F.lit("A>G")))
        .when(k % 7 == 2, F.concat(F.lit("c."), pos, F.lit("+2T>C")))
        .when(k % 7 == 3, F.concat(F.lit("c."), pos, F.lit("_"), (k % 500 + 3).cast("string"), F.lit("dup")))
        .otherwise(F.concat(F.lit("c."), pos, F.lit("A>G")))
    )
    raw = cust.select(
        k.alias("k"),
        F.when(k % 11 == 0, F.lit(".")).otherwise(F.concat(F.lit("GENE"), (k % 40).cast("string"))).alias("vep_gene_name"),
        F.when(k % 3 == 0, F.lit("1/1")).when(k % 3 == 1, F.lit("0/1")).otherwise(F.lit(".")).alias("format_gt"),
        F.when(k % 13 == 0, F.lit(".")).otherwise(F.concat(F.lit("NM_"), (k % 97).cast("string"), F.lit(".2:"), hgvsc_tail)).alias("vep_hgvsc"),
        F.when(k % 5 == 0, F.lit("missense_variant,intron_variant"))
        .when(k % 5 == 1, F.lit("stop_gained"))
        .when(k % 5 == 2, F.lit("."))
        .otherwise(F.lit("synonymous_variant")).alias("vep_consequence"),
        F.lit(".").alias("vep_hgvsp"),
        F.when(k % 4 == 0, F.lit(".")).otherwise(F.concat((k % 9 + 1).cast("string"), F.lit("/12"))).alias("vep_exon_intron_rank"),
        F.when(k % 6 == 0, F.lit("Pathogenic")).when(k % 6 == 1, F.lit("Likely_benign"))
        .when(k % 6 == 2, F.lit("Uncertain_significance")).otherwise(F.lit(".")).alias("clinvar_clnsig"),
        F.concat(F.lit("ENST"), (k % 50).cast("string"), F.lit(".3")).alias("vep_transcript_id"),
        F.lit(".").alias("annovar_transcript_id"),
        F.when(k % 8 == 0, F.lit(".")).otherwise(
            F.format_string("%.6f", (k % 1000).cast("double") / 100000.0)
        ).alias("gnomad_af_popmax"),
        F.lit(".").alias("taiwanbiobank_af"),
        F.when(k % 9 == 0, F.lit("ClinVar,DeafnessVD,HotspotDB"))
        .when(k % 9 == 1, F.lit("ClinVar,ClinVar"))
        .otherwise(F.lit(".")).alias("hotspot_dbs"),
        F.concat(F.lit("ENST"), (k % 25).cast("string"), F.lit(";ENST"), (k % 50).cast("string")).alias("ps_transcript_ids"),
        F.concat((k % 10).cast("string"), F.lit(";0.5")).alias("ps_sift"),
        F.lit(".").alias("ps_polyphen2"),
        F.lit(".").alias("ps_vest4"),
        F.lit(".").alias("ps_provean"),
        F.when(k % 2 == 0, F.format_string("%.1f", (k % 40).cast("double") / 2.0))
        .otherwise(F.lit(".")).alias("cadd_phred"),
        F.lit(".").alias("dann_score"),
        F.lit(".").alias("spliceai_ds_ag"),
        F.lit(".").alias("spliceai_ds_al"),
        F.lit(".").alias("spliceai_ds_dg"),
        F.lit(".").alias("spliceai_ds_dl"),
        F.format_string("%.2f", (k % 100).cast("double") / 100.0).alias("phylop100way_rank"),
    )
    cleaned = varsum.clean_varsum_table(raw.drop("k"))
    return cleaned.select(
        "gene_name", "genotype", "genotype_zhtw", "reference", "hgvsc",
        "cds_position", "exon_intron", "exon_or_intron_rank", "clinvar_record",
        "consequence", "transcriptid_mane", "transcriptid_index", "sift",
        "cadd_phred", "pathogenicity", "phylop100way", "conservation",
        "gnomad_freq", "hotspot",
    )


def q_qa_target_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QA target filter incl. the gene-prefix fallback + no-underscore
    quirk (kb_utils.py:2456-2483) over per-doc token-match arrays."""
    # every match-list is a set over the doc's tokens, so each is an
    # array_intersect / conditional-array expression over the map-only
    # token array — no explode + groupBy(doc_id) shuffle; qa_target_filter
    # only probes the arrays
    # with arrays_overlap/exists, so element order inside them is
    # irrelevant (sort kept for the sorted-list contract anyway).
    base = _doc_token_arrays(spark, sf_dir)
    has = lambda w: F.array_contains(F.col("_toks"), w)  # noqa: E731
    opt = lambda cond, val: F.when(cond, F.array(F.lit(val))).otherwise(  # noqa: E731
        F.array().cast("array<string>")
    )
    per_doc = base.filter(F.size("_toks") > 0).select(
        "doc_id",
        F.sort_array(
            F.array_intersect(F.col("_toks"), F.array(F.lit("spark"), F.lit("sort")))
        ).alias("d_name_matches"),
        F.array_intersect(F.col("_toks"), F.array(F.lit("join"))).alias(
            "g_name_matches"
        ),
        F.concat(opt(has("hash"), "hash_v1"), opt(has("merge"), "mergeX")).alias(
            "v_name_matches"
        ),
        F.sort_array(F.array_intersect(F.col("_toks"), _vocab_arr())).alias(
            "triplet_list"
        ),
    )
    out = retrieval.qa_target_filter(
        per_doc, d_set=["spark"], g_set=["hash", "merge"], v_set=["rsX"]
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"))


def q_embed_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic text→unit-vector embedding (F14 contract): signed
    feature hashing, L2-normalized; long format for the value gate."""
    docs = _t(spark, sf_dir, "documents")
    emb = similarity.embed_text(docs, dim=16)
    return emb.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("embedding").alias("bucket", "val"),
    ).select("doc_id", "bucket", F.round("val", 6).alias("val"))


def q_paper_text_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdbm point-lookup → broadcast probe (kb_utils.py:1188-1211); ids
    1..20 plus two absent ids come back as empty strings."""
    docs = _t(spark, sf_dir, "documents")
    store = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("T"), F.col("doc_id").cast("string")).alias("title"),
        F.substring(F.col("text"), 1, 40).alias("abstract"),
    )
    ids = [str(i) for i in range(1, 21)] + ["999991", "999992"]
    out = retrieval.fetch_paper_text(store, ids)
    return out.select("doc_id", "title", "abstract")


VKB_IDS = ["RS#:113488022", "HGVS:p.V600E", "HGVS:c.1799T>A", "MISSING:1"]
VKB_NAMES = ["rs113488022", "p.v600e", "c.1799t>a", "nope"]


def q_variant_in_kb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant in-KB membership probe (get_variant_in_kb,
    kb_utils.py:385-396) over the NEN dictionary: every (umbrella type,
    id, name) combination that exists in the store, with its frequency.
    Rank column encodes the reference's stable frequency-desc order."""
    ed = fixtures.entity_dict_df(spark)
    out = nen.variant_in_kb(ed, VKB_IDS, VKB_NAMES)
    w = W.orderBy(F.col("frequency").desc(), "type", "id", "name")
    return out.withColumn("rank", F.row_number().over(w)).select(
        "type", "id", "name", F.col("frequency").cast("long").alias("frequency"), "rank"
    )


def q_gvd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GVD score table with the reference's blended display columns
    (server.py:1696-1702): annotator pivot + sort_score (build blend,
    ordering/truncation key) + new_score (GDScore via get_string_score,
    f"{score/100:.2f}"), top-3 objects per subject."""
    annotators = ["paper", "sentence", "odds_ratio"]
    dt = _vocab_tokens(spark, sf_dir)
    keyed = dt.select(
        F.col("tok").alias("subj"),
        F.concat(F.lit("D"), (F.col("doc_id") % 7).cast("string")).alias("obj"),
        F.element_at(
            F.array(*[F.lit(a) for a in annotators]),
            (F.col("ord") % 3 + 1).cast("int"),
        ).alias("annotator"),
    )
    pair_stats = keyed.groupBy("subj", "obj", "annotator").agg(
        F.count(F.lit(1)).alias("support")
    )
    gd_scores = (
        pair_stats.select("subj", "obj")
        .distinct()
        .filter(F.substring("obj", 2, 1).cast("int") % 2 == 0)
        .withColumn(
            "score",
            (F.substring("obj", 2, 1).cast("int") * 13 + F.length("subj")).cast("int"),
        )
    )
    out = kbq.gvd_pivot(pair_stats, annotators, gd_scores=gd_scores, top_k=3)
    return out.select(
        "subj", "obj", *annotators, "sort_score", "new_score"
    )


def q_kg_extractor_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible slice of the M2 pipeline — the REAL
    ``extractors.extract_all`` (fused single-pass plan incl. mention_pairs
    self-join, pair contingency, candidate-struct explode) over a
    deterministic mention set derived from the documents table; the
    co_occurrence + odds_ratio branches are fully relational, so DuckDB
    re-derives them value-for-value (CRE/ORE payloads hash with xxhash64 /
    need the fixture corpus, and stay covered by pytest + the rows-only
    kg gate)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    dt = _vocab_tokens(spark, sf_dir).filter(F.col("doc_id") < 200)
    mentions = dt.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("sent_idx"),
        F.col("ord").cast("int").alias("mention_idx"),
        F.col("tok").alias("name"),
        F.lit("Gene").alias("type"),
        F.array(F.col("tok")).alias("ids"),
        F.col("ord").cast("int").alias("offset"),
        F.sha2(F.col("tok"), 256).alias("content_sha256"),
    )
    sentences = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("sent_idx"),
        F.col("text").alias("sentence"),
    )
    anns = extractors.extract_all(mentions, sentences)
    return (
        anns.filter(F.col("annotator").isin("co_occurrence", "odds_ratio"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "annotator",
            "h_name",
            "t_name",
            F.col("or_value").try_cast("double").alias("or_value_d"),
            F.round("score", 2).alias("score"),
        )
    )


def q_html_escape_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (html.escape parity, kb_utils.py:1834-1868 et al.): wrap a
    documents slice in markup-hostile text and escape it JVM-side."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)
    nasty = F.concat(
        F.lit('<b href="'), F.col("source"), F.lit('">'),
        F.substring("text", 1, 40), F.lit(" & 'tail'"),
    )
    return d.select("doc_id", htmlrender.html_escape(nasty).alias("escaped"))


def q_paper_meta_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 (paper-meta render, kb_utils.get_paper_meta_html
    kb_utils.py:1834-1868): synthesize the meta fields deterministically
    from documents — covering the dot-termination rule, empty year/doi,
    per-element publication-type escaping — and render the full line."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 == 0)
    did = F.col("doc_id")
    pmid = did.cast("string")
    title = F.substring("text", 1, 30)
    year = F.when(did % 3 == 0, F.lit("")).otherwise(
        (F.lit(1990) + did % 30).cast("string")
    )
    journal = F.when(did % 4 == 0, F.lit('J. "X" & <Y>')).otherwise(F.col("source"))
    doi = F.when(did % 2 == 0, F.concat(F.lit("10.1000/"), F.col("source"))).otherwise(
        F.lit("")
    )
    pts = (
        F.when(did % 3 == 0, F.array(F.lit("Review"), F.lit("Meta <1>")))
        .when(did % 3 == 1, F.array(F.lit("Trial")))
        .otherwise(F.array().cast("array<string>"))
    )
    citation = (did % 100).cast("string")
    return d.select(
        "doc_id",
        htmlrender.paper_meta_html(
            pmid, title, year, journal, doi, pts, citation
        ).alias("meta_html"),
    )


def q_reference_list_html_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 (QA reference list, kb_utils.py:1362-1376 is_html=True): one
    page of documents rendered to the single References string."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 23 == 0)
    page = d.select(
        F.col("doc_id").alias("o"),
        F.col("doc_id").cast("string").alias("pmid"),
        F.concat(F.lit('"'), F.substring("text", 1, 25), F.lit('" & <more>')).alias(
            "title"
        ),
    )
    return htmlrender.reference_list_html(page, order_by="o")


def q_table_html_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 (<table> sink, server.py:962-1105 shell): top-5 orders page
    rendered with the reference's width-styled header row."""
    o = _t(spark, sf_dir, "orders").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    ).limit(5)
    page = o.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    return htmlrender.table_html(
        page,
        ["orderkey", "priority", "total_cents"],
        widths=["20%", "50%", "30%"],
        order_by="orderkey",
    )


def q_litvar_parse_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (LitVar autocomplete parse, kb_utils.py:219-250): synthesize
    raw autocomplete results deterministically from documents — optional
    rsid/hgvs/gene, five match shapes incl. the reference's degenerate
    find()==-1 slices — then run the engine's columnar parse."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    did = F.col("doc_id")
    name = F.split(F.lower(F.col("text")), r"\s+").getItem(0)
    raw = d.select(
        "doc_id",
        F.when(did % 3 == 0, F.concat(F.lit("rs"), did.cast("string"))).alias("rsid"),
        F.when(
            did % 4 == 1, F.concat(F.lit("c."), (did % 97).cast("string"), F.lit("G>A"))
        ).alias("hgvs"),
        name.alias("name"),
        (
            F.when(did % 5 == 0, F.concat(F.lit("<m>"), name, F.lit("</m> rest")))
            .when(did % 5 == 1, F.concat(F.lit("pre <m>"), name, F.lit("x</m>")))
            .when(did % 5 == 2, F.concat(F.lit("no markers "), name))
            .when(did % 5 == 3, F.concat(F.lit("ab<m>"), name))
            .otherwise(F.lit(None).cast("string"))
        ).alias("match"),
        F.when(did % 2 == 0, F.array(F.upper(name))).alias("gene"),
    )
    parsed = litvar.parse_litvar(raw)
    return parsed.select(
        "doc_id",
        F.array_join("id_list", "|").alias("ids"),
        F.array_join("name_list", "|").alias("names"),
        F.array_join("gene_list", "|").alias("genes"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the gate check reads at most the first 50, so
    same-family gates are merged (see the merged gates above). The order
    is part of the contract: the vector, NEN, rendering and pinned-value
    gates come first."""
    return {
        "ann_cosine_lsh": q_ann_cosine_lsh,
        "cosine_topk_methods": q_cosine_topk_methods,  # brute + IVF full-probe
        "fuzzy_nen": q_fuzzy_nen,
        "html_render_all": q_html_render_all,  # F7 escape + S10 meta/reflist/table
        "litvar_parse_docs": q_litvar_parse_docs,
        # pinned-VALUES oracles (expected rows derived from Python oracles /
        # the reference dispatch, NOT from running the engine): the full
        # pipeline's per-annotator counts (_KG_GATE_PINNED ←
        # tests.oracle.pipeline_annotator_counts) and the HGVSp structured
        # fields (_HGVSP_PINNED ← HGVSp_parser.py:18-109); HGVSp prose
        # rendering stays covered by tests/test_hgvsp.py
        "kg_pipeline_triples": q_kg_pipeline_triples,
        "hgvsp_parse": q_hgvsp_parse,
        "spec_and_or": q_spec_and_or,
        "spec_pair": q_spec_pair,
        "rel_relevance_page": q_rel_relevance_page,
        "tpch_pricing_summary": q_tpch_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "supplier_rank_per_nation": q_supplier_rank_per_nation,
        "rrf_fusion_orders": q_rrf_fusion_orders,
        "two_hop_pairs": q_two_hop_pairs,
        "freq_cutoff_brands": q_freq_cutoff_brands,
        "json_extract_events": q_json_extract_events,
        "event_type_stats": q_event_type_stats,
        "pivot_event_matrix": q_pivot_event_matrix,
        "hourly_event_windows": q_hourly_event_windows,
        "sessionize_users": q_sessionize_users,
        "user_sessions": q_user_sessions,
        "cooccurrence_tokens": q_cooccurrence_tokens,
        "odds_ratio_pairs": q_odds_ratio_pairs,
        "exact_dedup_docs": q_exact_dedup_docs,
        "doc_signatures": q_doc_signatures,  # minhash + simhash
        "lsh_near_dup_pairs": q_lsh_near_dup_pairs,
        "lsh_star_hot": q_lsh_star_hot,  # star fallback + hot buckets
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "bm25_docs": q_bm25_docs,
        "textstats_docs": q_textstats_docs,  # lang/quality/tokens/fingerprint
        "mesh_bfs": q_mesh_bfs,
        "orders_page": q_orders_page,
        "anti_semi_customers": q_anti_semi_customers,
        "distinct_union_nations": q_distinct_union_nations,
        "market_join": q_market_join,
        "top_parts_per_brand": q_top_parts_per_brand,
        "disease_gene_blend": q_disease_gene_blend,
        "journal_impact_meta": q_journal_impact_meta,
        "glof_rollup": q_glof_rollup,
        "mesh_subgraph": q_mesh_subgraph,
        "varsum_clean": q_varsum_clean,
        "qa_target_filter": q_qa_target_filter,
        "paper_text_fetch": q_paper_text_fetch,
        "embed_text_docs": q_embed_text_docs,
        "kg_extractor_slice": q_kg_extractor_slice,
        "gvd_stats": q_gvd_stats,
        "variant_in_kb": q_variant_in_kb,
        "multimodal_features": q_multimodal_features,
    }


# the public gate surface that __spark_entry__.py re-exports: bench.py and
# the plan-shape table resolve constituent gates by getattr(E, f"q_{name}")
__all__ = ["queries", *sorted(n for n in globals() if n.startswith("q_"))]
