"""DuckDB oracles: ``oracle_sql()`` gives one SQL twin per gate builder.

Each statement recomputes its gate from the same parquet tables (views
named after the tables) without the engine, so a gate is checked against
an independent derivation. Keys cover every ``queries()`` entry and every
constituent builder of a merged gate.
"""

from __future__ import annotations

from pubmedkb_web_spark import fixtures
from pubmedkb_web_spark.functions import htmlrender
from pubmedkb_web_spark.functions.hashing import MERSENNE31 as M31, affine_params, md5_int60_sql
from pubmedkb_web_spark.ops import textstats

from .builders import _HGVSP_PINNED, _KG_GATE_PINNED, VKB_IDS, VKB_NAMES, VOCAB

TOKS_SQL = "string_split_regex(lower(text), '\\s+')"

_HT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok,
         generate_subscripts({TOKS_SQL}, 1) AS ord,
         len({TOKS_SQL}) AS dl
  FROM documents
)"""


def _minhash_corpus_sql(corpus_sql: str, terms: str) -> str:
    """Shared shingle→minhash CTE chain over an arbitrary (doc_id, text)
    corpus subquery — used by the documents-slice gates and the derived
    hot-bucket corpus gate."""
    mins = ",\n    ".join(
        f"min((h * {affine_params(i)[0]} + {affine_params(i)[1]}) % {M31}) AS mh{i}"
        for i in range(8)
    )
    return f"""
WITH corpus AS ({corpus_sql}),
toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok, generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM corpus
),
sh AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
),
h AS (SELECT doc_id, {md5_int60_sql('shingle')} % {M31} AS h FROM sh),
m AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id)
{terms}"""


def _minhash_sql(limit: int, terms: str) -> str:
    return _minhash_corpus_sql(
        f"SELECT doc_id, text FROM documents WHERE doc_id < {limit}", terms
    )


# derived corpus with guaranteed hot buckets (see _hot_lsh_signatures): every
# 5th doc of doc_id<20 replicated x12 (> cap 8), the rest x3
_HOT_CORPUS_SQL = """
SELECT d.doc_id * 100 + r.range AS doc_id, d.text
FROM documents d, range(12) r
WHERE d.doc_id < 20
  AND r.range < (CASE WHEN d.doc_id % 5 = 0 THEN 12 ELSE 3 END)
"""


def oracle_sql() -> dict[str, str]:
    vocab_in = ", ".join(f"'{v}'" for v in VOCAB)
    has_tok = (
        "SELECT DISTINCT doc_id FROM toks WHERE tok = '{t}'"
    )
    lang_cases = []
    for lang, words in sorted(textstats.LANG_PROFILES.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        lang_cases.append((lang, inlist))

    sql: dict[str, str] = {}

    sql["spec_and_or"] = f"""
{_HT_SQL}
SELECT doc_id FROM ({has_tok.format(t='spark')})
INTERSECT
(SELECT doc_id FROM ({has_tok.format(t='join')}) UNION SELECT doc_id FROM ({has_tok.format(t='merge')}))
"""

    sql["spec_pair"] = f"""
{_HT_SQL},
roles AS (
  SELECT DISTINCT doc_id, tok,
         CASE WHEN ord * 2 <= dl THEN 'head' ELSE 'tail' END AS role
  FROM toks WHERE tok IN ({vocab_in})
)
SELECT doc_id FROM roles WHERE tok='spark' AND role='head'
  AND doc_id IN (SELECT doc_id FROM roles WHERE tok='join' AND role='tail')
UNION
SELECT doc_id FROM roles WHERE tok='join' AND role='head'
  AND doc_id IN (SELECT doc_id FROM roles WHERE tok='spark' AND role='tail')
"""

    sql["rel_relevance_page"] = f"""
{_HT_SQL},
tf AS (
  SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM toks
  WHERE tok IN ('spark', 'join', 'merge') GROUP BY doc_id, tok
),
rel AS (SELECT doc_id, round(sum(tf), 6) AS relevance FROM tf GROUP BY doc_id),
ranked AS (
  -- reference tie-break: int(pmid) DESC (server.py:875); non-numeric ids
  -- fall back to string order
  SELECT doc_id, relevance,
         row_number() OVER (
           ORDER BY relevance DESC,
                    TRY_CAST(doc_id AS BIGINT) DESC NULLS LAST,
                    CAST(doc_id AS VARCHAR) DESC
         ) AS rank
  FROM rel
)
SELECT doc_id, relevance, rank::INT AS rank FROM ranked WHERE rank <= 20
"""

    sql["tpch_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount)::DOUBLE, 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["top_revenue_orders"] = """
WITH rev AS (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey AS orderkey, revenue, o_orderpriority
FROM rev JOIN orders ON l_orderkey = o_orderkey
ORDER BY revenue DESC, orderkey ASC LIMIT 20
"""

    sql["supplier_rank_per_nation"] = """
SELECT s_nationkey, s_suppkey, round(s_acctbal, 2) AS acctbal, rn FROM (
  SELECT s_nationkey, s_suppkey, s_acctbal,
         row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)::INT AS rn
  FROM supplier
) WHERE rn <= 2
"""

    sql["rrf_fusion_orders"] = """
-- each side is depth-capped at 10000 before fusion (the engine ranks
-- bounded lists only, like the reference's BM25 top-10000, kb_utils.py:997)
WITH a AS (
  SELECT o_orderkey, rank_a FROM (
    SELECT o_orderkey, row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)::INT AS rank_a
    FROM orders
  ) WHERE rank_a <= 10000
),
b AS (
  SELECT o_orderkey, rank_b FROM (
    SELECT o_orderkey, row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC)::INT AS rank_b
    FROM orders
  ) WHERE rank_b <= 10000
),
f AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey, rank_a, rank_b,
         round(coalesce(1.0 / (rank_a + 61), 0) + coalesce(1.0 / (rank_b + 61), 0), 8) AS rrf
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT * FROM f ORDER BY rrf DESC, o_orderkey ASC LIMIT 100
"""

    sql["two_hop_pairs"] = """
SELECT n_name, count(*) AS n_pairs
FROM customer JOIN supplier ON c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

    sql["freq_cutoff_brands"] = """
WITH c AS (SELECT p_brand, count(*) AS cnt FROM part GROUP BY p_brand)
SELECT p_brand, cnt, max(cnt) OVER () AS max_cnt FROM c
QUALIFY cnt >= 0.5 * max(cnt) OVER ()
"""

    sql["json_extract_events"] = """
SELECT (json_extract_string(props, '$.k')::BIGINT) % 10 AS k_mod, count(*) AS n
FROM events GROUP BY 1
"""

    sql["event_type_stats"] = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

    sql["pivot_event_matrix"] = """
SELECT user_id,
       sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)::BIGINT AS click,
       sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END)::BIGINT AS error,
       sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
       sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
       sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)::BIGINT AS view
FROM events GROUP BY user_id
"""

    sql["hourly_event_windows"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 4) AS value_sum
FROM events GROUP BY 1, 2
"""

    sql["sessionize_users"] = """
WITH g AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id,
       sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""

    # floor-consistent epoch seconds on both sides: Spark cast(ts as long)
    # floors; DuckDB epoch_ms // 1000 floors; epoch() would keep fractions
    sql["user_sessions"] = """
WITH e AS (
  SELECT user_id, event_id, ts, epoch_ms(ts) // 1000 AS ep FROM events
),
g AS (
  SELECT *,
         CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 1800
              THEN 1 ELSE 0 END AS nw
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id, min(ep) AS session_start, max(ep) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sess
"""

    sql["cooccurrence_tokens"] = f"""
{_HT_SQL},
dt AS (SELECT DISTINCT doc_id, tok FROM toks WHERE tok IN ({vocab_in}))
SELECT a.tok AS n1, b.tok AS n2, count(*) AS support
FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
GROUP BY 1, 2
"""

    sql["odds_ratio_pairs"] = f"""
{_HT_SQL},
dt AS (SELECT DISTINCT doc_id, tok FROM toks WHERE tok IN ({vocab_in})),
nc AS (SELECT tok, count(*) AS nc FROM dt GROUP BY tok),
tot AS (SELECT count(*) AS n FROM documents),
pa AS (
  SELECT a.tok AS n1, b.tok AS n2, count(*) AS a
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2
),
cont AS (
  SELECT n1, n2, a, c1.nc - a AS b, c2.nc - a AS c,
         (SELECT n FROM tot) - a - (c1.nc - a) - (c2.nc - a) AS d
  FROM pa JOIN nc c1 ON pa.n1 = c1.tok JOIN nc c2 ON pa.n2 = c2.tok
)
SELECT n1, n2, a, b, c, d,
  round(exp(ln(((a+0.5)*(d+0.5))/((b+0.5)*(c+0.5)))), 4) AS odds_ratio,
  round(exp(ln(((a+0.5)*(d+0.5))/((b+0.5)*(c+0.5)))
        - 1.96*sqrt(1/(a+0.5)+1/(b+0.5)+1/(c+0.5)+1/(d+0.5))), 4) AS ci_low,
  round(exp(ln(((a+0.5)*(d+0.5))/((b+0.5)*(c+0.5)))
        + 1.96*sqrt(1/(a+0.5)+1/(b+0.5)+1/(c+0.5)+1/(d+0.5))), 4) AS ci_high
FROM cont
"""

    sql["exact_dedup_docs"] = """
SELECT sha256(text) AS content_hash, min(doc_id) AS canonical_id, count(*) AS n_docs
FROM documents GROUP BY 1
"""

    unpivot = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS hash_idx, mh{i} AS minhash FROM m" for i in range(8)
    )
    sql["minhash_signatures"] = _minhash_sql(100, unpivot)

    band_joins = " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM m a JOIN m b "
        f"ON a.mh{2*i} = b.mh{2*i} AND a.mh{2*i+1} = b.mh{2*i+1} AND a.doc_id < b.doc_id"
        for i in range(4)
    )
    sql["lsh_near_dup_pairs"] = _minhash_sql(
        300,
        f""",
cand AS ({band_joins}),
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c JOIN sh x ON x.doc_id = c.doc_a JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(n_inter::DOUBLE / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
FROM inter i JOIN sz za ON za.doc_id = i.doc_a JOIN sz zb ON zb.doc_id = i.doc_b
""",
    )

    # star-fallback gate: per band, buckets of size <= 8 contribute the
    # full clique, buckets > 8 contribute (min-id rep, member) star edges
    # only — the exact semantics of lsh_candidate_pairs(max_bucket_size=8)
    star_terms = []
    for i in range(4):
        k1, k2 = f"mh{2 * i}", f"mh{2 * i + 1}"
        star_terms.append(f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM m a
JOIN m b ON a.{k1} = b.{k1} AND a.{k2} = b.{k2} AND a.doc_id < b.doc_id
JOIN (SELECT {k1} AS k1, {k2} AS k2, count(*) AS n FROM m GROUP BY 1, 2) z
  ON z.k1 = a.{k1} AND z.k2 = a.{k2}
WHERE z.n <= 8
UNION
SELECT z.rep AS doc_a, mm.doc_id AS doc_b
FROM m mm
JOIN (SELECT {k1} AS k1, {k2} AS k2, count(*) AS n, min(doc_id) AS rep
      FROM m GROUP BY 1, 2) z
  ON z.k1 = mm.{k1} AND z.k2 = mm.{k2}
WHERE z.n > 8 AND mm.doc_id <> z.rep""")
    sql["lsh_star_fallback_pairs"] = _minhash_corpus_sql(
        _HOT_CORPUS_SQL, "\nUNION\n".join(star_terms)
    )

    hot_terms = " UNION ALL ".join(
        f"SELECT {i} AS band_idx, "
        f"mh{2 * i}::VARCHAR || '_' || mh{2 * i + 1}::VARCHAR AS band_key, "
        f"count(*) AS bucket_size "
        f"FROM m GROUP BY mh{2 * i}, mh{2 * i + 1} HAVING count(*) > 8"
        for i in range(4)
    )
    sql["lsh_hot_buckets"] = _minhash_corpus_sql(_HOT_CORPUS_SQL, hot_terms)

    # ---- ngram_jaccard_pairs: exact |A∩B|/|A∪B| over every pair sharing
    # >= 1 shingle — candidate generation and verify both in plain SQL
    sql["ngram_jaccard_pairs"] = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok, generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM corpus
),
sh AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.ord = a.ord + 2
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter::DOUBLE / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sz za ON za.doc_id = i.doc_a
JOIN sz zb ON zb.doc_id = i.doc_b
"""

    sql["simhash_docs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents WHERE doc_id < 200
),
h AS (SELECT doc_id, {md5_int60_sql('tok')} AS h FROM toks),
bits AS (
  SELECT doc_id, b, sum(((h >> b) % 2) * 2 - 1) AS s
  FROM h, (SELECT unnest(range(16)) AS b) GROUP BY doc_id, b
)
SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""

    sql["cosine_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)), 6) AS cos_sim
FROM embeddings
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

    # IVF with nprobe = ALL lists is exhaustive by construction, so the
    # oracle is plain brute force — centroid floating-point parity is
    # deliberately NOT part of the gate contract (pruning/recall are
    # pytest-covered)
    sql["ivf_cosine_topk"] = """
WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 2)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT e FROM q)), 6) AS cos_sim
FROM embeddings
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

    sql["bm25_docs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok, len({TOKS_SQL}) AS dl FROM documents
),
tp AS (SELECT tok, doc_id, dl, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
stats AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT avg(dl) FROM (SELECT DISTINCT doc_id, dl FROM tp))::DOUBLE AS avgdl
),
hits AS (SELECT * FROM tp WHERE tok IN ('spark', 'join', 'window')),
dfc AS (SELECT tok, count(DISTINCT doc_id) AS df FROM hits GROUP BY tok)
SELECT h.doc_id,
       round(sum(
         ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
         * (h.tf * 2.5) / (h.tf + 1.5 * (1 - 0.75 + 0.75 * h.dl / s.avgdl))
       ), 6) AS bm25
FROM hits h JOIN dfc d ON h.tok = d.tok CROSS JOIN stats s
GROUP BY h.doc_id
"""

    hit_sums = ",\n       ".join(
        f"sum(CASE WHEN tok IN ({inlist}) THEN 1 ELSE 0 END) AS h_{lang}"
        for lang, inlist in lang_cases
    )
    argmax = (
        "CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und' "
        "WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de' "
        "WHEN h_en >= h_es AND h_en >= h_fr THEN 'en' "
        "WHEN h_es >= h_fr THEN 'es' ELSE 'fr' END"
    )
    sql["lang_id_docs"] = f"""
{_HT_SQL},
hits AS (SELECT doc_id, {hit_sums} FROM toks GROUP BY doc_id)
SELECT doc_id, {argmax} AS pred_lang, greatest(h_de, h_en, h_es, h_fr)::BIGINT AS lang_hits
FROM hits
"""

    stop_in = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    sql["quality_scores"] = f"""
{_HT_SQL},
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens,
         sum(CASE WHEN tok IN ({stop_in}) THEN 1 ELSE 0 END)::BIGINT AS n_stop
  FROM toks GROUP BY doc_id
),
base AS (
  SELECT d.doc_id, a.n_tokens,
         length(d.text)::BIGINT AS n_chars,
         (length(d.text) - length(regexp_replace(d.text, '[^\\w\\s]', '', 'g')))::BIGINT AS n_punct,
         a.n_stop
  FROM documents d JOIN agg a ON d.doc_id = a.doc_id
),
feat AS (
  SELECT doc_id, n_tokens,
         round(n_chars::DOUBLE / greatest(n_tokens, 1), 6) AS avg_token_len,
         round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
         round(n_stop::DOUBLE / greatest(n_tokens, 1), 6) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.4
             + (1 - least(punct_ratio * 5, 1.0)) * 0.3
             + least(stopword_ratio * 4, 1.0) * 0.3, 6) AS quality
FROM feat
"""

    sql["token_counts"] = f"""
SELECT doc_id, len({TOKS_SQL})::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '{textstats.BPE_ISH_PATTERN}'))::BIGINT AS bpe_tokens
FROM documents
"""

    sql["fingerprint_docs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok, generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM documents
)
SELECT doc_id, (sum(({md5_int60_sql('tok')} % {M31}) * ord) % {M31})::BIGINT AS fingerprint
FROM toks WHERE ord <= 64 GROUP BY doc_id
"""

    # Gopher-style repetition signals; FILTERED tokens (len>0) like the
    # Spark side's _tokens, lines split on literal \n
    ftoks = f"list_filter({TOKS_SQL}, t -> len(t) > 0)"

    def _gram_cte(n: int) -> str:
        return f"""
g{n} AS (
  SELECT doc_id, unnest(
    CASE WHEN len(tks) >= {n}
         THEN list_transform(generate_series(1, len(tks) - {n - 1}),
                             i -> array_to_string(tks[i:i+{n - 1}], ' '))
         ELSE []::VARCHAR[] END) AS gram
  FROM tk),
c{n} AS (SELECT doc_id, gram, count(*) AS cnt FROM g{n} GROUP BY doc_id, gram),
t{n} AS (
  SELECT doc_id, gram, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
  FROM c{n})"""

    sql["repetition_docs"] = f"""
WITH tk AS (
  SELECT doc_id, length(text)::BIGINT AS n_chars,
         list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS lns,
         {ftoks} AS tks
  FROM documents
),
lo AS (SELECT doc_id, unnest(lns) AS line FROM tk),
lc AS (SELECT doc_id, line, count(*) AS cnt FROM lo GROUP BY doc_id, line),
lstat AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_lines,
         round(1.0 - count(*)::DOUBLE / sum(cnt), 6) AS dup_line_frac,
         round((sum(cnt * length(line)) - sum(length(line)))::DOUBLE
               / greatest(sum(cnt * length(line)), 1), 6) AS dup_line_char_frac
  FROM lc GROUP BY doc_id
),{_gram_cte(2)},{_gram_cte(3)}
SELECT l.doc_id, l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
       coalesce(t2.gram, '') AS top_2gram,
       round(coalesce(t2.cnt * length(t2.gram)::DOUBLE
                      / greatest(k.n_chars, 1), 0.0), 6) AS top_2gram_frac,
       coalesce(t3.gram, '') AS top_3gram,
       round(coalesce(t3.cnt * length(t3.gram)::DOUBLE
                      / greatest(k.n_chars, 1), 0.0), 6) AS top_3gram_frac
FROM lstat l
JOIN tk k ON l.doc_id = k.doc_id
LEFT JOIN t2 ON l.doc_id = t2.doc_id AND t2.rn = 1
LEFT JOIN t3 ON l.doc_id = t3.doc_id AND t3.rn = 1
"""

    # Gopher rule-based filters (ops/textstats.py gopher_filters): published
    # thresholds; booleans computed on the ROUNDED measures exactly like the
    # Spark side so boundary values are engine-portable
    sql["gopher_filters"] = f"""
WITH tk AS (
  SELECT doc_id, text,
         {ftoks} AS tks,
         list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lns
  FROM documents
),
meas AS (
  SELECT doc_id,
         len(tks)::BIGINT AS word_count,
         round(coalesce(list_sum(list_transform(tks, t -> len(t))), 0)::DOUBLE
               / greatest(len(tks), 1), 6) AS mean_word_len,
         round(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3.0)
               / greatest(len(tks), 1), 6) AS symbol_word_ratio,
         round(len(list_filter(lns, l -> regexp_matches(l, '^\\s*[-*•]')))::DOUBLE
               / greatest(len(lns), 1), 6) AS bullet_line_frac,
         round(len(list_filter(lns, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE
               / greatest(len(lns), 1), 6) AS ellipsis_line_frac,
         round(len(list_filter(tks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
               / greatest(len(tks), 1), 6) AS alpha_word_frac,
         len(list_filter(tks, t -> t IN ({stop_in})))::BIGINT AS n_stopwords
  FROM tk
)
SELECT *,
       (word_count >= 50 AND word_count <= 100000) AS pass_word_count,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_mean_word_len,
       (symbol_word_ratio <= 0.1) AS pass_symbol_ratio,
       (bullet_line_frac <= 0.9) AS pass_bullet_lines,
       (ellipsis_line_frac <= 0.3) AS pass_ellipsis_lines,
       (alpha_word_frac >= 0.8) AS pass_alpha_words,
       (n_stopwords >= 2) AS pass_stopwords,
       ((word_count >= 50 AND word_count <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND (symbol_word_ratio <= 0.1)
        AND (bullet_line_frac <= 0.9)
        AND (ellipsis_line_frac <= 0.3)
        AND (alpha_word_frac >= 0.8)
        AND (n_stopwords >= 2)) AS gopher_keep
FROM meas
"""

    # PII scrub (ops/textstats.py pii_scrub): sequential order-defined
    # replacement — email, then IPv4 on the email-redacted text, then
    # phone on the IP-redacted text (regexes are in the Java∩RE2 subset)
    sql["pii_scrub"] = """
WITH s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM documents
),
s2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ipv4,
         regexp_replace(t1, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_ipv4,
       len(regexp_extract_all(t2, '\\+?\\d[\\d()\\-.]{5,}\\d'))::BIGINT AS n_phones,
       (n_emails + n_ipv4
        + len(regexp_extract_all(t2, '\\+?\\d[\\d()\\-.]{5,}\\d')))::BIGINT AS pii_total,
       regexp_replace(t2, '\\+?\\d[\\d()\\-.]{5,}\\d', '[PHONE]', 'g') AS pii_redacted
FROM s2
"""

    # C4 line filters (ops/textstats.py c4_line_filters): line kept iff
    # trimmed line ends in terminal punct, has >=3 whitespace words, and
    # lacks 'javascript'; page keep needs >=5 sentence marks in the kept
    # text and no lorem-ipsum / '{' / blocklist word in the raw text
    badpat = r"\b(" + "|".join(textstats.C4_BADWORDS) + r")\b"
    sql["c4_line_filters"] = f"""
WITH lns AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                     l -> len(l) > 0) AS lines
  FROM documents
),
kept AS (
  SELECT doc_id, text, lines,
         -- array_to_string is NULL (not '') on an empty list; Spark's
         -- concat_ws yields '' — coalesce for parity
         coalesce(array_to_string(
           list_filter(lines, l ->
             regexp_matches(l, '[.!?"]$')
             AND len(list_filter(string_split_regex(l, '\\s+'), t -> len(t) > 0)) >= 3
             AND NOT contains(lower(l), 'javascript')),
           chr(10)), '') AS clean_text
  FROM lns
)
SELECT doc_id,
       len(lines)::BIGINT AS c4_n_lines,
       CASE WHEN clean_text = '' THEN 0
            ELSE len(string_split(clean_text, chr(10))) END::BIGINT AS c4_kept_lines,
       round(length(clean_text)::DOUBLE / greatest(length(text), 1), 6) AS c4_kept_char_frac,
       len(regexp_extract_all(clean_text, '[.!?]'))::BIGINT AS c4_n_sentences,
       contains(lower(text), 'lorem ipsum') AS c4_has_lorem,
       contains(text, '{{') AS c4_has_brace,
       regexp_matches(lower(text), '{badpat}') AS c4_has_badword,
       (len(regexp_extract_all(clean_text, '[.!?]')) >= 5
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{')
        AND NOT regexp_matches(lower(text), '{badpat}')) AS c4_keep,
       clean_text AS c4_clean_text
FROM kept
"""

    sql["mesh_bfs"] = """
SELECT 1::BIGINT AS node, 0 AS depth
UNION ALL SELECT p_partkey, 1 FROM part WHERE p_partkey BETWEEN 2 AND 3
UNION ALL SELECT p_partkey, 2 FROM part WHERE p_partkey BETWEEN 4 AND 7
UNION ALL SELECT p_partkey, 3 FROM part WHERE p_partkey BETWEEN 8 AND 15
"""

    sql["orders_page"] = """
SELECT o_orderkey, rn FROM (
  SELECT o_orderkey,
         row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC)::INT AS rn
  FROM orders
) WHERE rn > 100 AND rn <= 120
"""

    sql["anti_join_customers"] = """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

    sql["semi_join_customers"] = """
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
"""

    sql["distinct_union_nations"] = """
SELECT DISTINCT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL SELECT s_nationkey FROM supplier
)
"""

    sql["market_join"] = """
SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

    sql["top_parts_per_brand"] = """
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price, rn FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC)::INT AS rn
  FROM part
) WHERE rn <= 3
"""

    sql["disease_gene_blend"] = """
WITH db AS (
  SELECT o_orderpriority AS disease, CAST(o_custkey % 20 AS VARCHAR) AS gene,
         sum((o_custkey % 7)::DOUBLE) AS db
  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1, 2
),
pk AS (
  SELECT o_orderpriority AS disease, CAST(o_custkey % 20 AS VARCHAR) AS gene,
         sum(((o_custkey % 11) * 250)::DOUBLE) AS pk
  FROM orders WHERE o_orderkey % 3 = 1 GROUP BY 1, 2
),
bo AS (
  SELECT coalesce(db.disease, pk.disease) AS disease,
         coalesce(db.gene, pk.gene) AS gene,
         coalesce(db.db, 0) AS db, coalesce(pk.pk, 0) AS pk
  FROM db FULL OUTER JOIN pk ON db.disease = pk.disease AND db.gene = pk.gene
),
blended AS (
  SELECT disease, gene,
         -- reference blend (kb_utils.py:1983-1990): binarized db, UNCAPPED pk
         round(CASE WHEN db > 0 THEN 100.0 ELSE 0.0 END + 100.0 * pk / 10000.0, 6) AS pair_score
  FROM bo
)
SELECT disease, gene, pair_score,
       round(max(pair_score) OVER (PARTITION BY gene), 6) AS gene_score
FROM blended
"""

    sql["journal_impact_meta"] = """
WITH meta AS (
  SELECT s_suppkey AS doc_id,
         'Journal & Rev. ' || CAST(s_suppkey % 25 AS VARCHAR) AS journal
  FROM supplier
),
imp AS (
  SELECT 'journal and rev ' || CAST(n_nationkey AS VARCHAR) AS journal,
         CAST(round(n_nationkey / 10.0, 3) AS VARCHAR) AS journal_impact
  FROM nation
  WHERE (40 + n_nationkey * 3) >= 70 OR n_nationkey % 4 = 0
)
SELECT doc_id, meta.journal, imp.journal_impact
FROM meta LEFT JOIN imp
  ON trim(regexp_replace(
       regexp_replace(replace(lower(meta.journal), '&', ' and '), '[^0-9a-z]+', ' ', 'g'),
       ' +', ' ', 'g')) = imp.journal
"""

    sql["glof_rollup"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok,
         generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM documents
),
g AS (
  SELECT DISTINCT tok AS key,
         CASE WHEN ord % 2 = 0 THEN 'gof' ELSE 'lof' END AS direction,
         CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(ord % 7 AS INT) AS sent_idx
  FROM toks WHERE tok IN ('spark', 'join', 'merge', 'sort', 'hash')
),
per_doc AS (
  SELECT key, direction, doc_id, count(*) AS n_sents
  FROM g GROUP BY 1, 2, 3
)
SELECT key, direction, CAST(doc_id AS BIGINT) AS doc_id, n_sents,
       row_number() OVER (
         PARTITION BY key, direction ORDER BY n_sents DESC, doc_id ASC
       )::INT AS rank
FROM per_doc
"""

    sql["mesh_subgraph"] = """
WITH pk AS (SELECT p_partkey AS k FROM part),
-- label batches in the reference's chronological order (first label wins,
-- kb_utils.py:2255-2262); phases hardcoded for query=63, super=2, sub=1,
-- sibling=1, supplemental=1 over the parent(k)=k//2 heap forest
lab(mesh, label, prio) AS (
  VALUES ('63','query',0),
         ('31','super-category',1), ('15','super-category',1),
         ('126','sub-category',2), ('127','sub-category',2),
         ('31','super-category',3),
         ('62','sibling',4), ('63','sibling',4),
         ('s63','supplemental',5)
),
resolved AS (SELECT mesh, arg_min(label, prio) AS label FROM lab GROUP BY mesh)
SELECT r.mesh,
       CASE WHEN r.mesh LIKE 's%' THEN 'supp ' || substr(r.mesh, 2)
            ELSE 'node ' || r.mesh END AS display_name,
       r.label,
       (r.mesh LIKE 's%') AS is_supplemental
FROM resolved r
WHERE EXISTS (SELECT 1 FROM pk WHERE k = 63)
  AND ((r.mesh LIKE 's%' AND EXISTS (SELECT 1 FROM pk WHERE k = TRY_CAST(substr(r.mesh, 2) AS BIGINT)))
    OR (r.mesh NOT LIKE 's%' AND EXISTS (SELECT 1 FROM pk WHERE k = TRY_CAST(r.mesh AS BIGINT))))
"""

    sql["varsum_clean"] = """
WITH raw AS (SELECT c_custkey AS k, (c_custkey % 500 + 1) AS pos FROM customer),
c AS (
  SELECT k, pos,
    CASE WHEN k % 11 = 0 THEN '.' ELSE 'GENE' || CAST(k % 40 AS VARCHAR) END AS gene_name,
    CASE WHEN k % 3 = 0 THEN 'homozygous' WHEN k % 3 = 1 THEN 'heterozygous' ELSE '' END AS genotype,
    CASE WHEN k % 3 = 0 THEN '同型合子（homozygous）' WHEN k % 3 = 1 THEN '異型合子（heterozygous）' ELSE '' END AS genotype_zhtw,
    CASE WHEN k % 13 = 0 THEN '.' ELSE 'NM_' || CAST(k % 97 AS VARCHAR) || '.2' END AS reference,
    CASE WHEN k % 13 = 0 THEN '.'
         WHEN k % 7 = 0 THEN 'c.*' || pos || 'del'
         WHEN k % 7 = 1 THEN 'c.-' || pos || 'A>G'
         WHEN k % 7 = 2 THEN 'c.' || pos || '+2T>C'
         WHEN k % 7 = 3 THEN 'c.' || pos || '_' || (pos + 2) || 'dup'
         ELSE 'c.' || pos || 'A>G' END AS hgvsc,
    CASE WHEN k % 13 = 0 THEN '.'
         WHEN k % 7 = 0 THEN '*' || pos
         WHEN k % 7 = 1 THEN '-' || pos
         WHEN k % 7 = 2 THEN pos || '+2'
         WHEN k % 7 = 3 THEN pos || ', ' || (pos + 2)
         ELSE CAST(pos AS VARCHAR) END AS cds_position,
    CASE WHEN k % 13 = 0 THEN 'intron'
         WHEN k % 7 = 0 THEN '3''-UTR'
         WHEN k % 7 = 1 THEN '5''-UTR'
         WHEN k % 7 = 2 THEN 'intron'
         ELSE 'exon' END AS exon_intron,
    CASE WHEN k % 6 = 0 THEN 'Pathogenic' WHEN k % 6 = 1 THEN 'Likely benign'
         WHEN k % 6 = 2 THEN 'Uncertain significance' ELSE '.' END AS clinvar_record,
    CASE WHEN k % 5 = 0 THEN 'missense, intron' WHEN k % 5 = 1 THEN 'stop gained'
         WHEN k % 5 = 2 THEN '' ELSE 'synonymous' END AS consequence,
    'ENST' || CAST(k % 50 AS VARCHAR) AS transcriptid_mane,
    CASE WHEN k % 50 < 25 THEN 0 ELSE 1 END AS transcriptid_index,
    CASE WHEN k % 50 < 25 THEN CAST(k % 10 AS VARCHAR) ELSE '0.5' END AS sift,
    CASE WHEN k % 2 = 0 THEN printf('%.1f', (k % 40) / 2.0) ELSE '.' END AS cadd_phred,
    'recorded' AS pathogenicity,
    printf('%.3f', (k % 100) / 100.0) AS phylop100way,
    'recorded' AS conservation,
    CASE WHEN k % 8 = 0 THEN '.' ELSE printf('%.6f', (k % 1000) / 100000.0) END AS gnomad_freq,
    CASE WHEN k % 9 = 0 THEN 'ClinVar, DeafnessVD, and HotspotDB'
         WHEN k % 9 = 1 THEN 'ClinVar' ELSE '.' END AS hotspot
  FROM raw
)
SELECT gene_name, genotype, genotype_zhtw, reference, hgvsc, cds_position,
       exon_intron,
       CASE WHEN k % 4 = 0 THEN exon_intron
            WHEN exon_intron IN ('exon', 'intron')
              THEN exon_intron || ' ' || CAST(k % 9 + 1 AS VARCHAR)
            ELSE exon_intron END AS exon_or_intron_rank,
       clinvar_record, consequence, transcriptid_mane, transcriptid_index,
       sift, cadd_phred, pathogenicity, phylop100way, conservation,
       gnomad_freq, hotspot
FROM c
"""

    sql["qa_target_filter"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
),
flags AS (
  SELECT doc_id,
         bool_or(tok IN ('spark', 'join', 'merge', 'sort', 'hash')) AS has_t,
         bool_or(tok = 'spark') AS has_spark,
         bool_or(tok = 'hash') AS has_hash,
         bool_or(tok = 'merge') AS has_merge
  FROM toks GROUP BY doc_id
)
-- independent formulation of the target filter: docs with any triplet AND
-- the disease target AND a gene hit via prefix-fallback ('hash_v1'→'hash')
-- or the no-underscore quirk ('mergeX'[:-1]→'merge')
SELECT CAST(doc_id AS BIGINT) AS doc_id FROM flags
WHERE has_t AND has_spark AND (has_hash OR has_merge)
"""

    sql["embed_text_docs"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\W+')) AS tok
  FROM documents
),
t2 AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
h AS (
  SELECT doc_id,
         ({md5_int60_sql('tok')} % 16)::INT AS bucket,
         CASE WHEN {md5_int60_sql('tok')} % 32 >= 16 THEN -1 ELSE 1 END AS sign
  FROM t2
),
pb AS (SELECT doc_id, bucket, sum(sign)::DOUBLE AS v FROM h GROUP BY 1, 2),
grid AS (
  -- every document gets a row: zero-token docs emit zero vectors
  SELECT d.doc_id, b.bucket
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(16))::INT AS bucket) b
),
dense AS (
  SELECT grid.doc_id, grid.bucket, coalesce(pb.v, 0) AS v
  FROM grid LEFT JOIN pb ON grid.doc_id = pb.doc_id AND grid.bucket = pb.bucket
),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM dense GROUP BY 1)
SELECT dense.doc_id, dense.bucket,
       round(v / CASE WHEN n > 0 THEN n ELSE 1 END, 6) AS val
FROM dense JOIN nrm ON dense.doc_id = nrm.doc_id
"""

    # ---- ann_cosine_lsh: the hyperplane signature is pure affine
    # arithmetic (similarity._pseudo_hyperplane formula, re-derived here
    # from the same published affine-hash family) — plane literals inlined,
    # dot products via list_dot_product, Hamming-1 multi-probe via xor
    def _plane_lits(i: int, dim: int) -> str:
        a, b = affine_params(i)
        vals = [
            (((a * (j + 1) + b) % M31) / M31) * 2.0 - 1.0 for j in range(dim)
        ]
        return "[" + ", ".join(repr(v) for v in vals) + "]"

    n_planes, ann_dim = 8, 64
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_plane_lits(i, ann_dim)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT xor(s0, {1 << i}) FROM qsig" for i in range(n_planes)
    )
    sql["ann_cosine_lsh"] = f"""
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sig AS (SELECT vec_id, e, ({sig_terms})::BIGINT AS s FROM emb),
q AS (SELECT e FROM emb WHERE vec_id = 1),
qsig AS (SELECT s AS s0 FROM sig WHERE vec_id = 1),
probes AS (SELECT s0 FROM qsig UNION ALL {probe_union})
SELECT vec_id,
       round(list_cosine_similarity(e, (SELECT e FROM q)), 6) AS cos_sim
FROM sig WHERE s IN (SELECT s0 FROM probes)
ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
"""

    # ---- embedding_near_dup_pairs: same affine signature, then the
    # engine's exact bucket split — bsz <= 8 buckets emit the full clique,
    # bsz > 8 buckets emit only (min-id rep, member) star edges — and the
    # same round(·,6)-then-threshold filter the engine applies
    nd_sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, {_plane_lits(i, ann_dim)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    sql["embedding_near_dup_pairs"] = f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 20),
corpus AS (
  SELECT b.vec_id * 100 + r.range AS id, b.e
  FROM base b, range(12) r
  WHERE r.range < (CASE WHEN b.vec_id % 5 = 0 THEN 12 ELSE 3 END)
),
sig AS (SELECT id, e, ({nd_sig_terms})::BIGINT AS s FROM corpus),
z AS (SELECT s, count(*) AS bsz, min(id) AS rep FROM sig GROUP BY s),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b, a.e AS ea, b.e AS eb
  FROM sig a
  JOIN sig b ON a.s = b.s AND a.id < b.id
  JOIN z ON z.s = a.s
  WHERE z.bsz <= 8
  UNION
  SELECT z.rep AS doc_a, m.id AS doc_b, r.e AS ea, m.e AS eb
  FROM sig m
  JOIN z ON z.s = m.s
  JOIN sig r ON r.id = z.rep
  WHERE z.bsz > 8 AND m.id <> z.rep
)
SELECT DISTINCT doc_a, doc_b, round(list_cosine_similarity(ea, eb), 6) AS cos_sim
FROM pairs
WHERE round(list_cosine_similarity(ea, eb), 6) >= 0.95
"""

    # ---- multimodal_features: the synthetic payload contract is
    # sha256(f"{seed}:{i}").digest() * (1 + i % 7) — recomputed here with
    # stdlib hashlib (independent of the engine's mapInPandas path) and
    # pinned as VALUES
    import hashlib as _hl

    mm_rows = []
    for i in range(60):
        payload = _hl.sha256(f"42:{i}".encode()).digest() * (1 + i % 7)
        mm_rows.append(
            f"('m{i:08d}', '{['image', 'audio', 'video'][i % 3]}', "
            f"{len(payload)}, '{_hl.sha256(payload).hexdigest()}')"
        )
    sql["multimodal_features"] = f"""
SELECT media_id, media_type, n_bytes::BIGINT AS n_bytes, checksum
FROM (VALUES {', '.join(mm_rows)}) v(media_id, media_type, n_bytes, checksum)
"""

    # ---- fuzzy_nen: the reference's scorer IS stdlib difflib
    # (kb_utils.py:296-380) — the oracle recomputes candidate blocking,
    # SequenceMatcher.ratio, thresholding and frequency ranking in plain
    # Python over the same dictionary and emits the expected relation
    import difflib as _dl

    _q = "p.v600e"
    _pdf = fixtures.build_entity_dict()
    _seen: dict[str, float] = {}
    for _nm in _pdf["name"]:
        _c = _nm.lower()
        if abs(len(_c) - len(_q)) <= 1 and _c not in _seen:
            _seen[_c] = round(_dl.SequenceMatcher(a=_c, b=_q).ratio(), 6)
    _matched = sorted(
        (n for n, s in _seen.items() if s >= 0.7),
        key=lambda n: (-_seen[n], n),
    )[:20]
    _freqs: dict[tuple[str, str, str], int] = {}
    for _t, _i, _nm, _f in zip(_pdf["type"], _pdf["id"], _pdf["name"], _pdf["freq"]):
        if _nm.lower() in _matched:
            k = (_nm.lower(), _t, _i)
            _freqs[k] = _freqs.get(k, 0) + int(_f)
    _by_name: dict[str, list] = {}
    for (nm, t, i), f in _freqs.items():
        _by_name.setdefault(nm, []).append((t, i, f))
    fz_rows = []
    for nm, lst in _by_name.items():
        for rank, (t, i, f) in enumerate(
            sorted(lst, key=lambda x: (-x[2], x[1])), start=1
        ):
            fz_rows.append(f"('{nm}', '{t}', '{i}', {f}, {rank})")
    sql["fuzzy_nen"] = f"""
SELECT name, type, id, freq::BIGINT AS freq, rank::INT AS rank
FROM (VALUES {', '.join(fz_rows)}) v(name, type, id, freq, rank)
"""

    sql["gvd_stats"] = f"""
{_HT_SQL},
keyed AS (
  SELECT tok AS subj,
         'D' || CAST(doc_id % 7 AS VARCHAR) AS obj,
         CASE WHEN ord % 3 = 0 THEN 'paper'
              WHEN ord % 3 = 1 THEN 'sentence'
              ELSE 'odds_ratio' END AS annotator
  FROM toks WHERE tok IN ({vocab_in})
),
ps AS (SELECT subj, obj, annotator, count(*) AS support FROM keyed GROUP BY 1,2,3),
piv AS (
  SELECT subj, obj,
         sum(CASE WHEN annotator='paper' THEN support ELSE 0 END)::BIGINT AS paper,
         sum(CASE WHEN annotator='sentence' THEN support ELSE 0 END)::BIGINT AS sentence,
         sum(CASE WHEN annotator='odds_ratio' THEN support ELSE 0 END)::BIGINT AS odds_ratio
  FROM ps GROUP BY subj, obj
),
blended AS (
  SELECT subj, obj, paper, sentence, odds_ratio,
         (paper + sentence + odds_ratio)::BIGINT AS sort_score,
         CASE WHEN substr(obj, 2, 1)::INT % 2 = 0
              THEN printf('%.2f', (substr(obj, 2, 1)::INT * 13 + length(subj)) / 100.0)
              ELSE NULL END AS new_score
  FROM piv
)
SELECT subj, obj, paper, sentence, odds_ratio, sort_score, new_score FROM (
  SELECT *, row_number() OVER (PARTITION BY subj ORDER BY sort_score DESC, obj ASC) AS rk
  FROM blended
) WHERE rk <= 3
"""

    # ---- variant_in_kb: Python replica of get_variant_in_kb
    # (kb_utils.py:385-396) over the deterministic dictionary, pinned as
    # VALUES — probe enumeration, frequency aggregation and the stable
    # frequency-desc order recomputed independently of the Spark operator
    from pubmedkb_web_spark.query.nen import VARIANT_UMBRELLA as _VU

    _store: dict[tuple[str, str, str], int] = {}
    _vpdf = fixtures.build_entity_dict()
    for _t, _i, _n, _f in zip(_vpdf["type"], _vpdf["id"], _vpdf["name"], _vpdf["freq"]):
        _store[(_t, _i, _n)] = _store.get((_t, _i, _n), 0) + int(_f)
    _vhits = [
        (t, i, n, _store[(t, i, n)])
        for t in _VU
        for i in VKB_IDS
        for n in VKB_NAMES
        if (t, i, n) in _store
    ]
    _vhits.sort(key=lambda x: (-x[3], x[0], x[1], x[2]))
    vkb_rows = ", ".join(
        f"('{t}', '{i}', '{n}', {f}, {r})"
        for r, (t, i, n, f) in enumerate(_vhits, start=1)
    )
    sql["variant_in_kb"] = f"""
SELECT type, id, name, frequency::BIGINT AS frequency, rank::INT AS rank
FROM (VALUES {vkb_rows}) v(type, id, name, frequency, rank)
"""

    sql["kg_extractor_slice"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok,
         generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM documents WHERE doc_id < 200
),
vt AS (SELECT doc_id, tok, ord FROM toks WHERE tok IN ({vocab_in})),
pairs AS (
  SELECT a.doc_id, a.tok AS h_name, b.tok AS t_name
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.ord < b.ord
),
dt AS (SELECT DISTINCT doc_id, tok FROM vt),
nc AS (SELECT tok, count(*) AS nc FROM dt GROUP BY tok),
tot AS (SELECT count(*) AS n FROM documents WHERE doc_id < 200),
pa AS (
  SELECT a.tok AS n1, b.tok AS n2, count(*) AS a
  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2
),
cont AS (
  SELECT n1, n2, a,
         round(exp(ln(((a+0.5)*((SELECT n FROM tot)-a-(c1.nc-a)-(c2.nc-a)+0.5))
                    / ((c1.nc-a+0.5)*(c2.nc-a+0.5)))), 4) AS orv
  FROM pa JOIN nc c1 ON pa.n1 = c1.tok JOIN nc c2 ON pa.n2 = c2.tok
)
SELECT doc_id, 'co_occurrence' AS annotator, h_name, t_name,
       NULL::DOUBLE AS or_value_d, 1.0::DOUBLE AS score
FROM pairs
UNION ALL
SELECT p.doc_id, 'odds_ratio', p.h_name, p.t_name, cont.orv, 2.0::DOUBLE
FROM pairs p
JOIN cont ON least(p.h_name, p.t_name) = cont.n1
         AND greatest(p.h_name, p.t_name) = cont.n2
WHERE cont.a >= 1
"""

    id_values = ", ".join(f"('{i}')" for i in list(range(1, 21)) + [999991, 999992])
    sql["paper_text_fetch"] = f"""
WITH ids(doc_id) AS (VALUES {id_values}),
store AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'T' || CAST(doc_id AS VARCHAR) AS title,
         substr(text, 1, 40) AS abstract
  FROM documents
)
SELECT ids.doc_id, coalesce(title, '') AS title, coalesce(abstract, '') AS abstract
FROM ids LEFT JOIN store USING (doc_id)
"""

    # pinned oracle: the expected rows are hand-derived from the reference's
    # dispatch (HGVSp_parser.py:18-109), not generated by the engine
    def _lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    hgvsp_rows = ",\n  ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in _HGVSP_PINNED
    )
    sql["hgvsp_parse"] = f"""
SELECT hgvsp, kind, ref_aa, pos_start::INT AS pos_start, alt_aa, text
FROM (VALUES
  {hgvsp_rows}) v(hgvsp, kind, ref_aa, pos_start, alt_aa, text)
"""

    # full-pipeline gate: per-annotator counts over the fixed 120-doc
    # corpus, pinned from the pure-Python oracle (see _KG_GATE_PINNED) —
    # the hgvsp_parse technique applied to the end-to-end build
    kg_rows = ",\n  ".join(f"('{a}', {n})" for a, n in _KG_GATE_PINNED)
    sql["kg_pipeline_triples"] = f"""
SELECT annotator, n_triples::BIGINT AS n_triples
FROM (VALUES
  {kg_rows}) v(annotator, n_triples)
ORDER BY annotator
"""

    # ---- presentation layer (F7/S10) + LitVar parse (S6) ----
    esc = htmlrender.html_escape_sql

    sql["html_escape_docs"] = f"""
SELECT doc_id, {esc("s")} AS escaped FROM (
  SELECT doc_id,
         '<b href="' || source || '">' || substr(text, 1, 40) || ' & ''tail''' AS s
  FROM documents WHERE doc_id % 17 = 0)
"""

    dot = (
        "CASE WHEN {c} <> '' AND substr({c}, length({c}), 1) NOT IN ('.','?','!') "
        "THEN {c} || '.' ELSE {c} END"
    )
    sql["paper_meta_html_docs"] = f"""
WITH src AS (
  SELECT doc_id,
         CAST(doc_id AS VARCHAR) AS pmid,
         substr(text, 1, 30) AS title0,
         CASE WHEN doc_id % 3 = 0 THEN '' ELSE CAST(1990 + doc_id % 30 AS VARCHAR) END AS year0,
         CASE WHEN doc_id % 4 = 0 THEN 'J. "X" & <Y>' ELSE source END AS journal0,
         CASE WHEN doc_id % 2 = 0 THEN '10.1000/' || source ELSE '' END AS doi,
         CASE WHEN doc_id % 3 = 0 THEN 'Review, Meta &lt;1&gt;'
              WHEN doc_id % 3 = 1 THEN 'Trial' ELSE '' END AS pt_joined,
         CAST(doc_id % 100 AS VARCHAR) AS citation
  FROM documents WHERE doc_id % 13 = 0),
fields AS (
  SELECT doc_id, pmid, doi, pt_joined, citation,
         {dot.format(c="title0")} AS title1,
         CASE WHEN year0 <> '' THEN year0 || '.' ELSE year0 END AS year1,
         {dot.format(c="journal0")} AS journal1
  FROM src)
SELECT doc_id,
  '<a href="https://pubmed.ncbi.nlm.nih.gov/' || pmid || '">[' || {esc("pmid")} || ']</a> '
  || {esc("title1")}
  || ' ' || {esc("year1")}
  || ' <em>' || {esc("journal1")} || '</em>'
  || ' ' || CASE WHEN doi <> ''
            THEN '<a href="https://doi.org/' || doi || '">' || {esc("'doi.org/' || doi")} || '</a>'
            ELSE '' END
  || ' ' || CASE WHEN pt_joined <> '' THEN pt_joined || '.' ELSE '' END
  || ' ' || {esc("'Cited by ' || citation || '.'")}
  AS meta_html
FROM fields
"""

    sql["reference_list_html_docs"] = f"""
SELECT 'References<br />' || string_agg(
  '<a href="https://pubmed.ncbi.nlm.nih.gov/' || pmid || '">[PMID-' || pmid || ']</a> '
  || {esc("title")},
  '<br />' ORDER BY doc_id) AS html
FROM (
  SELECT doc_id, CAST(doc_id AS VARCHAR) AS pmid,
         '"' || substr(text, 1, 25) || '" & <more>' AS title
  FROM documents WHERE doc_id % 23 = 0)
"""

    sql["table_html_orders"] = f"""
WITH page AS (
  SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
SELECT '<table><tr><th style="width:20%">orderkey</th>'
  || '<th style="width:50%">priority</th>'
  || '<th style="width:30%">total_cents</th></tr>'
  || string_agg(
       '<tr><td>' || {esc("CAST(orderkey AS VARCHAR)")} || '</td><td>'
       || {esc("priority")} || '</td><td>'
       || {esc("CAST(total_cents AS VARCHAR)")} || '</td></tr>',
       '' ORDER BY orderkey)
  || '</table>' AS html
FROM page
"""

    # LitVar parse: the oracle replicates kb_utils.py:226-249's slice
    # arithmetic (Python str.find == SQL strpos - 1, including the
    # absent-marker -1 cases) over the same synthesized raw results.
    name_sql = "string_split_regex(lower(text), '\\s+')[1]"
    sql["litvar_parse_docs"] = f"""
WITH src AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'rs' || CAST(doc_id AS VARCHAR) END AS rsid,
    CASE WHEN doc_id % 4 = 1 THEN 'c.' || CAST(doc_id % 97 AS VARCHAR) || 'G>A' END AS hgvs,
    {name_sql} AS name
  FROM documents WHERE doc_id % 11 = 0),
withm AS (
  SELECT *, CASE doc_id % 5
      WHEN 0 THEN '<m>' || name || '</m> rest'
      WHEN 1 THEN 'pre <m>' || name || 'x</m>'
      WHEN 2 THEN 'no markers ' || name
      WHEN 3 THEN 'ab<m>' || name
      ELSE NULL END AS mtch FROM src),
sliced AS (
  SELECT *,
    strpos(mtch, '<m>') - 1 + 3 AS i0,
    CASE WHEN strpos(substr(mtch, strpos(mtch, '<m>') + 3), '</m>') = 0 THEN -1
         ELSE (strpos(mtch, '<m>') - 1 + 3)
              + strpos(substr(mtch, strpos(mtch, '<m>') + 3), '</m>') - 1 END AS j0
  FROM withm),
innr_m AS (
  SELECT doc_id, rsid, hgvs, name, mtch,
    substr(mtch, i0 + 1,
           greatest(CASE WHEN j0 >= 0 THEN j0 ELSE length(mtch) - 1 END - i0, 0)
    ) AS innr
  FROM sliced)
SELECT doc_id,
  concat_ws('|',
    CASE WHEN rsid IS NOT NULL THEN 'RS#:' || substr(rsid, 3) END,
    CASE WHEN hgvs IS NOT NULL THEN 'HGVS:' || hgvs END) AS ids,
  name || CASE WHEN mtch IS NOT NULL AND innr <> name THEN '|' || innr ELSE '' END AS names,
  CASE WHEN doc_id % 2 = 0 THEN upper(name) ELSE '' END AS genes
FROM innr_m
"""

    # decontaminate gate twin: 3-gram shingles via lead() over the
    # empty-filtered token sequence (positions re-numbered AFTER the
    # filter, matching Spark's F.filter-then-slice enumeration); lead past
    # the end makes the || chain NULL, which the shn filter drops — the
    # exact complete-shingle rule of ops/textstats._ngrams
    sql["decontaminate_docs"] = f"""
WITH toks0 AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS tok, generate_subscripts({TOKS_SQL}, 1) AS ord
  FROM documents
),
toks AS (
  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS pos
  FROM toks0 WHERE len(tok) > 0
),
sh AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shn AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
bench AS (SELECT DISTINCT shingle FROM shn WHERE doc_id % 17 = 0),
hits AS (
  SELECT DISTINCT s.doc_id, s.shingle FROM shn s JOIN bench b USING (shingle)
),
per AS (SELECT doc_id, count(*)::BIGINT AS n FROM hits GROUP BY 1)
SELECT d.doc_id, coalesce(p.n, 0)::BIGINT AS n_contaminated_ngrams,
       coalesce(p.n, 0) >= 2 AS contaminated
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""

    # ---- merged gates (see the queries() docstring) ----------------------
    # Each merged oracle nests the constituent oracles verbatim (DuckDB
    # supports CTEs inside FROM-subqueries), so the per-capability SQL above
    # stays the single source of truth.
    mh_terms = " UNION ALL ".join(
        f"SELECT 'minhash' AS kind, doc_id, {i} AS idx, mh{i} AS val FROM m"
        for i in range(8)
    )
    sql["doc_signatures"] = (
        _minhash_sql(100, mh_terms)
        + f"""
UNION ALL
SELECT 'simhash' AS kind, doc_id, 0 AS idx, simhash AS val
FROM ({sql["simhash_docs"]})
"""
    )

    sql["textstats_docs"] = f"""
SELECT l.doc_id, l.pred_lang, l.lang_hits,
       q.n_tokens, q.avg_token_len, q.punct_ratio, q.stopword_ratio, q.quality,
       t.ws_tokens, t.bpe_tokens, fp.fingerprint,
       r.n_lines, r.dup_line_frac, r.dup_line_char_frac,
       r.top_2gram, r.top_2gram_frac, r.top_3gram, r.top_3gram_frac,
       g.word_count, g.mean_word_len, g.symbol_word_ratio, g.bullet_line_frac,
       g.ellipsis_line_frac, g.alpha_word_frac, g.n_stopwords,
       g.pass_word_count, g.pass_mean_word_len, g.pass_symbol_ratio,
       g.pass_bullet_lines, g.pass_ellipsis_lines, g.pass_alpha_words,
       g.pass_stopwords, g.gopher_keep,
       p.n_emails, p.n_ipv4, p.n_phones, p.pii_total, p.pii_redacted,
       c.c4_n_lines, c.c4_kept_lines, c.c4_kept_char_frac, c.c4_n_sentences,
       c.c4_has_lorem, c.c4_has_brace, c.c4_has_badword, c.c4_keep,
       c.c4_clean_text,
       dc.n_contaminated_ngrams, dc.contaminated
FROM ({sql["lang_id_docs"]}) l
JOIN ({sql["quality_scores"]}) q ON l.doc_id = q.doc_id
JOIN ({sql["token_counts"]}) t ON l.doc_id = t.doc_id
JOIN ({sql["fingerprint_docs"]}) fp ON l.doc_id = fp.doc_id
JOIN ({sql["repetition_docs"]}) r ON l.doc_id = r.doc_id
JOIN ({sql["gopher_filters"]}) g ON l.doc_id = g.doc_id
JOIN ({sql["pii_scrub"]}) p ON l.doc_id = p.doc_id
JOIN ({sql["c4_line_filters"]}) c ON l.doc_id = c.doc_id
JOIN ({sql["decontaminate_docs"]}) dc ON l.doc_id = dc.doc_id
"""

    sql["anti_semi_customers"] = f"""
SELECT 'anti' AS kind, c_custkey FROM ({sql["anti_join_customers"]})
UNION ALL
SELECT 'semi' AS kind, c_custkey FROM ({sql["semi_join_customers"]})
"""

    sql["lsh_star_hot"] = f"""
SELECT 'pair' AS kind, CAST(doc_a AS VARCHAR) AS k1, CAST(doc_b AS VARCHAR) AS k2,
       0::BIGINT AS v
FROM ({sql["lsh_star_fallback_pairs"]})
UNION ALL
SELECT 'hot' AS kind, CAST(band_idx AS VARCHAR) AS k1, band_key AS k2,
       bucket_size::BIGINT AS v
FROM ({sql["lsh_hot_buckets"]})
"""

    sql["cosine_topk_methods"] = f"""
SELECT 'brute' AS method, vec_id, cos_sim FROM ({sql["cosine_topk"]})
UNION ALL
SELECT 'ivf' AS method, vec_id, cos_sim FROM ({sql["ivf_cosine_topk"]})
"""

    sql["html_render_all"] = f"""
SELECT 'escape' AS kind, doc_id AS k, escaped AS html FROM ({sql["html_escape_docs"]})
UNION ALL
SELECT 'meta' AS kind, doc_id AS k, meta_html AS html FROM ({sql["paper_meta_html_docs"]})
UNION ALL
SELECT 'reflist' AS kind, 0::BIGINT AS k, html FROM ({sql["reference_list_html_docs"]})
UNION ALL
SELECT 'table' AS kind, 0::BIGINT AS k, html FROM ({sql["table_html_orders"]})
"""

    return sql
