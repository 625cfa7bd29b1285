"""Text analysis operators over the documents table.

- language-ID: n-gram/stopword heuristic (no external models)
- quality scoring: length / punctuation / stopword ratios
- token counting: whitespace + a BPE-ish regex segmentation
- document fingerprinting: positional rolling hash

Everything is built-in column expressions (regexp/split/aggregate) —
map-only, no shuffle, no Python, and each has an exact DuckDB oracle.
Whole-stage codegen covers the plain expressions; the array lambdas
(``filter``/``transform``/``aggregate``) are evaluated interpreted, per
element. These are deliberately simple deterministic heuristics: the
point at 100 TB is the *plumbing* (one scan, pruned columns, no Python),
not model quality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE31, md5_int60


# tiny per-language stopword profiles for the heuristic language ID
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "in"],
    "de": ["der", "die", "das", "und", "nicht"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "des"],
}

# BPE-ish segmentation: word pieces, numbers, and single non-space symbols —
# the GPT-2 pre-tokenizer shape, simplified to a portable regex.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ["the", "a", "and", "of", "in", "to", "is"]


def word_tokens(col: Column | str) -> Column:
    """Lower-cased whitespace tokens of a text column (name or Column).

    Spark's ``split`` keeps "" around leading or consecutive separators,
    DuckDB's ``string_split_regex`` oracle twin does not: dropping them
    keeps both sides identical. ``array_remove`` stays whole-stage codegen
    where an ``F.filter`` lambda is interpreted per element."""
    return F.array_remove(F.split(F.lower(col), r"\s+"), "")


def language_id(df: DataFrame) -> DataFrame:
    """Per doc: predicted language = argmax over profile-token hit counts
    (ties broken by language code asc; all-zero → 'und')."""
    toks = word_tokens("text")
    scores = []
    for lang, words in sorted(LANG_PROFILES.items()):
        hits = F.size(F.filter(toks, lambda t: t.isin(words)))
        scores.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang"), hits.alias("hits")))
    best = F.array_min(F.array(*scores))
    return df.withColumn(
        "pred_lang",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    ).withColumn("lang_hits", best["hits"].cast("long"))


def quality_score(df: DataFrame) -> DataFrame:
    """length/punct/stopword quality features + a blended [0,1] score."""
    toks = word_tokens("text")
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(F.col("text")).cast("long")
    avg_tok_len = F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6)
    n_punct = (
        n_chars - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
    ).cast("long")
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("long")
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3,
        6,
    )
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def token_counts(df: DataFrame) -> DataFrame:
    """whitespace token count + BPE-ish regex piece count."""
    return df.select(
        "*",
        F.size(word_tokens("text")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def _ngrams(toks: Column, n: int) -> Column:
    # sequence(1, k) DESCENDS when k < 1 (Spark default step -1), so the
    # short-document case must be guarded, not clamped
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, table A1) — the
    quality-filter family the reference has no counterpart for, added for
    the LLM-training-data story:

    - ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac``: non-empty
      ``\\n``-lines; fraction of line OCCURRENCES beyond the first of their
      content, and the character-mass fraction of those repeats.
    - ``top_{n}gram`` / ``top_{n}gram_frac`` for n = 2 and 3: the most
      frequent word n-gram (ties → lexicographically smallest) and the
      fraction of the document's characters its occurrences cover
      (count * len(gram) / len(text)); 0.0 / '' when the doc has < n tokens.

    Shape at scale: explode → two-level groupBy per leg (map-side partial
    aggregation, shuffle keyed on (id, unit) then id — no corpus-wide
    window), one left join per n-gram order on the id (broadcast-eligible
    when the corpus side is small; same-key shuffles otherwise). Output is
    one row per document with >= 1 non-empty line.
    """
    total_chars = F.length(F.col("text")).cast("long")
    base = df.select("doc_id", "text", total_chars.alias("_n_chars"))

    lines = base.select(
        "doc_id",
        "_n_chars",
        F.explode(
            F.array_remove(F.split(F.col("text"), "\n"), "")  # codegen == the length>0 lambda filter (split only emits "")
        ).alias("_line"),
    )
    per_line = lines.groupBy("doc_id", "_n_chars", "_line").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    occ_chars = F.sum(F.col("_cnt") * F.length("_line"))
    out = per_line.groupBy("doc_id").agg(
        F.first("_n_chars").alias("_n_chars"),
        F.sum("_cnt").cast("long").alias("n_lines"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("_cnt"), 6).alias(
            "dup_line_frac"
        ),
        F.round(
            (occ_chars - F.sum(F.length("_line")))
            / F.greatest(occ_chars, F.lit(1)),
            6,
        ).alias("dup_line_char_frac"),
    )

    for n in (2, 3):
        grams = base.select(
            "doc_id",
            F.explode(_ngrams(word_tokens("text"), n)).alias("_gram"),
        )
        counts = grams.groupBy("doc_id", "_gram").agg(F.count(F.lit(1)).alias("_cnt"))
        # min over (neg count, gram) = highest count, lexicographic tiebreak
        top = counts.groupBy("doc_id").agg(
            F.min(F.struct((-F.col("_cnt")).alias("n"), F.col("_gram").alias("g"))).alias(
                "_top"
            )
        )
        out = (
            out.join(top, "doc_id", "left")
            .withColumn(f"top_{n}gram", F.coalesce(F.col("_top.g"), F.lit("")))
            .withColumn(
                f"top_{n}gram_frac",
                F.round(
                    F.coalesce(
                        (-F.col("_top.n")) * F.length("_top.g")
                        / F.greatest(F.col("_n_chars"), F.lit(1)),
                        F.lit(0.0),
                    ),
                    6,
                ),
            )
            .drop("_top")
        )
    return out.drop("_n_chars")


def gopher_filters(df: DataFrame) -> DataFrame:
    """Gopher rule-based quality filters (Rae et al. 2021, table A1) —
    the boolean keep/drop companion to :func:`quality_score` (blended
    score) and :func:`repetition_metrics` (repetition signals), at the
    published thresholds.

    Per document: the raw measures, one boolean per rule computed on the
    ROUNDED measure (so the comparisons are engine-portable at boundary
    values), and ``gopher_keep`` = AND of all rules:

    - ``word_count`` in [50, 100,000]
    - ``mean_word_len`` (token-length mean, not chars/tokens) in [3, 10]
    - ``symbol_word_ratio`` ('#' chars + '...' occurrences per word)
      <= 0.1
    - ``bullet_line_frac`` <= 0.9 / ``ellipsis_line_frac`` <= 0.3 over
      non-empty lines (lines starting with -, *, or • / ending with
      '...' or '…')
    - ``alpha_word_frac`` (words containing a letter) >= 0.8
    - ``n_stopwords`` >= 2 (the "required words" rule, over
      :data:`STOPWORDS`)

    Shape at scale: pure column expressions over one scan — map-only, no
    shuffle, no Python; the token and line rules are array lambdas, which
    Spark evaluates interpreted. At 100 TB this is the cheap first pass
    that drops documents before any shuffling operator sees them.
    """
    toks = word_tokens("text")
    n = F.size(toks).cast("long")
    safe_n = F.greatest(n, F.lit(1))
    text = F.col("text")
    mean_len = F.round(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)) / safe_n,
        6,
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, r"#", ""))
    n_ellipsis = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = F.round((n_hash + n_ellipsis) / safe_n, 6)
    lines = F.filter(F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))) / n_lines, 6
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines, 6
    )
    alpha_frac = F.round(
        F.size(F.filter(toks, lambda t: t.rlike(r"[a-z]"))) / safe_n, 6
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))).cast("long")

    # booleans on the ROUNDED measure expressions (engine-portable
    # boundaries) — identical values to comparing the selected columns
    rules = {
        "pass_word_count": (n >= 50) & (n <= 100_000),
        "pass_mean_word_len": (mean_len >= 3.0) & (mean_len <= 10.0),
        "pass_symbol_ratio": symbol_ratio <= 0.1,
        "pass_bullet_lines": bullet_frac <= 0.9,
        "pass_ellipsis_lines": ellipsis_frac <= 0.3,
        "pass_alpha_words": alpha_frac >= 0.8,
        "pass_stopwords": n_stop >= 2,
    }
    keep = F.lit(True)
    for cond in rules.values():
        keep = keep & cond
    cols = {
        "word_count": n,
        "mean_word_len": mean_len,
        "symbol_word_ratio": symbol_ratio,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "alpha_word_frac": alpha_frac,
        "n_stopwords": n_stop,
        **rules,
        "gopher_keep": keep,
    }
    return df.select("doc_id", *(c.alias(n) for n, c in cols.items()))


# PII patterns, restricted to the Java-regex ∩ RE2 common subset (no
# lookaround, no backrefs) so the DuckDB oracle is exact. Heuristics, not
# recall-complete detectors — at 100 TB the point is the one-scan map-only
# plumbing; swap in stricter patterns per corpus.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d()\-.]{5,}\d"


def pii_scrub(df: DataFrame) -> DataFrame:
    """Regex PII detection + redaction (the BigCode/CCNet-style scrub pass
    every LLM training-data pipeline runs before tokenization).

    Sequential, order-defined: emails are counted on the raw text and
    replaced with ``[EMAIL]``; IPv4s are counted on THAT result and
    replaced with ``[IPV4]``; phone-like digit runs are counted last and
    replaced with ``[PHONE]`` (so an IP is never double-counted as a
    phone number). Emits per-type counts, the total, and the fully
    redacted text.

    Shape at scale: three chained ``regexp_replace`` column expressions
    over one scan — map-only, no shuffle, whole-stage codegen.
    """
    text = F.col("text")
    n_emails = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).cast("long")
    t1 = F.regexp_replace(text, PII_EMAIL, "[EMAIL]")
    n_ipv4 = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), 0)).cast("long")
    t2 = F.regexp_replace(t1, PII_IPV4, "[IPV4]")
    n_phones = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), 0)).cast("long")
    t3 = F.regexp_replace(t2, PII_PHONE, "[PHONE]")
    cols = {
        "n_emails": n_emails,
        "n_ipv4": n_ipv4,
        "n_phones": n_phones,
        "pii_total": n_emails + n_ipv4 + n_phones,
        "pii_redacted": t3,
    }
    return df.select("doc_id", *(c.alias(n) for n, c in cols.items()))


# tiny placeholder blocklist — the C4 "bad words" rule; real deployments
# substitute the published word-list for their corpus/language
C4_BADWORDS = ["viagra", "casino", "lottery"]


def c4_line_filters(df: DataFrame) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the
    line-granular companion to the doc-level :func:`gopher_filters`:

    - a LINE is kept iff it (trimmed) ends in terminal punctuation
      (``. ! ? "``), has >= 3 whitespace words, and does
      not contain "javascript" (case-insensitive);
    - ``c4_clean_text`` = kept lines re-joined with newlines;
    - the PAGE is kept (``c4_keep``) iff the cleaned text has >= 5
      sentence-terminal marks and the raw text has no
      "lorem ipsum", no ``{``, and no blocklist word
      (:data:`C4_BADWORDS`, word-boundary match).

    Shape at scale: array lambdas over one scan — map-only, no shuffle, no
    Python; Spark evaluates the lambdas interpreted, per line. Like
    :func:`gopher_filters` this runs before any shuffling operator so
    dropped pages never reach a shuffle.
    """
    text = F.col("text")
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    kept = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]$')
        & (
            F.size(F.filter(F.split(l, r"\s+"), lambda t: F.length(t) > 0))
            >= 3
        )
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.concat_ws("\n", kept)
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0)).cast("long")
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_brace = text.contains("{")
    bad_pat = r"\b(" + "|".join(C4_BADWORDS) + r")\b"
    has_bad = F.lower(text).rlike(bad_pat)
    keep = (n_sent >= 5) & ~has_lorem & ~has_brace & ~has_bad
    cols = {
        "c4_n_lines": F.size(lines).cast("long"),
        "c4_kept_lines": F.size(kept).cast("long"),
        "c4_kept_char_frac": F.round(
            F.length(clean) / F.greatest(F.length(text), F.lit(1)), 6
        ),
        "c4_n_sentences": n_sent,
        "c4_has_lorem": has_lorem,
        "c4_has_brace": has_brace,
        "c4_has_badword": has_bad,
        "c4_keep": keep,
        "c4_clean_text": clean,
    }
    return df.select("doc_id", *(c.alias(n) for n, c in cols.items()))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination for training corpora (the GPT-3 appendix-C
    procedure, also PaLM/Llama eval hygiene): flag every training document
    that shares >= ``min_hits`` DISTINCT token ``n``-grams with a
    benchmark/eval corpus, so evaluation examples can be removed from (or
    accounted for in) the training set. Default n=13 is the published
    GPT-3 overlap width.

    Scale shape — why this is not a join of two shingle tables: the
    benchmark side is eval-sized, so its distinct shingles BROADCAST; the
    training side is the full corpus, so its shingles are enumerated
    map-side (explode, no ``distinct()`` — that would be a full-corpus
    shuffle) and meet the broadcast hash join inside the scan stage. Only
    MATCHING (doc, shingle) rows — a vanishing fraction of a clean corpus
    — reach the one aggregation shuffle, where ``count(DISTINCT shingle)``
    collapses repeat hits; clean documents cost zero shuffle bytes.

    Returns ``docs`` with ``n_contaminated_ngrams`` (distinct benchmark
    n-grams found in the doc) and ``contaminated`` appended. Documents
    shorter than ``n`` tokens are never flagged; a benchmark document that
    also appears in ``docs`` flags itself (by design — that IS
    contamination).
    """
    doc_sh = docs.select(
        "doc_id", F.explode(_ngrams(word_tokens("text"), n)).alias("_sh")
    )
    bench_sh = benchmark.select(
        F.explode(_ngrams(word_tokens("text"), n)).alias("_sh")
    ).distinct()
    per_doc = (
        doc_sh.join(F.broadcast(bench_sh), "_sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("_sh").alias("n_contaminated_ngrams"))
    )
    # r7 (round-6 ADVICE): force the broadcast — per_doc is an aggregate
    # over the contaminated fraction (vanishingly small by the op's
    # contract), but the planner only sees a size ESTIMATE of an
    # aggregate-over-join, which could flip this to a full-corpus
    # SortMergeJoin at larger scale. The explicit hint makes the audited
    # "clean docs cost zero shuffle bytes" shape hold by construction.
    return (
        docs.join(F.broadcast(per_doc), "doc_id", "left")
        .withColumn(
            "n_contaminated_ngrams",
            F.coalesce("n_contaminated_ngrams", F.lit(0).cast("long")),
        )
        .withColumn("contaminated", F.col("n_contaminated_ngrams") >= min_hits)
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Positional rolling fingerprint over the first 64 tokens:
    Σ (pos+1)·(h(token) mod M31) mod M31 — pure integer math, exact in the
    DuckDB oracle, order-sensitive (unlike a bag-of-words hash)."""
    toks = F.slice(word_tokens("text"), 1, 64)
    acc = F.aggregate(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda t, p: (md5_int60(t) % MERSENNE31) * p.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, v: (a + F.coalesce(v, F.lit(0).cast("long"))) % MERSENNE31,
    )
    return df.select("*", acc.alias("fingerprint"))
