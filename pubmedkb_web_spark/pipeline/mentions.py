"""M1 — batched mention detection + NEN-style entity linking.

Reference semantics re-expressed Spark-first:

- sentence split: the reference stores pre-split sentences
  (/root/reference/kb_utils.py:1474-1484); our corpus uses ". "-joined
  sentences, split JVM-side.
- token n-gram span enumeration: spans of ≤N tokens within 3..100 chars
  (/root/reference/kb_utils.py:806-856 — its UMLS annotator enumerates spaCy
  token n-grams with exactly these bounds). Implemented as one sorted
  window pass of ``lead`` columns over the token positions — codegen in
  the JVM, no Python and no interpreted array lambda in the hot path.
- dictionary match: broadcast hash join of spans against the NEN dictionary
  (/root/reference/kb_utils.py:829-852 probes every n-gram against an
  in-memory dict — the classic broadcast-join shape, SURVEY.md J14).
- candidate ranking: ids per matched name ordered by (freq desc, id) —
  get_ids_by_name semantics (/root/reference/kb_utils.py:365-372).
- overlap removal: greedy keep-first by start offset, longer span wins on
  ties (/root/reference/server.py:1292-1302) — inherently sequential per
  sentence, so it runs as an Arrow-batched pandas UDF over the grouped
  per-sentence candidate arrays (grouping and sorting stay JVM-side).
- GLOF track: GLOF mentions are resolved within their own population, then
  dropped wherever they overlap a normal mention, then merged back sorted
  by offset (/root/reference/server.py:1304-1334) — the subtraction is a
  per-sentence range anti-join, pure codegen.

Scale notes (100 TB): every step before the final groupBy is narrow
(map-only). The only shuffle is that groupBy, which collects each
sentence's candidates keyed by (doc_id, sent_idx) — uniformly distributed,
no skew: doc_id is a sha256 prefix. The overlap fold is a scalar pandas UDF
over the grouped arrays, with no further shuffle. The dictionary
(~millions of names at full scale) broadcasts at ≤ a few hundred MB; above
that, switch the join to a bucketed sort-merge on name_lower.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_SPAN_CHARS = 100
MIN_SPAN_CHARS = 3


def split_sentences(source_ingested: DataFrame) -> DataFrame:
    """source → sentences(doc_id, sent_idx, sentence, section, content_sha256)."""
    return (
        source_ingested.select(
            "doc_id",
            "content_sha256",
            F.posexplode(F.split(F.col("content"), r"\.\s+")).alias("sent_idx", "sentence"),
        )
        .withColumn("sentence", F.regexp_replace("sentence", r"\.$", ""))
        .filter(F.length("sentence") > 0)
        .select(
            "doc_id",
            F.col("sent_idx").cast("int").alias("sent_idx"),
            "sentence",
            F.lit("abstract").alias("section"),
            "content_sha256",
        )
    )


def enumerate_spans(sentences: DataFrame, max_tokens: int) -> DataFrame:
    """All token n-grams (n ≤ max_tokens, 3..100 chars) with char offsets.

    Codegen-friendly formulation: posexplode the tokens, compute each
    token's char offset with a window cumulative sum, then build ALL
    n-grams in the same single window pass via lead(tok, k)/lead(pos, k)
    columns — one shuffle on (doc_id, sent_idx), one sort, no per-level
    self-joins (see the in-line note below).

    An earlier version did this per-row with nested higher-order functions
    (sequence/transform/filter with an aggregate for the offset). That is
    shuffle-free but evaluates *interpreted*, and interpreted lambda eval
    degrades under thread parallelism (measured: the identical span count
    took 26.6 s on local[2] and 103.9 s on local[8]). Window + join stays
    inside whole-stage codegen and scales with cores.
    """
    from pyspark.sql import Window as W

    toks = F.split(F.col("sentence"), " ")
    base = sentences.select(
        "doc_id",
        "sent_idx",
        "content_sha256",
        F.posexplode(toks).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id", "sent_idx").orderBy("pos")
    raw_tokens = base.withColumn(
        "offset",
        F.coalesce(
            F.sum(F.length("tok") + 1).over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("int"),
    )
    # Tokenizer fidelity (round-2 VERDICT #6): the reference enumerates
    # spaCy token n-grams (kb_utils.py:806-856), where punctuation detaches
    # from words — "BRAF," and "(V600E)" still match their dictionary
    # entries. Mirror that by stripping leading/trailing non-word chars per
    # whitespace token (offset advanced past the leading strip); a token
    # that is pure punctuation drops out and BLOCKS n-grams across it (its
    # position gap breaks the consecutive-position chain), matching spaCy
    # where the punctuation token would sit inside the n-gram. The Python
    # oracle (tests/oracle.py) encodes the identical rule.
    # explicit ASCII class, not \W: Java \W is ASCII-only while Python's is
    # Unicode-aware — the oracle and the engine must agree byte-for-byte.
    # The regexes only run on tokens whose EDGE chars are non-word (an
    # ascii-code range check, pure codegen arithmetic): clean tokens — the
    # overwhelming majority — pay zero regex cost (the unguarded version
    # measured mentions 48→134 s at 400k docs).
    _punct = "[^0-9A-Za-z_]"

    def _is_word(c: F.Column) -> F.Column:
        return (
            ((c >= 48) & (c <= 57))
            | ((c >= 65) & (c <= 90))
            | ((c >= 97) & (c <= 122))
            | (c == 95)
        )

    clean = _is_word(F.ascii(F.substring(F.col("tok"), 1, 1))) & _is_word(
        F.ascii(F.substring(F.col("tok"), -1, 1))
    )
    lead = F.when(clean, F.lit(0)).otherwise(
        F.length(F.regexp_extract(F.col("tok"), f"^({_punct}+)", 1))
    )
    core = F.when(clean, F.col("tok")).otherwise(
        F.regexp_replace(
            F.regexp_replace(F.col("tok"), f"^{_punct}+", ""), f"{_punct}+$", ""
        )
    )
    tokens = (
        raw_tokens.withColumn("_clean", clean)
        .withColumn("_core", core)
        .filter(F.col("_clean") | (F.length("_core") > 0))
        .select(
            "doc_id",
            "sent_idx",
            "content_sha256",
            "pos",
            (F.col("offset") + lead).cast("int").alias("offset"),
            F.col("_core").alias("tok"),
        )
    )

    # N-gram construction: ONE window pass with lead(tok,k)/lead(pos,k)
    # columns, not per-level self-joins. An earlier version extended spans
    # by joining the token relation once per n-gram level; the join key
    # includes the position equality (nxt_pos == pos + 1), so every level
    # re-shuffled the full span relation on a fresh key — max_tokens
    # shuffles of the widest intermediate. The lead() formulation computes
    # every n-gram in one sorted window evaluation (the same window spec as
    # the offset cumsum above, so Catalyst collapses both into a single
    # sort). Validity needs only the LAST lead position: positions are
    # strictly increasing, so lead(pos, n-1) == pos + n - 1 forces every
    # intermediate gap to be exactly 1 (a dropped pure-punct token makes a
    # gap > 1 and correctly blocks the n-gram).
    lw = W.partitionBy("doc_id", "sent_idx").orderBy("pos")
    led = tokens
    for k in range(1, max_tokens):
        led = led.withColumn(f"_t{k}", F.lead("tok", k).over(lw)).withColumn(
            f"_p{k}", F.lead("pos", k).over(lw)
        )
    # Each gram struct carries its CONSTRUCTION-ORDER index within the
    # start token: the reference's annotator scans term lengths LONGEST
    # FIRST per starting token (kb_utils.py:828-834, `range(max, 0, -1)`),
    # so the n-gram of n tokens is the (max_tokens - n)-th candidate built
    # at this position. enum_idx = pos * (max_tokens + 1) + (max_tokens - n)
    # totally orders candidates by (start pos asc, length desc) — exactly
    # the order the reference's stable offset sort (server.py:1296)
    # preserves on same-offset ties.
    grams = [
        F.struct(
            F.col("tok").alias("span_text"),
            F.lit(max_tokens - 1).alias("rel"),
        )
    ]
    for n in range(2, max_tokens + 1):
        valid = F.col(f"_p{n-1}") == F.col("pos") + (n - 1)
        text = F.concat_ws(
            " ", F.col("tok"), *[F.col(f"_t{k}") for k in range(1, n)]
        )
        grams.append(
            F.when(
                valid,
                F.struct(
                    text.alias("span_text"),
                    F.lit(max_tokens - n).alias("rel"),
                ),
            ).otherwise(F.lit(None))
        )
    exploded = led.select(
        "doc_id",
        "sent_idx",
        "content_sha256",
        "offset",
        "pos",
        F.explode(F.array(*grams)).alias("_g"),
    ).select(
        "doc_id",
        "sent_idx",
        "content_sha256",
        "offset",
        F.col("_g.span_text").alias("span_text"),
        (F.col("pos") * (max_tokens + 1) + F.col("_g.rel"))
        .cast("int")
        .alias("enum_idx"),
    )
    return exploded.filter(
        F.col("span_text").isNotNull()
        & (F.length("span_text") >= MIN_SPAN_CHARS)
        & (F.length("span_text") <= MAX_SPAN_CHARS)
    ).select("doc_id", "sent_idx", "content_sha256", "offset", "span_text", "enum_idx")


def dictionary_candidates(spans: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Broadcast-join spans against the dictionary (case-insensitive).

    Output: one row per (span occurrence, type) with the freq-ranked id list
    — mention `ids` per kb_utils.py:365-372 (ids sorted by freq desc).
    """
    dict_by_name = (
        entity_dict.groupBy(F.lower(F.col("name")).alias("name_lower"), "type")
        .agg(
            # freq desc then id asc, deterministically, without a window:
            # sort struct(-freq, id) ascending, then project id (a struct
            # field of an array, no lambda). Case aliases share ids → dedupe
            # keeping each id's highest-freq slot.
            F.array_distinct(
                F.sort_array(
                    F.collect_list(F.struct((-F.col("freq")).alias("nf"), F.col("id").alias("id")))
                ).getField("id")
            ).alias("ids")
        )
    )
    return spans.join(
        F.broadcast(dict_by_name),
        F.lower(F.col("span_text")) == F.col("name_lower"),
        "inner",
    ).select(
        "doc_id",
        "sent_idx",
        "content_sha256",
        "offset",
        F.col("span_text").alias("name"),
        "type",
        "ids",
        "enum_idx",
    )


# built with explicit DataType objects (not a DDL string) so the pandas UDF
# can be declared at import time with no active SparkSession
_CAND_TYPE = T.StructType(
    [
        T.StructField("offset", T.IntegerType()),
        T.StructField("enum_idx", T.IntegerType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("ids", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(T.ArrayType(_CAND_TYPE))
def _greedy_nonoverlap(cands: pd.Series) -> pd.Series:
    """Greedy keep-first fold over a pre-sorted candidate array.

    One Arrow batch carries ~10k sentences; the per-sentence scan is O(c)
    with a plain list append. Runs in the per-task Python worker process —
    no GIL sharing across executor threads, no JVM interpreted-eval."""

    def fold(lst):
        kept, last_end = [], -1
        for c in lst:
            start = int(c["offset"])
            if start >= last_end:
                kept.append(c)
                last_end = start + len(c["name"])
        return kept

    return cands.map(fold)


def resolve_overlaps(candidates: DataFrame) -> DataFrame:
    """Greedy non-overlap resolution per sentence (server.py:1292-1302).

    Sort by (offset asc, enum_idx asc, type asc, name) and keep a span iff
    it starts at/after the end of the last kept span. The reference sorts
    its candidate list with Python's *stable* sort on offset alone
    (server.py:1296), so same-offset ties preserve CONSTRUCTION ORDER —
    and its span enumerator constructs candidates longest-first per start
    token (kb_utils.py:828-834). ``enum_idx`` carries exactly that
    enumeration order from :func:`enumerate_spans` through the dictionary
    join, so the stable-sort behavior is reproduced, not approximated.
    (type, name) remains as a final determinism guard for the one case the
    reference leaves unordered: the same span text matching under two
    dictionary types — its name_dict collapses those by name, ours keeps
    the typed rows. Exactly one mention survives per position, like the
    reference: ties on the identical span keep only the first
    (server.py:1295-1302 appends only when ``offset >= last_offset``, so a
    same-span duplicate is dropped).

    The scan is inherently sequential per sentence — a *kept* span's end
    decides the next keep while a *rejected* span's end must not, so no
    cummax/lag window can express it (a rejected long span would wrongly
    block later spans). It runs as an Arrow-batched pandas UDF over the
    per-sentence candidate arrays: grouping + sort_array stay JVM-side and
    the fold crosses to Python once per batch of sentences. This replaces
    the interpreted higher-order ``aggregate`` fold whose lambda interpreter
    measured anti-scaling with executor threads (history/SCALING.json round 1) and
    whose array-append state was O(c²) per sentence.
    """
    cand = F.struct(
        F.col("offset").cast("int").alias("offset"),
        F.col("enum_idx").cast("int").alias("enum_idx"),
        F.col("type").alias("type"),
        F.col("name").alias("name"),
        F.col("ids").alias("ids"),
    )
    grouped = candidates.groupBy("doc_id", "sent_idx", "content_sha256").agg(
        F.sort_array(F.collect_list(cand)).alias("cands")
    )
    kept = _greedy_nonoverlap(F.col("cands"))
    return (
        grouped.select(
            "doc_id",
            "sent_idx",
            "content_sha256",
            F.posexplode(kept).alias("mention_idx", "m"),
        )
        .select(
            "doc_id",
            "sent_idx",
            "content_sha256",
            F.col("m.offset").alias("offset"),
            F.col("m.name").alias("name"),
            F.col("m.type").alias("type"),
            F.col("m.ids").alias("ids"),
            F.col("mention_idx").cast("int").alias("mention_idx"),
        )
    )


def subtract_glof_overlaps(mentions: DataFrame, glof_mentions: DataFrame) -> DataFrame:
    """Merge the normal and GLOF mention tracks per the reference
    (server.py:1304-1334): both sides arrive already non-overlapping within
    their own population; drop every GLOF mention whose character range
    intersects any normal mention in the same sentence; merge and re-sort by
    offset, renumbering mention_idx.

    The subtraction is a left-anti hash join on (doc_id, sent_idx) with the
    range-intersection predicate as a codegen filter — per sentence both
    sides are tiny, the key is a sha256-prefix doc id, no skew. The
    renumbering window is partitioned per sentence (parallel)."""
    from pyspark.sql import Window as W

    # both tracks share the sentences subplan (a self-join); qualified
    # string aliases keep the resolver unambiguous
    g = glof_mentions.alias("g")
    norm = mentions.select("doc_id", "sent_idx", "offset", "name").alias("n")
    clean_glof = g.join(
        norm,
        (F.col("g.doc_id") == F.col("n.doc_id"))
        & (F.col("g.sent_idx") == F.col("n.sent_idx"))
        & (F.col("g.offset") < F.col("n.offset") + F.length("n.name"))
        & (F.col("n.offset") < F.col("g.offset") + F.length("g.name")),
        "left_anti",
    )
    merged = mentions.unionByName(clean_glof)
    # offsets are unique per sentence after subtraction (each population is
    # non-overlapping and cross-population overlaps were dropped)
    w = W.partitionBy("doc_id", "sent_idx").orderBy("offset")
    return merged.withColumn(
        "mention_idx", (F.row_number().over(w) - 1).cast("int")
    )


def glof_sentence_prefilter(sentences: DataFrame, glof_dict: DataFrame) -> DataFrame:
    """Drop sentences that cannot possibly yield a GLOF dictionary match
    BEFORE paying for span enumeration.

    A GLOF candidate is an n-gram of punctuation-stripped tokens equal
    (case-insensitively) to a dict term. Consecutive n-gram words come from
    ADJACENT space-split tokens (a dropped pure-punct token leaves a
    position gap that blocks the n-gram), so between two term words the
    raw sentence always holds exactly one literal space, flanked by the
    tokens' edge punctuation. Joining the term words with ``[^ ]* [^ ]*``
    — at least one literal space, any non-space junk around it — is
    therefore a strict superset test with zero false negatives, EVEN under
    Unicode lowering: a separator char that ``lower()`` maps into an ASCII
    word char (U+212A Kelvin → 'k', U+0130 → 'i'+combining dot) lands in
    the ``[^ ]*`` junk, unlike the previous ``[^0-9a-z_]+`` joiner which
    such a char would break (round-3 ADVICE). Term-word chars themselves
    lower contiguously (simple per-char mapping), so the plain lowered
    words match as substrings. One `rlike` per sentence replaces a full
    n-gram enumeration over the whole corpus with one over the (tiny)
    matching subset; false positives only pay enumeration. Skipped for
    dictionaries too large for one regex (the GLOF term list,
    /root/reference/server.py:1292-1334, is a fixed handful).

    NOTE: this function runs an EAGER driver-side job at plan-construction
    time (`glof_dict.select("name").collect()` — dictionary-sized, tiny by
    contract); callers building plans they may never execute still pay it.
    """
    import re as _re

    names = [r["name"] for r in glof_dict.select("name").distinct().collect()]
    if not names or len(names) > 256:
        return sentences
    parts = []
    for nm in names:
        words = [w for w in nm.lower().split(" ") if w]
        if not words:
            continue
        parts.append("[^ ]* [^ ]*".join(_re.escape(w) for w in words))
    if not parts:
        return sentences
    pattern = "(?:" + "|".join(sorted(parts)) + ")"
    return sentences.filter(F.lower(F.col("sentence")).rlike(pattern))


def build_glof_mentions(
    sentences: DataFrame, glof_dict: DataFrame, max_tokens: int
) -> DataFrame:
    """GLOF track over the same sentences: identical M1 machinery with the
    GLOF term dictionary (type='GLOF', ids=[direction]); overlap-resolved
    within its own population (server.py:1304-1313)."""
    spans = enumerate_spans(
        glof_sentence_prefilter(sentences, glof_dict), max_tokens=max_tokens
    )
    candidates = dictionary_candidates(spans, glof_dict)
    return resolve_overlaps(candidates).select(
        "doc_id", "sent_idx", "mention_idx", "name", "type", "ids",
        "offset", "content_sha256",
    )


def glof_evidence(mentions_merged: DataFrame) -> DataFrame:
    """Entity-GLOF evidence rows: (type, key, direction, doc_id, sent_idx)
    — every normal entity mention co-sentence with a GLOF mention, direction
    = gof/lof from the GLOF term id (the GeVarToGLOF store shape,
    server.py:1472-1523). Sentence-local equi-join, no skew."""
    glof = mentions_merged.filter(F.col("type") == "GLOF").select(
        "doc_id", "sent_idx", F.col("ids")[0].alias("direction")
    )
    ents = mentions_merged.filter(F.col("type") != "GLOF").select(
        "doc_id", "sent_idx", "type", F.explode("ids").alias("key")
    )
    return (
        ents.join(glof, ["doc_id", "sent_idx"])
        .select("type", "key", "direction", "doc_id", "sent_idx")
        .dropDuplicates()
    )


def build_mentions(
    source_ingested: DataFrame,
    entity_dict: DataFrame,
    max_tokens: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full M1: source → (sentences, mentions).

    ``max_tokens`` (max dictionary-name token count, bounds the n-gram
    explode factor) is a driver-side scalar. None → computed here, with
    one narrow job over the dictionary."""
    sentences = split_sentences(source_ingested)
    if max_tokens is None:
        max_tokens = (
            entity_dict.select(F.max(F.size(F.split(F.col("name"), " "))).alias("m"))
            .collect()[0]["m"]
        )
    spans = enumerate_spans(sentences, max_tokens=int(max_tokens))
    candidates = dictionary_candidates(spans, entity_dict)
    mentions = resolve_overlaps(candidates).select(
        "doc_id",
        "sent_idx",
        "mention_idx",
        "name",
        "type",
        "ids",
        "offset",
        "content_sha256",
    )
    return sentences, mentions
