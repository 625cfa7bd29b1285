"""M2 — the four triple extractors (SURVEY.md §7 M2).

Each emits rows in the ANNOTATIONS contract (payload columns per annotator,
/root/reference/server.py:700-718) plus the normalized triple view. All
extractors share one mention-pair base relation (a self-join of mentions
within (doc_id, sent_idx) — the only shuffle, keyed by sentence, uniform).

- ``co_occurrence``  payload passthrough (server.py:717-718)
- ``odds_ratio``     corpus-level 2×2 contingency per entity-name pair →
                     (OR, CI, p-value) strings (server.py:705-710); hot
                     entities (the V600E/BRAF analog) concentrate pairs,
                     which the pair count's map-side partial combines
- ``spacy_ore``/``openie_ore``  subject-predicate-object span triples
                     (server.py:711-716): spacy = strict adjacency pattern,
                     openie = unique predicate token between the spans
- ``rbert_cre``      variant-disease relation with 3-label scheme +
                     percent-string confidence (server.py:733) — the label/
                     confidence come from a deterministic portable hash so
                     the Python and DuckDB oracles reproduce them exactly
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import fast_id, key_of
from ..schemas import CRE_LABELS, VARIANT_TYPES

PREDICATES = ["inhibits", "activates", "causes", "treats", "binds", "regulates"]

_PAYLOAD_FIELDS = (
    "or_value", "ci", "p_value", "relation", "confidence",
    "subject", "predicate", "object",
)


def _payload_nulls() -> dict[str, F.Column]:
    # built lazily: F.lit needs an active session in classic mode
    return {f: F.lit(None).cast("string") for f in _PAYLOAD_FIELDS}


def mention_pairs(mentions: DataFrame, sentences: DataFrame) -> DataFrame:
    """Ordered same-sentence mention pairs (m1.offset < m2.offset).

    One shuffle on (doc_id, sent_idx); both sides pre-projected to the
    needed columns so the exchange is thin.
    """
    m = mentions.select(
        "doc_id",
        "sent_idx",
        "mention_idx",
        "name",
        "type",
        "ids",
        "offset",
        "content_sha256",
    )
    m1 = m.select(
        "doc_id",
        "sent_idx",
        "content_sha256",
        F.col("mention_idx").alias("h_idx"),
        F.col("name").alias("h_name"),
        F.col("type").alias("h_type"),
        F.col("ids").alias("h_ids"),
        F.col("offset").alias("h_off"),
    )
    m2 = m.select(
        "doc_id",
        "sent_idx",
        F.col("mention_idx").alias("t_idx"),
        F.col("name").alias("t_name"),
        F.col("type").alias("t_type"),
        F.col("ids").alias("t_ids"),
        F.col("offset").alias("t_off"),
    )
    pairs = m1.join(m2, ["doc_id", "sent_idx"]).filter(
        F.col("h_off") < F.col("t_off")
    )
    return pairs.join(
        sentences.select("doc_id", "sent_idx", "sentence"), ["doc_id", "sent_idx"]
    )


def _finish(df: DataFrame, annotator: str, payload: dict[str, F.Column], score: F.Column) -> DataFrame:
    """Project a pair relation into the ANNOTATIONS contract."""
    cols = _payload_nulls()
    cols.update(payload)
    out = df.select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        F.array(F.col("h_idx")).alias("head"),
        F.array(F.col("t_idx")).alias("tail"),
        F.lit(annotator).alias("annotator"),
        *[c.alias(n) for n, c in cols.items()],
        score.cast("double").alias("score"),
        "content_sha256",
        "h_name",
        "h_type",
        "h_ids",
        "t_name",
        "t_type",
        "t_ids",
    )
    # xxhash64, not md5: MessageDigest.getInstance serializes threads and
    # anti-scales past ~8 cores (see functions/hashing.py) — this column is
    # computed once per emitted annotation, squarely on the hot path
    ann_id = fast_id(
        F.col("doc_id"),
        F.col("sent_idx"),
        F.lit(annotator),
        F.col("head")[0],
        F.col("tail")[0],
        F.coalesce(F.col("predicate"), F.lit("")),
    )
    return out.withColumn("ann_id", ann_id)


def extract_co_occurrence(pairs: DataFrame) -> DataFrame:
    return _finish(pairs, "co_occurrence", {}, F.lit(1.0))


def _between_text() -> F.Column:
    """Trimmed sentence text strictly between the two mention spans."""
    h_end = F.col("h_off") + F.length("h_name")
    return F.trim(
        F.substring(
            F.col("sentence"),
            (h_end + 1).cast("int"),
            F.greatest(F.col("t_off") - h_end, F.lit(0)).cast("int"),
        )
    )


def extract_ore(pairs: DataFrame) -> DataFrame:
    """spacy_ore (adjacent `<e1> <pred> <e2>`) + openie_ore (unique
    predicate token anywhere between, ≤5 tokens gap)."""
    preds = F.array(*[F.lit(p) for p in PREDICATES])
    with_between = pairs.withColumn("_between", _between_text()).withColumn(
        "_btoks", F.split(F.col("_between"), " ")
    )
    spacy = with_between.filter(
        F.array_contains(preds, F.col("_between"))
    )
    spacy_ann = _finish(
        spacy,
        "spacy_ore",
        {
            "subject": F.col("h_name"),
            "predicate": F.col("_between"),
            "object": F.col("t_name"),
        },
        F.lit(1.5),
    )
    # array_intersect, NOT a filter() higher-order function: HOF lambdas
    # evaluate interpreted and anti-scale with executor threads (round-1
    # history/SCALING.json measurement); array_intersect is a codegen expression
    # with identical semantics here (preds are distinct, order preserved)
    found = F.array_intersect(preds, F.col("_btoks"))
    openie = (
        with_between.withColumn("_found", found)
        .filter((F.size("_found") == 1) & (F.size("_btoks") <= 5))
        .withColumn("_pred", F.element_at("_found", 1))
    )
    openie_ann = _finish(
        openie,
        "openie_ore",
        {
            "subject": F.col("h_name"),
            "predicate": F.col("_pred"),
            "object": F.col("t_name"),
        },
        F.lit(1.5),
    )
    return spacy_ann.unionByName(openie_ann)


def extract_cre(pairs: DataFrame) -> DataFrame:
    """R-BERT-style variant↔disease relations, deterministic scoring.

    Confidence is a "93.2%"-style percent string (parse contract at
    server.py:733); label ∈ {Cause-associated, In-patient, Appositive}.
    Both derive from the xxhash64 of the pair key.
    """
    vt = F.array(*[F.lit(t) for t in VARIANT_TYPES])
    vd = pairs.filter(
        (F.array_contains(vt, F.col("h_type")) & (F.col("t_type") == "Disease"))
        | (F.array_contains(vt, F.col("t_type")) & (F.col("h_type") == "Disease"))
    )
    # lock-free hash; pmod because xxhash64 is signed (oracle mirror:
    # functions.hashing.xxh64_pmod)
    h = F.xxhash64(
        key_of(F.col("doc_id"), F.col("sent_idx"), F.col("h_off"), F.col("t_off"), F.lit("cre"))
    )
    label = F.element_at(
        F.array(*[F.lit(x) for x in CRE_LABELS]), (F.pmod(h, F.lit(3)) + 1).cast("int")
    )
    conf_tenths = 500 + F.pmod(h, F.lit(500))  # 50.0% .. 99.9%
    confidence = F.concat(
        (conf_tenths / 10).cast("decimal(4,1)").cast("string"), F.lit("%")
    )
    return _finish(
        vd,
        "rbert_cre",
        {"relation": label, "confidence": confidence},
        (conf_tenths / 1000.0) * 3.0,
    )


@F.pandas_udf(T.DoubleType())
def _erfc_sqrt_half(chi2: pd.Series) -> pd.Series:
    """p-value of a 1-dof chi-square: erfc(sqrt(x/2)). Vectorized via
    numpy-free math.erfc over an Arrow batch (tiny aggregated input)."""
    return chi2.map(lambda x: math.erfc(math.sqrt(x / 2.0)) if pd.notna(x) else None)


def pair_contingency(
    mentions: DataFrame,
    sentences: DataFrame,
    n_sentences: int | None = None,
) -> DataFrame:
    """Corpus-level 2×2 contingency per unordered lowercased name pair.

    a = sentences with both names, b = with n1 only, c = with n2 only,
    d = N − a − b − c. Hot entities (the HOT analog appears in a large
    share of sentences) reach the pair count's reducer pre-combined by its
    map-side partial count.

    ``n_sentences``: total distinct sentence count. When the caller
    already knows it (the pipeline runner records the sentences stage's
    committed row count in its lineage marker, and that table is one row
    per (doc_id, sent_idx) by construction), passing it removes a FULL
    distinct+count job over the sentence table from this stage's critical
    path — one of the measured driver-phase serial costs behind the
    annotations stage's weak 2→8 scaling (round-3 VERDICT #3). None →
    computed here as before.
    """
    # r7: one collect_set aggregation replaces the old distinct + per-key
    # self-join (distinct exchange + two join exchanges + SMJ): the
    # per-sentence distinct name set is collected once, and unordered
    # pairs (n1 < n2) fall out of a double explode of that bounded array
    # (a sentence holds a handful of mentions). Pair multiset and name
    # counts are identical to the self-join formulation (guide §2.4:
    # remove the join's exchanges outright, §2.3: shuffle name sets, not
    # pair rows).
    per_sent = (
        mentions.select("doc_id", "sent_idx", F.lower(F.col("name")).alias("nm"))
        .groupBy("doc_id", "sent_idx")
        # sort_array, not array_sort: the latter's default comparator is an
        # interpreted lambda; collect_set holds no nulls, so both agree
        .agg(F.sort_array(F.collect_set("nm")).alias("_nms"))
    )
    sent_pairs = (
        per_sent.select(
            "doc_id", "sent_idx", F.explode("_nms").alias("n1"), F.col("_nms")
        )
        .select("doc_id", "sent_idx", "n1", F.explode("_nms").alias("n2"))
        .filter(F.col("n1") < F.col("n2"))
    )

    a = sent_pairs.groupBy("n1", "n2").agg(F.count(F.lit(1)).alias("a"))
    name_counts = per_sent.select(F.explode("_nms").alias("nm")).groupBy("nm").agg(
        F.count(F.lit(1)).alias("nc")
    )
    total = (
        n_sentences
        if n_sentences is not None
        else sentences.select("doc_id", "sent_idx").distinct().count()
    )

    c1 = name_counts.select(F.col("nm").alias("n1"), F.col("nc").alias("n1c"))
    c2 = name_counts.select(F.col("nm").alias("n2"), F.col("nc").alias("n2c"))
    cont = (
        a.join(F.broadcast(c1), "n1")
        .join(F.broadcast(c2), "n2")
        .withColumn("b", F.col("n1c") - F.col("a"))
        .withColumn("c", F.col("n2c") - F.col("a"))
        .withColumn("d", F.lit(total) - F.col("a") - F.col("b") - F.col("c"))
    )
    # Haldane-Anscombe 0.5 correction keeps OR/CI finite on zero cells.
    aa, bb, cc, dd = [F.col(x) + F.lit(0.5) for x in ("a", "b", "c", "d")]
    ln_or = F.log((aa * dd) / (bb * cc))
    se = F.sqrt(1 / aa + 1 / bb + 1 / cc + 1 / dd)
    # chi-square in DOUBLE: the marginal product (a+b)(c+d)(a+c)(b+d)
    # overflows int64 already at ~10^5 documents per cell
    ad, bd, cd2, dd2 = [F.col(x).cast("double") for x in ("a", "b", "c", "d")]
    n_tot = ad + bd + cd2 + dd2
    chi_num = n_tot * F.pow(ad * dd2 - bd * cd2, 2)
    chi_den = (ad + bd) * (cd2 + dd2) * (ad + cd2) * (bd + dd2)
    chi2 = F.when(chi_den > 0, chi_num / chi_den).otherwise(F.lit(0.0))
    return cont.select(
        "n1",
        "n2",
        "a",
        "b",
        "c",
        "d",
        F.round(F.exp(ln_or), 4).alias("odds_ratio"),
        F.round(F.exp(ln_or - 1.96 * se), 4).alias("ci_low"),
        F.round(F.exp(ln_or + 1.96 * se), 4).alias("ci_high"),
        F.round(_erfc_sqrt_half(chi2), 6).alias("p"),
    )


def extract_odds_ratio(pairs: DataFrame, contingency: DataFrame) -> DataFrame:
    """Attach corpus-level (OR, CI, p-value) strings to each co-occurring
    sentence pair — the reference's odds_ratio annotation payload."""
    keyed = pairs.withColumn(
        "n1", F.least(F.lower("h_name"), F.lower("t_name"))
    ).withColumn("n2", F.greatest(F.lower("h_name"), F.lower("t_name")))
    joined = keyed.join(contingency, ["n1", "n2"], "inner").filter(F.col("a") >= 1)
    return _finish(
        joined,
        "odds_ratio",
        {
            "or_value": F.col("odds_ratio").cast("string"),
            "ci": F.concat_ws(
                ", ", F.col("ci_low").cast("string"), F.col("ci_high").cast("string")
            ),
            "p_value": F.col("p").cast("string"),
        },
        F.lit(2.0),
    )


def extract_all_unioned(
    mentions: DataFrame, sentences: DataFrame, n_sentences: int | None = None
) -> DataFrame:
    """Reference formulation: four branch extractors unioned. Kept as the
    semantic spec for :func:`extract_all` (the fused single-pass plan) —
    the parity test asserts both produce identical row multisets."""
    pairs = mention_pairs(mentions, sentences)
    cont = pair_contingency(mentions, sentences, n_sentences=n_sentences)
    anns = (
        extract_co_occurrence(pairs)
        .unionByName(extract_ore(pairs))
        .unionByName(extract_cre(pairs))
        .unionByName(extract_odds_ratio(pairs, cont))
    )
    return anns


def extract_all(
    mentions: DataFrame, sentences: DataFrame, n_sentences: int | None = None
) -> DataFrame:
    """Run all four extractors in ONE pass over the pair relation.

    Round 2 unioned four branches, each recomputing the (self-join +
    sentence join) pair relation — 4× the shuffle volume, with every pair
    row carrying its full sentence text through every branch. That write/
    shuffle volume was the annotations stage's measured anti-scaler at 32
    threads (history/SCALING.json round 2). The fused plan:

    1. build the pair relation once, compute the between-text immediately
       and DROP the sentence string (the widest column) before anything
       shuffles again;
    2. left-join the corpus contingency table once (the odds_ratio branch
       needs it; AQE skew-join splits the hot-name keys);
    3. emit an array of up to five per-annotator candidate structs per
       pair and explode — one Generate, no HOF lambda (interpreted HOF
       eval anti-scales with threads, round-1 measurement), nulls dropped
       by a codegen filter.

    Output rows are identical to :func:`extract_all_unioned` (column for
    column, ann_id for ann_id) — asserted by test_extractors parity.
    """
    pairs = mention_pairs(mentions, sentences)
    thin = (
        pairs.withColumn("_between", _between_text())
        .drop("sentence")
        .withColumn("_btoks", F.split(F.col("_between"), " "))
    )
    cont = pair_contingency(mentions, sentences, n_sentences=n_sentences)
    keyed = thin.withColumn(
        "n1", F.least(F.lower("h_name"), F.lower("t_name"))
    ).withColumn("n2", F.greatest(F.lower("h_name"), F.lower("t_name")))
    joined = keyed.join(cont, ["n1", "n2"], "left")

    def ann_struct(annotator: str, payload: dict, score: F.Column) -> F.Column:
        cols = _payload_nulls()
        cols.update(payload)
        return F.struct(
            F.lit(annotator).alias("annotator"),
            *[c.alias(n) for n, c in cols.items()],
            score.cast("double").alias("score"),
        )

    # --- spacy_ore / openie_ore conditions (mirror extract_ore) ---
    preds = F.array(*[F.lit(p) for p in PREDICATES])
    spacy_cond = F.array_contains(preds, F.col("_between"))
    found = F.array_intersect(preds, F.col("_btoks"))
    openie_cond = (F.size(found) == 1) & (F.size(F.col("_btoks")) <= 5)

    # --- rbert_cre condition + deterministic label/confidence (extract_cre) ---
    vt = F.array(*[F.lit(t) for t in VARIANT_TYPES])
    cre_cond = (
        F.array_contains(vt, F.col("h_type")) & (F.col("t_type") == "Disease")
    ) | (F.array_contains(vt, F.col("t_type")) & (F.col("h_type") == "Disease"))
    h = F.xxhash64(
        key_of(F.col("doc_id"), F.col("sent_idx"), F.col("h_off"), F.col("t_off"), F.lit("cre"))
    )
    label = F.element_at(
        F.array(*[F.lit(x) for x in CRE_LABELS]), (F.pmod(h, F.lit(3)) + 1).cast("int")
    )
    conf_tenths = 500 + F.pmod(h, F.lit(500))
    confidence = F.concat(
        (conf_tenths / 10).cast("decimal(4,1)").cast("string"), F.lit("%")
    )

    # --- odds_ratio condition (joined contingency present, a ≥ 1) ---
    or_cond = F.col("a").isNotNull() & (F.col("a") >= 1)

    cands = F.array(
        ann_struct("co_occurrence", {}, F.lit(1.0)),
        F.when(
            spacy_cond,
            ann_struct(
                "spacy_ore",
                {
                    "subject": F.col("h_name"),
                    "predicate": F.col("_between"),
                    "object": F.col("t_name"),
                },
                F.lit(1.5),
            ),
        ),
        F.when(
            openie_cond,
            ann_struct(
                "openie_ore",
                {
                    "subject": F.col("h_name"),
                    "predicate": F.element_at(found, 1),
                    "object": F.col("t_name"),
                },
                F.lit(1.5),
            ),
        ),
        F.when(
            cre_cond,
            ann_struct(
                "rbert_cre",
                {"relation": label, "confidence": confidence},
                (conf_tenths / 1000.0) * 3.0,
            ),
        ),
        F.when(
            or_cond,
            ann_struct(
                "odds_ratio",
                {
                    "or_value": F.col("odds_ratio").cast("string"),
                    "ci": F.concat_ws(
                        ", ", F.col("ci_low").cast("string"), F.col("ci_high").cast("string")
                    ),
                    "p_value": F.col("p").cast("string"),
                },
                F.lit(2.0),
            ),
        ),
    )

    exploded = joined.select(
        "doc_id",
        F.col("sent_idx").cast("int").alias("sent_idx"),
        F.array(F.col("h_idx")).alias("head"),
        F.array(F.col("t_idx")).alias("tail"),
        "content_sha256",
        "h_name",
        "h_type",
        "h_ids",
        "t_name",
        "t_type",
        "t_ids",
        F.explode(cands).alias("_a"),
    ).filter(F.col("_a").isNotNull())

    out = exploded.select(
        "doc_id",
        "sent_idx",
        "head",
        "tail",
        F.col("_a.annotator").alias("annotator"),
        *[F.col(f"_a.{f}").alias(f) for f in _PAYLOAD_FIELDS],
        F.col("_a.score").alias("score"),
        "content_sha256",
        "h_name",
        "h_type",
        "h_ids",
        "t_name",
        "t_type",
        "t_ids",
    )
    ann_id = fast_id(
        F.col("doc_id"),
        F.col("sent_idx"),
        F.col("annotator"),
        F.col("head")[0],
        F.col("tail")[0],
        F.coalesce(F.col("predicate"), F.lit("")),
    )
    return out.withColumn("ann_id", ann_id)


def to_triples(annotations_wide: DataFrame) -> DataFrame:
    """Normalized triple view: subj/obj = top-ranked entity id of the
    head/tail mention; pred = relation (CRE) / predicate (ORE) / annotator."""
    pred = F.coalesce(F.col("relation"), F.col("predicate"), F.col("annotator"))
    return annotations_wide.select(
        F.element_at("h_ids", 1).alias("subj"),
        pred.alias("pred"),
        F.element_at("t_ids", 1).alias("obj"),
        "annotator",
        "score",
        "doc_id",
        "sent_idx",
        "content_sha256",
    )
