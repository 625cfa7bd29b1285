"""NEN fuzzy name lookup (/query_name_to_id_alias, SURVEY.md §3.2).

Reference algorithm (/root/reference/kb_utils.py:296-380):

1. candidate blocking by name length: only names with
   ``|len(name) − len(query)| ≤ max_length_diff`` are scored
   (the ``length_name`` index, kb_utils.py:319-334) — here a derived
   ``length(name)`` range predicate in one scan of the dictionary;
2. similarity = ``difflib.SequenceMatcher.ratio()`` — NOT Levenshtein
   similarity (SURVEY.md §7 hard-part #1); the collected bucket is scored
   with stdlib difflib on the driver, as the reference scores it on its
   server, so parity is exact *by construction*;
3. threshold ``min_similarity`` (default 0.85), top ``max_names`` by
   (similarity desc, name asc) — deterministic tiebreak;
4. per name: ids ranked by frequency desc (kb_utils.py:365-372);
5. per (type, id): top ``max_aliases`` aliases by frequency
   (kb_utils.py:374-380).

Scale: the dictionary is the only scanned table, and blocking prunes it to
one length bucket before Python sees a name. A bucket of more than
``MAX_BUCKET_ROWS`` rows raises ``ValueError`` instead of reaching the
driver. No step runs a Python worker.
"""

from __future__ import annotations

import difflib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..schemas import VARIANT_TYPES as VARIANT_UMBRELLA
from . import bound

DEFAULT_MIN_SIMILARITY = 0.85
DEFAULT_MAX_LENGTH_DIFF = 1
DEFAULT_MAX_NAMES = 20
DEFAULT_MAX_ALIASES = 10


# the most dictionary rows one length bucket may hold: the bucket is scored
# on the driver, so a larger one raises instead of being collected. Scoring
# 100,000 distinct names took 1.6 s at 10 characters and 10.9 s at 40 on one
# core of a 4-vCPU host.
MAX_BUCKET_ROWS = 100_000

_NAMES = T.StructType(
    [T.StructField("name", T.StringType()), T.StructField("similarity", T.DoubleType())]
)


def fuzzy_names(
    entity_dict: DataFrame,
    query: str,
    case_sensitive: bool = False,
    min_similarity: float = DEFAULT_MIN_SIMILARITY,
    max_length_diff: int = DEFAULT_MAX_LENGTH_DIFF,
    max_names: int = DEFAULT_MAX_NAMES,
) -> DataFrame:
    """→ (name, similarity), the reference's get_names_by_query, as a local
    relation. One filtered scan collects the length bucket (no DISTINCT: the
    driver deduplicates), capped at ``MAX_BUCKET_ROWS + 1`` rows."""
    q = query if case_sensitive else query.lower()
    cmp_name = "name" if case_sensitive else "lower(name)"
    lo, hi = len(q) - int(max_length_diff), len(q) + int(max_length_diff)
    bucket = bound.sql(
        f"SELECT {cmp_name} AS name FROM {{entity_dict}} "
        f"WHERE length({cmp_name}) BETWEEN {lo} AND {hi} LIMIT {MAX_BUCKET_ROWS + 1}",
        entity_dict=entity_dict,
    ).toArrow()  # an Arrow collect of a LIMIT runs one job; collect() can run more
    if bucket.num_rows > MAX_BUCKET_ROWS:
        raise ValueError(
            f"more than {MAX_BUCKET_ROWS} dictionary names of length {lo}-{hi}: "
            "the length bucket is too large to score on the driver"
        )
    # one SequenceMatcher with the query cached as b (difflib indexes the
    # b side once)
    sm = difflib.SequenceMatcher(a="", b=q)
    scored = []
    for name in set(bucket.column("name").to_pylist()):
        sm.set_seq1(name)
        similarity = round(sm.ratio(), 6)
        if similarity >= min_similarity:
            scored.append((-similarity, name))
    top = [(name, -neg) for neg, name in sorted(scored)[:max_names]]
    return bound.local_relation(entity_dict.sparkSession, top, _NAMES)


def ids_by_name(entity_dict: DataFrame, names: DataFrame) -> DataFrame:
    """names(name) → (name, type, id, freq) ranked by freq desc per name
    (kb_utils.py:365-372). The names are collected and bound as literals;
    ``DISTRIBUTE BY name`` gives the sum and the rank one exchange."""
    found = [r[0] for r in names.select("name").collect() if r[0] is not None]
    literals = {f"n{i}": name for i, name in enumerate(found)}
    keys = ", ".join(f"lower({{{k}}})" for k in literals)
    match = f"lower(name) IN ({keys})" if literals else "false"
    return bound.sql(
        "SELECT name, type, id, freq, "
        "row_number() OVER (PARTITION BY name ORDER BY freq DESC, id ASC) AS rank "
        "FROM (SELECT name, type, id, sum(freq) AS freq FROM ("
        f"SELECT lower(name) AS name, type, id, freq FROM {{entity_dict}} WHERE {match} "
        "DISTRIBUTE BY name) GROUP BY name, type, id)",
        entity_dict=entity_dict,
        **literals,
    )


def variant_dict(entity_dict: DataFrame) -> DataFrame:
    """The VariantNEN bidirectional id↔name store (kb_utils.py:1403-1434)
    as a relation: (type, id, name_lower), names lowercased and deduped per
    (id, name_lower) exactly like the reference's ``name_set`` guard; RS
    ids additionally get the synthesized ``rs<digits>`` surface the
    reference derives from the id itself (``"rs" + _id[len("RS#:"):]``).

    One row per membership fact — the in-KB probe (get_variant_in_kb) and
    both lookup directions are joins against this table."""
    vt = F.array(*[F.lit(t) for t in VARIANT_UMBRELLA])
    variants = entity_dict.filter(F.array_contains(vt, F.col("type")))
    from_names = variants.select(
        "type", "id", F.lower(F.col("name")).alias("name_lower")
    )
    from_rs_ids = (
        variants.filter(F.col("id").startswith("RS#:"))
        .select(
            "type",
            "id",
            F.concat(F.lit("rs"), F.substring(F.col("id"), 5, 1 << 20)).alias("name_lower"),
        )
    )
    return from_names.unionByName(from_rs_ids).dropDuplicates(["type", "id", "name_lower"])


_PROBES = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("t_ord", T.IntegerType()),
        T.StructField("id", T.StringType()),
        T.StructField("i_ord", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("n_ord", T.IntegerType()),
    ]
)


def variant_in_kb(
    entity_dict: DataFrame, id_list: list[str], name_list: list[str]
) -> DataFrame:
    """get_variant_in_kb (kb_utils.py:385-396): probe every (variant type,
    id, name) combination against the per-(type, id) name→frequency store;
    emit hits sorted by frequency desc.

    The reference's ``sorted(key=-frequency)`` is *stable* over its
    enumeration order (type, then id_list order, then name_list order) —
    mirrored here with probe ordinals as tie-break columns, so the result
    is a total order identical to the reference's list."""
    probes = [
        (t, ti, i, ii, n, ni)
        for ti, t in enumerate(VARIANT_UMBRELLA)
        for ii, i in enumerate(id_list)
        for ni, n in enumerate(name_list)
    ]
    probe_df = bound.local_relation(entity_dict.sparkSession, probes, _PROBES)
    freq = entity_dict.groupBy("type", "id", "name").agg(F.sum("freq").alias("frequency"))
    hits = freq.join(F.broadcast(probe_df), ["type", "id", "name"], "inner")
    return (
        hits.orderBy(
            F.col("frequency").desc(), F.col("t_ord"), F.col("i_ord"), F.col("n_ord")
        )
        .select("type", "id", "name", "frequency")
    )


def aliases_by_id(
    entity_dict: DataFrame, max_aliases: int = DEFAULT_MAX_ALIASES
) -> DataFrame:
    """per (type, id): top aliases by freq (kb_utils.py:374-380)."""
    w = W.partitionBy("type", "id").orderBy(F.col("freq").desc(), F.col("name").asc())
    return (
        entity_dict.withColumn("alias_rank", F.row_number().over(w))
        .filter(F.col("alias_rank") <= max_aliases)
        .select("type", "id", F.col("name").alias("alias"), "freq", "alias_rank")
    )
