"""M3 — entity canonicalization: ids that share a surface form are one entity.

The reference never canonicalizes — every query carries raw (type, id/name)
keys and the umbrella VARIANT expansion (kb_utils.py:58-67) papers over id
aliasing at query time. At KG scale we resolve aliases once at build time:
ids that share a lowercased name are one entity, and the lexicographically
smallest id of each connected component becomes the canonical id.

:func:`canonical_map` collects, in one statement, the id set of every
lowercased name held by two or more distinct ids. A union-find on the
driver merges the sets into components, and the ids that are not their
component's root become a local relation. The stage's plan is the distinct
dictionary ids left-joined to that relation, broadcast.

Precondition: the alias groups are a subset of the entity dictionary, which
the build already broadcasts whole (``mentions.dictionary_candidates``,
:func:`rewrite_triples`). A collect too large for the driver fails loudly
through ``spark.driver.maxResultSize``. The collect runs when the stage
builds its plan, inside the stage's thread and job group.

Determinism: the components and their smallest ids are functions of the
dictionary's (id, name) set, whatever its partitioning or row order — the
property checkpoint-resume relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..query import bound


def _roots(groups) -> dict[str, str]:
    """Union-find over id sets: each id that is not its component's root →
    the component's smallest id."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ids in groups:
        roots = {find(i) for i in ids}
        low = min(roots)
        for r in roots:
            parent[r] = low
    return {i: r for i in parent if (r := find(i)) != i}


def canonical_map(entity_dict: DataFrame) -> DataFrame:
    """entity_dict(id, name, ...) → (id, canonical_id), one row per distinct
    id. A NULL name aliases nothing; a NULL id maps to NULL."""
    groups = bound.sql(
        "SELECT collect_set(id) AS ids FROM {d} WHERE name IS NOT NULL "
        "GROUP BY lower(name) HAVING size(collect_set(id)) > 1",
        d=entity_dict,
    ).collect()
    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("canonical_id", T.StringType())]
    )
    moved = bound.local_relation(
        entity_dict.sparkSession, list(_roots(g["ids"] for g in groups).items()), schema
    )
    return bound.sql(
        "SELECT /*+ BROADCAST(m) */ d.id, coalesce(m.canonical_id, d.id) AS canonical_id "
        "FROM (SELECT DISTINCT id FROM {d}) d LEFT JOIN {m} m ON d.id = m.id",
        d=entity_dict,
        m=moved,
    )


def rewrite_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical ids (broadcast: the map is dictionary-
    sized, ≤ millions of rows ≪ triple count)."""
    cs = F.broadcast(canon.select(F.col("id").alias("subj"), F.col("canonical_id").alias("subj_canon")))
    co = F.broadcast(canon.select(F.col("id").alias("obj"), F.col("canonical_id").alias("obj_canon")))
    return (
        triples.join(cs, "subj", "left")
        .join(co, "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_canon", "obj").alias("obj"),
            "annotator",
            "score",
            "doc_id",
            "sent_idx",
            "content_sha256",
        )
    )
