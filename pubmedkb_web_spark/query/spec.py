"""Entity-spec compiler: s-expression tree → one postings scan.

The reference evaluates specs bottom-up over in-memory inverted indexes
(/root/reference/kb_utils.py:1540-1682): leaf = index probe, AND = key-wise
set intersection (kb_utils.py:167-195), OR = key-wise union
(kb_utils.py:198-216), two-entity = head/tail cross pairing
(kb_utils.py:1651-1668), with per-query memoization and pmid pushdown.

Here a whole tree compiles to ONE SQL statement over ``entity_postings``,
bound to the caller's DataFrame with ``bound.sql(text, postings=...)``:

- scan    → the rows of any leaf: the disjunction of the leaf filters
            (idx_kind, type, key), AND ``doc_id = pmid`` when given, is
            pushed to the parquet scan
- leaf    → a flag ``bool_or(<leaf filter>)`` per key group; for the
            document queries one flag per role,
            ``bool_or(role = 'head' AND <leaf filter>)``
- AND/OR  → boolean algebra over the flags in the HAVING clause of one
            ``GROUP BY doc_id, ann_id``: a (role, doc, ann) key is in a leaf's
            set iff some posting row of that key matches it, so AND/OR of
            flags is exactly the reference's key-wise intersection/union
- single  → spec(head) OR spec(tail) (kb_utils.py:1638-1649)
- pair    → (e1(head) AND e2(tail)) OR (e2(head) AND e1(tail))
- VARIANT umbrella → ``type IN (...)`` over the six concrete types
            (kb_utils.py:58-67)
- memoization → identical leaves share one filter and one flag
            (kb_utils.py:1556-1562 analog)

One scan and one aggregation: no joins or unions.
Spec keys, types and the pmid reach the SQL text only through PySpark's
formatter quoting (the ``spark.sql`` keyword arguments), never by string
interpolation.

Precondition: every (doc_id, ann_id) of the postings carries ONE score; the
aggregation keeps ``max(score)``. It holds for the built KB because ann_id
hashes doc, sentence, annotator, head, tail and predicate
(pipeline/extractors.py), so all postings of one annotation carry its one
score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..schemas import VARIANT_TYPES
from . import bound

Spec = tuple  # ("AND"|"OR", (spec, ...)) | ("type_id"|"type_name", (type, key))

_ROLES = ("head", "tail")


class SpecCompiler:
    """Compiles spec trees over one postings relation (and optional pmid)
    into boolean predicates over per-leaf flags, then runs them as one
    grouped scan (:meth:`select`)."""

    def __init__(self, postings: DataFrame, pmid: str | None = None):
        self.postings = postings
        self.pmid = pmid
        self._leaves: dict[tuple, str] = {}  # (idx_kind, type, key) → filter text
        self._args: dict[str, str] = {}  # formatter placeholder → literal

    def _bind(self, value: str) -> str:
        name = f"v{len(self._args)}"
        self._args[name] = value
        return "{" + name + "}"

    def _leaf(self, idx_kind: str, etype: str, key: str) -> str:
        memo_key = (idx_kind, etype, key)
        if memo_key not in self._leaves:
            if etype == "VARIANT":  # umbrella expansion
                type_cond = "type IN (" + ", ".join(self._bind(t) for t in VARIANT_TYPES) + ")"
            else:
                type_cond = "type = " + self._bind(etype)
            self._leaves[memo_key] = (
                f"(idx_kind = {self._bind(idx_kind)} AND key = {self._bind(key)} AND {type_cond})"
            )
        return self._leaves[memo_key]

    def predicate(self, spec: Spec, role: str | None = None) -> str:
        """``spec`` as a boolean over aggregate flags; ``role`` ("head" or
        "tail") restricts every leaf to that role's postings."""
        op = spec[0]
        if op in ("type_id", "type_name"):
            leaf = self._leaf(op, *spec[1])
            return f"bool_or({leaf})" if role is None else f"bool_or(role = '{role}' AND {leaf})"
        if op not in ("AND", "OR"):
            raise ValueError(f"unknown spec op: {op!r}")
        return "(" + f" {op} ".join(self.predicate(b, role) for b in spec[1]) + ")"

    def select(self, keys: str, having: str) -> DataFrame:
        """The one statement: postings rows of any leaf compiled so far,
        ``GROUP BY keys``, kept where ``having`` holds → (keys..., score)."""
        where = " OR ".join(self._leaves.values())
        if self.pmid is not None:  # pmid pushdown into the scan (P2)
            where = f"({where}) AND doc_id = {self._bind(self.pmid)}"
        text = (
            f"SELECT {keys}, max(score) AS score FROM {{postings}} "
            f"WHERE {where} GROUP BY {keys} HAVING {having}"
        )
        return bound.sql(text, postings=self.postings, **self._args)

    def compile(self, spec: Spec) -> DataFrame:
        """The spec's key set per role → (role, doc_id, ann_id, score)."""
        return self.select("role, doc_id, ann_id", self.predicate(spec))


def evaluate_single(postings: DataFrame, spec: Spec, pmid: str | None = None) -> DataFrame:
    """Single-entity query → (doc_id, ann_id, score): an annotation matches
    if the entity appears as head OR tail (kb_utils.py:1638-1649)."""
    c = SpecCompiler(postings, pmid)
    head, tail = (c.predicate(spec, role) for role in _ROLES)
    return c.select("doc_id, ann_id", f"{head} OR {tail}")


def evaluate_pair(
    postings: DataFrame, e1_spec: Spec, e2_spec: Spec, pmid: str | None = None
) -> DataFrame:
    """Two-entity query → (doc_id, ann_id, score):
    (e1.head ∩ e2.tail) ∪ (e1.tail ∩ e2.head) per annotation
    (kb_utils.py:1651-1668)."""
    c = SpecCompiler(postings, pmid)
    (h1, t1), (h2, t2) = ([c.predicate(s, role) for role in _ROLES] for s in (e1_spec, e2_spec))
    return c.select("doc_id, ann_id", f"({h1} AND {t2}) OR ({h2} AND {t1})")
