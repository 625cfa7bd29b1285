"""M5 — the query layer (SURVEY.md §3).

bound.py      SQL statements bound to the caller's DataFrames; driver rows as
              local relations
spec.py       entity-spec s-expression → one SQL statement (one postings scan)
rel.py        the /query_rel pipeline: page, hydration, overlapped statistics
nen.py        fuzzy name lookup (length blocking + driver-side difflib ratio)
retrieval.py  BM25-as-join, RRF fusion, exact cosine top-k
summary.py    per-annotator relation selection + template NLG
varsum.py     variant-report generation (HGVSp/CDS parsing + NLG)
"""
