"""External REST source: LitVar2 variant autocomplete (SURVEY.md S6).

Reference: ``kb_utils.query_variant`` (kb_utils.py:219-250) — a GET to
the NCBI LitVar2 autocomplete endpoint followed by a per-result
transformation into ``(id_list, name_list, gene_list)`` triples:

  * ``id_list``   — ``"RS#:" + rsid[2:]`` when an rsid is present, then
    ``"HGVS:" + hgvs`` when an hgvs is present (order preserved).
  * ``name_list`` — ``[name]``, plus the substring of ``match`` between
    the first ``<m>`` and the first ``</m>`` after it when that differs
    from ``name`` (including the reference's degenerate arithmetic when
    the markers are absent: ``find`` returns -1, so the slice starts at
    2 and ends one character before the end).
  * ``gene_list`` — the ``gene`` array, ``[]`` when absent.

Spark-first split: the HTTP fetch is inherently driver-side for the
reference's use (one autocomplete call per user keystroke —
SURVEY.md §2.1 calls this "a driver-side enrichment UDF at best"), but
the *parse* is a pure columnar transformation, so it is implemented as
JVM expressions over a DataFrame of raw results. For bulk enrichment
(many queries), ``litvar_enrich`` fans the fetch out per-partition via
``mapInPandas`` and feeds the same JVM parse, so a million-query
enrichment never serializes through the driver.

Every fetch goes through a ``fetcher`` the caller passes: the live
HTTP path is ``fetcher=live_fetcher``, and tests pass deterministic
offline fetchers.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..query import bound

LITVAR_URL = (
    "https://www.ncbi.nlm.nih.gov/research/litvar2-api/variant/autocomplete/"
)

# One raw autocomplete result. Absent JSON keys <=> NULL columns.
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("rsid", T.StringType()),
        T.StructField("hgvs", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("match", T.StringType()),
        T.StructField("gene", T.ArrayType(T.StringType())),
    ]
)


def match_inner(col_name: str = "match") -> F.Column:
    """``match[find('<m>')+3 : find('</m>', i)]`` with exact Python
    slice semantics (kb_utils.py:236-241), including the no-marker
    degenerate cases: SQL ``locate`` returns 0 where ``str.find``
    returns -1, so ``locate - 1 == find`` identically, and a -1 end
    index means "up to the last character exclusive"."""
    match = F.col(col_name)
    i0 = F.locate("<m>", match) - F.lit(1) + F.lit(3)  # 0-based start
    # 0-based end: first '</m>' at-or-after the start, else -1
    j0 = F.expr(
        f"locate('</m>', {col_name}, locate('<m>', {col_name}) + 3) - 1"
    )
    end = F.when(j0 >= 0, j0).otherwise(F.length(match) - F.lit(1))
    # substring is 1-based; non-positive length yields ''
    return F.substring(match, i0 + F.lit(1), end - i0)


def parse_litvar(df: DataFrame) -> DataFrame:
    """Columnar twin of the ``query_variant`` result loop
    (kb_utils.py:226-249). Input columns: ``rsid hgvs name match gene``
    (nullable = the JSON key was absent); any other columns (e.g. the
    originating ``query``) pass through. Output adds ``id_list``,
    ``name_list``, ``gene_list``."""
    # each present key contributes a one-item array, an absent one an
    # empty array; concat keeps the order. (array_compact would plan an
    # interpreted lambda: Spark rewrites it to filter(isnotnull).)
    no_ids = F.array().cast("array<string>")
    rs_ids = F.when(
        F.col("rsid").isNotNull(),
        F.array(F.concat(F.lit("RS#:"), F.expr("substring(rsid, 3)"))),
    ).otherwise(no_ids)
    hgvs_ids = F.when(
        F.col("hgvs").isNotNull(), F.array(F.concat(F.lit("HGVS:"), F.col("hgvs")))
    ).otherwise(no_ids)
    id_list = F.concat(rs_ids, hgvs_ids)

    inner = match_inner("match")
    name_list = (
        F.when(
            F.col("match").isNotNull() & (inner != F.col("name")),
            F.array(F.col("name"), inner),
        )
        .otherwise(F.array(F.col("name")))
    )
    gene_list = F.coalesce(F.col("gene"), F.array().cast("array<string>"))
    return df.withColumns(
        {"id_list": id_list, "name_list": name_list, "gene_list": gene_list}
    )


def live_fetcher(query: str) -> str:
    """GET the LitVar2 autocomplete endpoint; returns the raw JSON
    body. Only used when a caller passes it as ``fetcher``."""
    import urllib.parse
    import urllib.request

    url = LITVAR_URL + "?" + urllib.parse.urlencode({"query": query})
    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
        return resp.read().decode("utf-8")


def results_df(spark: SparkSession, raw_json: str, query: str) -> DataFrame:
    """Raw autocomplete response body -> one row per result, tagged
    with the originating query. Tolerates absent keys via the nullable
    RESULT_SCHEMA."""
    rows = []
    for result in json.loads(raw_json):
        rows.append(
            (
                query,
                result.get("rsid"),
                result.get("hgvs"),
                result.get("name"),
                result.get("match"),
                result.get("gene"),
            )
        )
    schema = T.StructType(
        [T.StructField("query", T.StringType())] + list(RESULT_SCHEMA.fields)
    )
    return bound.local_relation(spark, rows, schema)


def query_variant(
    spark: SparkSession,
    query: str,
    fetcher: Callable[[str], str],
) -> DataFrame:
    """The reference's interactive path (one autocomplete call per user
    query): fetch driver-side, parse JVM-side. Returns a DataFrame of
    ``(query, id_list, name_list, gene_list)``."""
    raw = fetcher(query)
    return parse_litvar(results_df(spark, raw, query)).select(
        "query", "id_list", "name_list", "gene_list"
    )


def litvar_enrich(queries: DataFrame, *, fetcher: Callable[[str], str]) -> DataFrame:
    """Bulk enrichment: fan the fetch out per-partition (each executor
    issues its own HTTP calls / offline lookups via ``mapInPandas``),
    then run the same JVM parse. The UDF only fetches and flattens —
    all transformation logic stays in :func:`parse_litvar` so the
    interactive and bulk paths cannot diverge."""
    out_schema = T.StructType(
        [T.StructField("query", T.StringType())] + list(RESULT_SCHEMA.fields)
    )

    def _fetch_batches(batches: Iterable) -> Iterable:
        import pandas as pd

        for pdf in batches:
            rows = []
            for q in pdf["query"]:
                for result in json.loads(fetcher(q)):
                    rows.append(
                        {
                            "query": q,
                            "rsid": result.get("rsid"),
                            "hgvs": result.get("hgvs"),
                            "name": result.get("name"),
                            "match": result.get("match"),
                            "gene": result.get("gene"),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    raw = queries.select("query").distinct().mapInPandas(
        _fetch_batches, schema=out_schema
    )
    return parse_litvar(raw).select("query", "id_list", "name_list", "gene_list")
