"""HTML escaping and presentation-layer rendering (SURVEY.md F7 + S10).

Parity targets in the reference:
  * ``html.escape(s, quote=True)`` — stdlib, used throughout
    ``server.py`` / ``kb_utils.py`` before any text is interpolated
    into markup.
  * gene anchors — ``kb_utils.py:524-548`` (``get_html_anchor``).
  * paper-meta lines — ``kb_utils.py:1834-1868``
    (``get_paper_meta_html``).
  * QA reference lists — ``kb_utils.py:1362-1376``
    (``PaperQA.get_reference`` with ``is_html=True``).
  * the ``<table>`` shells every ``run_*`` route builds
    (e.g. ``server.py:962-1105``).

Design: every escape / concat / anchor is a JVM-side column expression
(whole-stage codegen) so a page render is one narrow projection over the
already-computed result DataFrame — there is no Python in the loop and
no per-row UDF. The only aggregation is the final page-to-one-string
join (``table_html``), which operates on a *page* (the reference
renders exactly one request-sized page per route, never the corpus), so
the single-row ``collect_list`` there is bounded by the page size, not
the data size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Escape order matters and matches CPython's html.escape(quote=True):
# '&' first (so later entities aren't double-escaped), then the angle
# brackets, then both quote characters.
_ESCAPES = [
    ("&", "&amp;"),
    ("<", "&lt;"),
    (">", "&gt;"),
    ('"', "&quot;"),
    ("'", "&#x27;"),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def html_escape(col: Column | str) -> Column:
    """``html.escape(s, quote=True)`` as a codegen'd replace chain."""
    out = _c(col)
    for raw, ent in _ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(ent))
    return out


def html_escape_sql(expr: str) -> str:
    """The DuckDB/ANSI twin of :func:`html_escape` for oracle SQL."""
    out = expr
    for raw, ent in _ESCAPES:
        raw_sql = raw.replace("'", "''")
        out = f"replace({out}, '{raw_sql}', '{ent}')"
    return out


def url_quote(col: Column | str) -> Column:
    """``urllib.parse.quote(s)`` (default ``safe='/'``) as column algebra.

    ``F.url_encode`` is java.net.URLEncoder — quote_plus semantics. The
    two differ on exactly four points, each fixed by a replace that
    cannot collide with encoder output (a literal '+', '/', '~', '%' in
    the INPUT leaves the encoder as %2B, %2F, %7E, %25, so the patterns
    below only ever match what the fix-up targets):
      space: '+' -> '%20';  '*' kept by URLEncoder, quoted by Python;
      '~' quoted by URLEncoder, kept by Python;  '/' quoted by
      URLEncoder, in Python's default safe set.
    UTF-8 multi-byte percent-encoding agrees between the two already.
    """
    out = F.url_encode(_c(col).cast("string"))
    for raw, fixed in [("+", "%20"), ("*", "%2A"), ("%7E", "~"), ("%2F", "/")]:
        out = F.replace(out, F.lit(raw), F.lit(fixed))
    return out


def pmid_anchor(
    pmid: Column | str, label: Column | None = None, quote_href: bool = False
) -> Column:
    """``<a href="https://pubmed.ncbi.nlm.nih.gov/{pmid}">{label}</a>``.

    ``label`` defaults to the escaped pmid (the ``run_rel`` relation
    table, server.py:1058; ``get_paper_meta_html`` kb_utils.py:1839 —
    both interpolate the href RAW, so that is the default here too).
    ``quote_href=True`` percent-encodes the href side with
    :func:`url_quote`, matching ``PaperQA.get_reference``
    (kb_utils.py:1366, ``urllib.parse.quote(pmid)``) — identical output
    for numeric pmids, diverging (and injection-safe) beyond them.
    """
    p = _c(pmid).cast("string")
    lab = html_escape(p) if label is None else label
    return F.concat(
        F.lit('<a href="https://pubmed.ncbi.nlm.nih.gov/'),
        url_quote(p) if quote_href else p,
        F.lit('">'),
        lab, F.lit("</a>"),
    )


def gene_html_anchor(
    gene_id: Column | str, symbol: Column | str, taxon: Column | str
) -> Column:
    """NCBI gene anchor with the reference's three-way fallback
    (kb_utils.py:524-548): symbol + italic taxon when both exist,
    bare symbol when only it does, ``GENE:{id}`` otherwise. '[' / ']'
    pass through ``html.escape`` unchanged, so the literal brackets
    below are exact parity."""
    gid = _c(gene_id).cast("string")
    sym, tax = _c(symbol), _c(taxon)
    open_a = F.concat(
        F.lit('<a href="https://www.ncbi.nlm.nih.gov/gene/'), gid, F.lit('">')
    )
    has = lambda c: c.isNotNull() & (c != "")  # noqa: E731 — falsy-str parity
    body = (
        F.when(
            has(sym) & has(tax),
            F.concat(
                html_escape(sym), F.lit(" [ <i>"), html_escape(tax), F.lit("</i> ]")
            ),
        )
        .when(has(sym), html_escape(sym))
        .otherwise(F.concat(F.lit("GENE:"), gid))
    )
    return F.concat(open_a, body, F.lit("</a>"))


def _dot_terminate(col: Column) -> Column:
    """Append '.' unless empty or already ending in . ? ! —
    the title/journal rule in kb_utils.py:1835-1851."""
    last = F.substring(col, -1, 1)
    return F.when(
        (col.isNotNull()) & (col != "") & ~last.isin(".", "?", "!"),
        F.concat(col, F.lit(".")),
    ).otherwise(col)


def paper_meta_html(
    pmid: Column | str,
    title: Column | str,
    year: Column | str,
    journal: Column | str,
    doi: Column | str,
    publication_type_list: Column | str,
    citation: Column | str,
) -> Column:
    """One paper-meta line, field-for-field with
    ``kb_utils.get_paper_meta_html`` (kb_utils.py:1834-1868) including
    its quirks: empty fields still contribute their separator space in
    the final f-string, the doi label is the escaped ``doi.org/{doi}``
    while the href uses the raw doi, and citation renders as the
    escaped ``Cited by {n}.``.

    NULL inputs (e.g. from a left meta join) are coalesced to the
    reference's empty-string fields up front — the reference's meta dict
    always holds strings, and without the coalesce a single NULL would
    null out its whole fragment and make ``concat_ws`` swallow the
    separator the f-string always emits (round-5 ADVICE)."""
    p = F.coalesce(_c(pmid).cast("string"), F.lit(""))
    title = F.coalesce(_c(title).cast("string"), F.lit(""))
    year = F.coalesce(_c(year).cast("string"), F.lit(""))
    journal = F.coalesce(_c(journal).cast("string"), F.lit(""))
    doi = F.coalesce(_c(doi).cast("string"), F.lit(""))
    publication_type_list = F.coalesce(
        _c(publication_type_list), F.array().cast("array<string>")
    )
    citation = F.coalesce(_c(citation).cast("string"), F.lit(""))
    title_html = F.concat(
        F.lit('<a href="https://pubmed.ncbi.nlm.nih.gov/'), p, F.lit('">['),
        html_escape(p), F.lit("]</a> "),
        html_escape(_dot_terminate(title)),
    )
    yr = year
    year_html = html_escape(
        F.when(yr.isNotNull() & (yr != ""), F.concat(yr, F.lit("."))).otherwise(yr)
    )
    journal_html = F.concat(
        F.lit("<em>"), html_escape(_dot_terminate(journal)), F.lit("</em>")
    )
    doi_html = F.when(
        doi.isNotNull() & (doi != ""),
        F.concat(
            F.lit('<a href="https://doi.org/'), doi, F.lit('">'),
            html_escape(F.concat(F.lit("doi.org/"), doi)), F.lit("</a>"),
        ),
    ).otherwise(F.lit(""))
    pt = F.array_join(
        F.transform(publication_type_list, lambda t: html_escape(t)), ", "
    )
    pt_html = F.when(pt != "", F.concat(pt, F.lit("."))).otherwise(pt)
    cite_html = html_escape(
        F.concat(F.lit("Cited by "), citation, F.lit("."))
    )
    return F.concat_ws(
        " ", title_html, year_html, journal_html, doi_html, pt_html, cite_html
    )


def reference_list_html(df: DataFrame, order_by: str | None = None) -> DataFrame:
    """QA reference list (kb_utils.py:1362-1376, ``is_html=True``): the
    literal header ``References`` then one
    ``<a href=...>[PMID-{pmid}]</a> {title}`` line per paper (columns
    ``pmid`` and ``title``, ordered by ``order_by``, else ``pmid``), joined
    with ``<br />``. Returns a one-row DataFrame ``(html string)``.

    ``df`` is a page (the reference's paper_list is the handful of
    retrieved papers per QA request), so the ordered fold below
    aggregates a bounded page, not a corpus.
    """
    ordc = F.col(order_by if order_by is not None else "pmid")
    # quote_href: PaperQA.get_reference percent-encodes the href pmid
    # (urllib.parse.quote, kb_utils.py:1366) unlike the other anchors
    line = pmid_anchor(
        F.col("pmid"),
        label=html_escape(F.concat(F.lit("[PMID-"), F.col("pmid").cast("string"), F.lit("]"))),
        quote_href=True,
    )
    line = F.concat(line, F.lit(" "), html_escape(F.col("title")))
    rows = df.select(F.struct(ordc.alias("o"), line.alias("line")).alias("s"))
    return rows.agg(
        F.concat(
            F.lit("References<br />"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["line"]),
                "<br />",
            ),
        ).alias("html")
    )


def table_html(
    df: DataFrame,
    columns: Sequence[str],
    widths: Sequence[str] | None = None,
    order_by: str | None = None,
) -> DataFrame:
    """Generic S10 sink: render a page DataFrame as the reference's
    ``<table>`` shell (header ``<th>`` row with optional
    ``style="width:X"`` attributes exactly as server.py:991-999, then
    one ``<td>``-escaped row per record). Returns a one-row DataFrame
    ``(html string)``.

    Cell rendering (escape + wrap) happens columnar/JVM-side per row;
    only the final page-sized ordered join is an aggregation. Callers
    pass the already-paginated page, mirroring every ``run_*`` route.
    """
    # header labels are driver-side Python strings: escape with the real
    # stdlib (byte-identical to the html_escape() replace chain) so a
    # hostile column name cannot break out of the <th> (round-5 VERDICT
    # next-round #6; the reference's headers are trusted literals, ours
    # are caller input)
    import html as _html

    ths = []
    for i, name in enumerate(columns):
        if widths is not None:
            ths.append(
                f'<th style="width:{_html.escape(str(widths[i]))}">'
                f"{_html.escape(name)}</th>"
            )
        else:
            ths.append(f"<th>{_html.escape(name)}</th>")
    header = "<table><tr>" + "".join(ths) + "</tr>"

    cells = [
        F.concat(F.lit("<td>"), html_escape(F.col(c).cast("string")), F.lit("</td>"))
        for c in columns
    ]
    tr = F.concat(F.lit("<tr>"), F.concat(*cells) if len(cells) > 1 else cells[0], F.lit("</tr>"))
    ordc = F.col(order_by) if order_by is not None else F.col(columns[0])
    rows = df.select(F.struct(ordc.alias("o"), tr.alias("tr")).alias("s"))
    return rows.agg(
        F.concat(
            F.lit(header),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["tr"]), ""
            ),
            F.lit("</table>"),
        ).alias("html")
    )
