"""Render a CompiledQuery to ANSI SQL (DuckDB-compatible).

This is the *oracle renderer*: the same IR that ``..search`` renders to a
PySpark plan is rendered here to plain SQL, so the DuckDB correctness oracle
is generated from the identical compiled query — semantics agree by
construction, divergence means an execution bug, which is exactly what the
harness should catch.

Only portable constructs are emitted: lower/contains/regexp_matches/IN/CASE,
string comparison for ISO-8601 creationTime (lexicographic == chronologic),
LIMIT/OFFSET.  Ordering is total everywhere (score desc, id asc; facet count
desc, value asc) — required for hash-based comparison (SURVEY §2.3).
"""

from __future__ import annotations

from .. import analyzers
from ..schema import COLUMN_ORDER, IS_PUBLIC_FIELD, ORG_UUID_FIELD
from .compiler import (
    CATEGORIES_FACET_SIZE,
    DATASAMPLE_BOOST,
    FORMATS_FACET_SIZE,
    SOURCEURI_BOOST,
    TITLE_BOOST,
    CompiledQuery,
    OrGroup,
    RangeFilter,
    TermsFilter,
)

_NUMERIC_FIELDS = frozenset({"recordCount", "size"})


def _lit(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def _terms_sql(f: TermsFilter) -> str:
    if f.fld == IS_PUBLIC_FIELD:
        vals = sorted({("TRUE" if v else "FALSE") for v in f.values})
        expr, rendered = f.fld, vals
    elif f.fld in _NUMERIC_FIELDS:
        expr, rendered = f.fld, [str(int(v)) for v in f.values]
    elif f.fld == ORG_UUID_FIELD:
        # not_analyzed exact term (configuration_const.py:58-61); values are
        # lowercased at the API edge (auth.py:157) and the corpus stores
        # lowercase org ids, so no lower() on the column.
        expr, rendered = f.fld, [_lit(v) for v in f.values]
    else:
        expr, rendered = f"lower({f.fld})", [_lit(v) for v in f.values]
    if len(rendered) == 1:
        return f"{expr} = {rendered[0]}"
    return f"{expr} IN ({', '.join(rendered)})"


def _range_sql(f: RangeFilter) -> str:
    parts = []
    if f.lo is not None:
        parts.append(f"{f.fld} >= {_lit(f.lo)}")
    if f.hi is not None:
        parts.append(f"{f.fld} <= {_lit(f.hi)}")
    return " AND ".join(parts) if parts else "TRUE"


def predicate_sql(f) -> str:
    if isinstance(f, TermsFilter):
        return _terms_sql(f)
    if isinstance(f, RangeFilter):
        return _range_sql(f)
    if isinstance(f, OrGroup):
        inner = " OR ".join(predicate_sql(x) for x in f.filters)
        return f"({inner})"
    raise TypeError(f"unknown filter {f!r}")


def text_clauses_sql(text: str) -> list[tuple[str, float]]:
    """The 3 boosted clauses of the text query (query_translation.py:130-158).

    Returns [(predicate_sql, boost)] — empty predicates are dropped.
    """
    clauses: list[tuple[str, float]] = []
    clauses.append(
        (f"contains(lower(title), {_lit(analyzers.fold_case(text))})", TITLE_BOOST)
    )
    std = analyzers.token_match_pattern(
        analyzers.standard_tokens(text), analyzers.STANDARD_SPLIT
    )
    if std:
        clauses.append((f"regexp_matches(lower(dataSample), {_lit(std)})", DATASAMPLE_BOOST))
    uri = analyzers.token_match_pattern(analyzers.uri_tokens(text), analyzers.URI_SPLIT)
    if uri:
        clauses.append((f"regexp_matches(lower(sourceUri), {_lit(uri)})", SOURCEURI_BOOST))
    return clauses


def score_sql(cq: CompiledQuery) -> str:
    """Deterministic relevance score: sum of matching clause boosts; 1.0 on
    match-all (query_translation.py:128-160, T1-T5)."""
    if not cq.text:
        return "CAST(1.0 AS DOUBLE)"
    terms = [
        f"CASE WHEN {pred} THEN CAST({boost} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        for pred, boost in text_clauses_sql(cq.text)
    ]
    return "(" + " + ".join(terms) + ")"


def query_where_sql(cq: CompiledQuery) -> str:
    """Query-context predicate: security + query filters + text-match
    requirement (bool.should needs ≥1 matching clause)."""
    parts = [predicate_sql(f) for f in cq.query_filters]
    if cq.text:
        disjunction = " OR ".join(p for p, _ in text_clauses_sql(cq.text))
        parts.append(f"({disjunction})")
    return " AND ".join(parts) if parts else "TRUE"


def post_where_sql(cq: CompiledQuery) -> str:
    parts = [predicate_sql(f) for f in cq.post_filters]
    return " AND ".join(parts) if parts else "TRUE"


def hits_sql(cq: CompiledQuery, relation: str = "datasets") -> str:
    """The hits page: ranked, post-filtered, paginated (search.py:121-135).
    A compiled ``searchAfter`` cursor renders the cursor predicate instead
    of OFFSET — mirroring search.hits' routing."""
    if cq.search_after is not None:
        return hits_after_sql(cq, *cq.search_after, relation=relation)
    cols = ", ".join(COLUMN_ORDER)
    return (
        f"SELECT * FROM (SELECT {cols}, {score_sql(cq)} AS score "
        f"FROM {relation} WHERE {query_where_sql(cq)}) q "
        f"WHERE {post_where_sql(cq)} "
        f"ORDER BY score DESC, id "
        f"LIMIT {cq.size} OFFSET {cq.from_}"
    )


def hits_after_sql(
    cq: CompiledQuery, after_score: float, after_id: str, relation: str = "datasets"
) -> str:
    """Cursor (search_after) page: rows strictly after the (score, id)
    cursor in ranking order — the deep-paging twin of hits_sql
    (search.hits_after)."""
    cols = ", ".join(COLUMN_ORDER)
    return (
        f"SELECT * FROM (SELECT {cols}, {score_sql(cq)} AS score "
        f"FROM {relation} WHERE {query_where_sql(cq)}) q "
        f"WHERE ({post_where_sql(cq)}) "
        f"AND (score < {float(after_score)!r} "
        f"OR (score = {float(after_score)!r} AND id > {_lit(after_id)})) "
        f"ORDER BY score DESC, id "
        f"LIMIT {cq.size}"
    )


def facet_sql(cq: CompiledQuery, fld: str, size: int, relation: str = "datasets") -> str:
    """Terms facet over the query-filtered (pre-post-filter) set — the R2
    plan shape (query_translation.py:82-96): facet counts show what is
    *available*, not what is selected."""
    return (
        f"SELECT {fld} AS value, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM {relation} WHERE {query_where_sql(cq)} "
        f"GROUP BY {fld} ORDER BY cnt DESC, value LIMIT {size}"
    )


def categories_facet_sql(cq: CompiledQuery, relation: str = "datasets") -> str:
    return facet_sql(cq, "category", CATEGORIES_FACET_SIZE, relation)


def formats_facet_sql(cq: CompiledQuery, relation: str = "datasets") -> str:
    return facet_sql(cq, "format", FORMATS_FACET_SIZE, relation)


def significant_categories_sql(
    cq: CompiledQuery, size: int, relation: str = "datasets"
) -> str:
    """DuckDB twin of search.significant_categories (ES significant_terms
    on the category field, JLH-scored, positively significant only).
    Emitted as a WITH-chain CONTINUATION (leading comma): composes after
    an already-open CTE list such as ORACLE_DATASETS_CTE."""
    return f""",
per AS (
  SELECT category AS value,
         CAST(SUM(CASE WHEN {query_where_sql(cq)} THEN 1 ELSE 0 END)
              AS BIGINT) AS fg_docs,
         CAST(COUNT(*) AS BIGINT) AS bg_docs
  FROM {relation} GROUP BY category),
tot AS (SELECT CAST(SUM(fg_docs) AS DOUBLE) AS fg_n,
               CAST(SUM(bg_docs) AS DOUBLE) AS bg_n FROM per),
scored AS (
  SELECT value, fg_docs, bg_docs,
         fg_docs / fg_n AS fg_pct, bg_docs / bg_n AS bg_pct
  FROM per CROSS JOIN tot WHERE fg_docs > 0)
SELECT value, fg_docs, bg_docs,
       round(fg_pct, 6) AS fg_pct, round(bg_pct, 6) AS bg_pct,
       round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6) AS jlh
FROM scored WHERE fg_pct > bg_pct
ORDER BY jlh DESC, value LIMIT {size}
"""


def total_sql(cq: CompiledQuery, relation: str = "datasets") -> str:
    """hits.total: post-filter applied, pagination not (search.py:123,133)."""
    return (
        f"SELECT CAST(COUNT(*) AS BIGINT) AS total FROM "
        f"(SELECT * FROM {relation} WHERE {query_where_sql(cq)}) q "
        f"WHERE {post_where_sql(cq)}"
    )
