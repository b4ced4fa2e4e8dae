"""Execute a CompiledQuery as a PySpark DataFrame plan.

Spark rendering of the same IR that ``query.sqlgen`` renders to oracle SQL.
All predicates/score expressions are built from built-in functions (lower/
rlike/contains/isin/when) so the whole plan stays inside whole-stage codegen
and Catalyst can push filters into the parquet scan — no UDFs anywhere.

Plan shape (R2, SURVEY §4): ``df1 = scan.where(security ∧ query_filters ∧
text_match)`` → facets aggregate df1; ``hits/total = df1.where(post)``.
Facets must NOT see post-filters (category/format selections) but MUST see
security/time filters (query_translation.py:82-96).

Scale notes (100 TB): the security predicate (orgUUID/isPublic) is the outer
filter of every query — partitioning the catalog table by isPublic and
bucketing by orgUUID turns it into partition pruning.  Ranked pagination
compiles to TakeOrderedAndProject (top from+size per partition, merged on the
driver) — no global sort.  Facets are partial-aggregated map-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import analyzers
from .query.compiler import (
    CATEGORIES_FACET_SIZE,
    FORMATS_FACET_SIZE,
    CompiledQuery,
    OrGroup,
    RangeFilter,
    TermsFilter,
)
from .schema import COLUMN_ORDER, IS_PUBLIC_FIELD, ORG_UUID_FIELD

_NUMERIC_FIELDS = frozenset({"recordCount", "size"})


def predicate_column(f) -> Column:
    """Render one IR filter to a Spark Column (mirrors sqlgen.predicate_sql)."""
    if isinstance(f, TermsFilter):
        # exact-match fields (boolean/numeric/not_analyzed orgUUID) compare
        # raw; analyzed string fields compare lowercased (P1)
        if f.fld == IS_PUBLIC_FIELD or f.fld == ORG_UUID_FIELD or f.fld in _NUMERIC_FIELDS:
            expr = F.col(f.fld)
        else:
            expr = F.lower(F.col(f.fld))
        values = list(f.values)
        if len(values) == 1:
            return expr == F.lit(values[0])
        return expr.isin(values)
    if isinstance(f, RangeFilter):
        cond = F.lit(True)
        if f.lo is not None:
            cond = cond & (F.col(f.fld) >= F.lit(f.lo))
        if f.hi is not None:
            cond = cond & (F.col(f.fld) <= F.lit(f.hi))
        return cond
    if isinstance(f, OrGroup):
        out = None
        for x in f.filters:
            c = predicate_column(x)
            out = c if out is None else (out | c)
        return out
    raise TypeError(f"unknown filter {f!r}")


def text_clause_columns(text: str) -> list[tuple[Column, float]]:
    """The 3 boosted text clauses (T1-T3) as Columns — same patterns as the
    oracle renderer (analyzers.token_match_pattern is shared)."""
    clauses: list[tuple[Column, float]] = [
        (F.lower(F.col("title")).contains(text.lower()), 3.0)
    ]
    std = analyzers.token_match_pattern(
        analyzers.standard_tokens(text), analyzers.STANDARD_SPLIT
    )
    if std:
        clauses.append((F.lower(F.col("dataSample")).rlike(std), 2.0))
    uri = analyzers.token_match_pattern(analyzers.uri_tokens(text), analyzers.URI_SPLIT)
    if uri:
        clauses.append((F.lower(F.col("sourceUri")).rlike(uri), 1.0))
    return clauses


def _clauses(cq: CompiledQuery, clauses=None) -> list[tuple[Column, float]]:
    if clauses is not None:
        return clauses
    return text_clause_columns(cq.text) if cq.text else []


def score_column(cq: CompiledQuery, clauses=None) -> Column:
    """T4/T5: sum of matching clause boosts; constant 1.0 on match-all.
    ``clauses``: ``text_clause_columns(cq.text)`` when already built."""
    if not cq.text:
        return F.lit(1.0)
    total = None
    for pred, boost in _clauses(cq, clauses):
        c = F.when(pred, F.lit(boost)).otherwise(F.lit(0.0))
        total = c if total is None else (total + c)
    return total


def query_predicate(cq: CompiledQuery, clauses=None) -> Column:
    """Security + query filters + text-match requirement (≥1 should-clause).
    ``clauses``: ``text_clause_columns(cq.text)`` when already built."""
    cond = F.lit(True)
    for f in cq.query_filters:
        cond = cond & predicate_column(f)
    if cq.text:
        disj = None
        for pred, _ in _clauses(cq, clauses):
            disj = pred if disj is None else (disj | pred)
        cond = cond & disj
    return cond


def post_predicate(cq: CompiledQuery) -> Column:
    cond = F.lit(True)
    for f in cq.post_filters:
        cond = cond & predicate_column(f)
    return cond


def query_filtered(df: DataFrame, cq: CompiledQuery, clauses=None) -> DataFrame:
    """df1 of the R2 plan shape: query-context rows (facet/aggregation base)."""
    return df.where(query_predicate(cq, clauses))


def hits(
    df: DataFrame, cq: CompiledQuery, *, clauses=None, filtered=None
) -> DataFrame:
    """Ranked, post-filtered, paginated hits page — compiles to
    TakeOrderedAndProject (top-k, no global sort).  A compiled
    ``searchAfter`` cursor routes to the O(page) cursor plan instead of
    offset paging.

    ``clauses`` / ``filtered``: the text clauses and ``query_filtered``
    frame of (df, cq) when the caller already built them — ``search``
    shares one Column tree between the hits page and the facets."""
    if cq.search_after is not None:
        return hits_after(
            df, cq, *cq.search_after, clauses=clauses, filtered=filtered
        )
    clauses = _clauses(cq, clauses)
    if filtered is None:
        filtered = query_filtered(df, cq, clauses)
    ranked = (
        filtered.withColumn("score", score_column(cq, clauses))
        .where(post_predicate(cq))
        .select(*COLUMN_ORDER, "score")
        .orderBy(F.col("score").desc(), F.col("id").asc())
    )
    if cq.from_:
        ranked = ranked.offset(cq.from_)
    return ranked.limit(cq.size)


def hits_after(
    df: DataFrame,
    cq: CompiledQuery,
    after_score: float,
    after_id: str,
    *,
    clauses=None,
    filtered=None,
) -> DataFrame:
    """Cursor-paged hits (ES ``search_after``): the page strictly AFTER
    the (score, id) cursor in ranking order.  ``from``/``size`` deep
    paging is O(from) per page — the engine ranks and discards every
    earlier row again on every page, so page 200k of a 100 TB result set
    re-pays the whole prefix.  The cursor page is O(page): the cursor
    predicate joins the scan filter, and the plan stays
    TakeOrderedAndProject(size) over the already-pruned set.  The cursor
    is (score, id) — exactly the ranking's sort key, so consecutive
    cursor pages tile the from/size ranking with no gaps or repeats
    (pinned by test_search_after_tiles_offset_pages).  ``clauses`` /
    ``filtered`` as in ``hits``."""
    clauses = _clauses(cq, clauses)
    if filtered is None:
        filtered = query_filtered(df, cq, clauses)
    return (
        filtered.withColumn("score", score_column(cq, clauses))
        .where(post_predicate(cq))
        .where(
            (F.col("score") < after_score)
            | ((F.col("score") == after_score) & (F.col("id") > after_id))
        )
        .select(*COLUMN_ORDER, "score")
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(cq.size)
    )


def facet(df: DataFrame, cq: CompiledQuery, fld: str, size: int) -> DataFrame:
    """Terms facet over the pre-post-filter set; deterministic top-k."""
    return (
        query_filtered(df, cq)
        .groupBy(F.col(fld).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("value").asc())
        .limit(size)
    )


def categories_facet(df: DataFrame, cq: CompiledQuery) -> DataFrame:
    return facet(df, cq, "category", CATEGORIES_FACET_SIZE)


def formats_facet(df: DataFrame, cq: CompiledQuery) -> DataFrame:
    return facet(df, cq, "format", FORMATS_FACET_SIZE)


SIGNIFICANT_FACET_SIZE = 10


def significant_categories(df: DataFrame, cq: CompiledQuery) -> DataFrame:
    """ES's ``significant_terms`` aggregation on the category field: the
    buckets OVERREPRESENTED in the query's foreground (the query-filtered
    set, same base as the terms facets) relative to the index-wide
    background, scored by JLH = (fg_pct - bg_pct)·(fg_pct / bg_pct) and
    truncated to the positively significant top-k.  One scan, one
    shuffle: the foreground flag aggregates as a conditional sum inside
    the same groupBy that counts the background; the totals are a single
    broadcast row."""
    flagged = df.withColumn(
        "_fg", F.when(query_predicate(cq), 1).otherwise(0)
    )
    per = flagged.groupBy(F.col("category").alias("value")).agg(
        F.sum("_fg").cast("long").alias("fg_docs"),
        F.count(F.lit(1)).cast("long").alias("bg_docs"),
    )
    tot = per.agg(
        F.sum("fg_docs").cast("double").alias("fg_n"),
        F.sum("bg_docs").cast("double").alias("bg_n"),
    )
    scored = (
        per.crossJoin(F.broadcast(tot))
        .where(F.col("fg_docs") > 0)
        .select(
            "value",
            "fg_docs",
            "bg_docs",
            (F.col("fg_docs") / F.col("fg_n")).alias("fg_pct"),
            (F.col("bg_docs") / F.col("bg_n")).alias("bg_pct"),
        )
    )
    jlh = (F.col("fg_pct") - F.col("bg_pct")) * (
        F.col("fg_pct") / F.col("bg_pct")
    )
    return (
        scored.where(F.col("fg_pct") > F.col("bg_pct"))
        .select(
            "value",
            "fg_docs",
            "bg_docs",
            F.round("fg_pct", 6).alias("fg_pct"),
            F.round("bg_pct", 6).alias("bg_pct"),
            F.round(jlh, 6).alias("jlh"),
        )
        .orderBy(F.col("jlh").desc(), "value")
        .limit(SIGNIFICANT_FACET_SIZE)
    )


def total(df: DataFrame, cq: CompiledQuery) -> DataFrame:
    """hits.total as a 1-row DataFrame (post-filter applied, pagination not)."""
    return (
        query_filtered(df, cq)
        .where(post_predicate(cq))
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
    )


def facets_and_total(
    df: DataFrame, cq: CompiledQuery, *, filtered=None
) -> tuple[list[str], list[str], int]:
    """R2 one-pass plan: GROUPING SETS ((category), (format), ()) over the
    query-filtered set computes BOTH facets (pre-post-filter counts, A1/A2)
    and the post-filtered total (A3, as a conditional sum in the () slot)
    in a single scan + single aggregation — versus three separate jobs.
    Output rows are bounded by |categories| + |formats| + 1, so the final
    top-k ordering happens on the driver.  An empty query-filtered set
    yields no rows at all (not even the () slot): total 0, no facets.
    ``filtered``: ``query_filtered(df, cq)`` when already built."""
    if filtered is None:
        filtered = query_filtered(df, cq)
    rows = (
        filtered.withColumn("_post", F.when(post_predicate(cq), 1).otherwise(0))
        .groupingSets([["category"], ["format"], []], "category", "format")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_post").alias("post_cnt"),
            F.grouping("category").cast("int").alias("gc"),
            F.grouping("format").cast("int").alias("gf"),
        )
        .collect()
    )
    def topk(fld: str, size: int, gc: int, gf: int) -> list[str]:
        buckets = [
            (r["cnt"], r[fld]) for r in rows if r["gc"] == gc and r["gf"] == gf
        ]
        buckets.sort(key=lambda t: (-t[0], t[1]))
        return [v for _, v in buckets[:size]]

    cats = topk("category", CATEGORIES_FACET_SIZE, 0, 1)
    fmts = topk("format", FORMATS_FACET_SIZE, 1, 0)
    total_n = next(
        (int(r["post_cnt"]) for r in rows if r["gc"] == 1 and r["gf"] == 1), 0
    )
    return cats, fmts, total_n


@dataclass
class SearchResult:
    """The reference's response shape (search.py:121-135, api_doc.json
    SearchHits): hits + total + facet bucket keys."""

    hits: list[dict]
    total: int
    categories: list[str]
    formats: list[str]


def search(df: DataFrame, cq: CompiledQuery) -> SearchResult:
    """Full faceted search — the one driver-side collect point (final page +
    facet keys + count only; never the full match set).  Two jobs total:
    the ranked hits page, and the one-pass facets+total aggregation, both
    over one shared query-filtered frame (its Column tree is built once)."""
    clauses = _clauses(cq)
    filtered = query_filtered(df, cq, clauses)
    hit_rows = [
        r.asDict() for r in hits(df, cq, clauses=clauses, filtered=filtered).collect()
    ]
    cats, fmts, n = facets_and_total(df, cq, filtered=filtered)
    return SearchResult(hits=hit_rows, total=n, categories=cats, formats=fmts)


def create_secure_view(
    spark, df: DataFrame, name: str, org_uuids, filtering_mode, *, is_admin: bool = False
) -> DataFrame:
    """Row-level security as a VIEW: register ``name`` exposing only the
    rows visible under the caller's security context (P6's injected
    predicate — query_translation.py:180-196 — with no user filters).

    This is the Spark-native deployment shape for multi-tenant access:
    grant on the per-tenant view, never the base table; every SQL query a
    tenant runs against the view inherits the predicate, and Catalyst
    pushes it into the scan (partition pruning when the table is laid out
    by isPublic/orgUUID)."""
    from .query import DataSetFiltering, compile_query

    # An org-less non-admin caller in PRIVATE_AND_PUBLIC mode is entitled
    # to exactly the public rows; compiling an empty orgUUID IN-list would
    # instead 400 (P8 validation), so degrade the mode here.
    if (
        not org_uuids
        and not is_admin
        and filtering_mode == DataSetFiltering.PRIVATE_AND_PUBLIC
    ):
        filtering_mode = DataSetFiltering.ONLY_PUBLIC
    cq = compile_query(None, org_uuids, filtering_mode, is_admin=is_admin)
    secured = df.where(query_predicate(cq))
    secured.createOrReplaceTempView(name)
    return secured
