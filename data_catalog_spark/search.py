"""Execute a CompiledQuery as a PySpark DataFrame plan, or over the served
Arrow snapshot's search index.

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

Index rendering (bottom of the module): the catalog serves searches, GETs
and counts from a ``SearchIndex`` of its latest version
(``DatasetsCatalog.snapshot``): the version's ``pyarrow.Table`` and one
``CellIndex`` per manifest cell, holding the cell's ``utf8_lower``ed
titles, token → row postings of the lowered ``dataSample`` (split on
``analyzers.STANDARD_SPLIT``) and ``sourceUri`` (split on ``URI_SPLIT``,
stopwords dropped), and its rows in id order.  A cell is indexed once and
shared by every version that holds it, so a commit costs the next version
only its touched cells and one copy of the rows into one chunk.  A text
search scores all titles in one call and marks each cell's postings at the
cell's row offset.  ``search`` and ``count`` dispatch on the source they
get: a DataFrame runs the Spark plan, an index is answered in the driver
with no Spark job.

Why the postings give the regex clauses' answer: the oracle and the Spark
plan match ``dataSample``/``sourceUri`` with
``analyzers.token_match_pattern``, a regex that matches a lowered string
exactly when the string's token set (split on the same class) intersects
the query's tokens.  The postings hold each row's token set of the same
lowered string split on the same class, so the rows listed under the
query's tokens are the rows the regex matches — a repeated token lists its
row once, a null or empty cell lists nowhere.  The title clause stays a
substring test, over the lowered titles.  A text search therefore scores
every row by adding the boosts of the clauses it matches (title 3,
dataSample 2, sourceUri 1: the sums are exact), keeps the rows that score,
and runs the filters, facets, post-filters and the (score desc, id asc)
top-k on those candidate rows only.  A match-all search or count masks
the whole table with the filters.  Pinned against the DuckDB oracle by
``tests/test_search.py`` (``test_index_matches_regex_at_token_boundaries``
and the ``test_arrow_*`` tests).

Lowercasing differs between the renderers: Arrow's ``utf8_lower`` (like
the DuckDB oracle and Lucene's LowerCaseFilter) and the query side's
``analyzers.fold_case`` lower each code point on its own, Spark's
``lower`` applies Java's full case mapping (ARCHITECTURE "Known
divergences").
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import analyzers
from .query.compiler import (
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
from .schema import COLUMN_ORDER, IS_PUBLIC_FIELD, ORG_UUID_FIELD

_NUMERIC_FIELDS = frozenset({"recordCount", "size"})


def _compares_raw(fld: str) -> bool:
    """Exact-match fields (boolean/numeric/not_analyzed orgUUID) compare
    raw; analyzed string fields compare lowercased (P1)."""
    return fld == IS_PUBLIC_FIELD or fld == ORG_UUID_FIELD or fld in _NUMERIC_FIELDS


def predicate_column(f) -> Column:
    """Render one IR filter to a Spark Column (mirrors sqlgen.predicate_sql)."""
    if isinstance(f, TermsFilter):
        if _compares_raw(f.fld):
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
        (F.lower(F.col("title")).contains(analyzers.fold_case(text)), TITLE_BOOST)
    ]
    std = analyzers.token_match_pattern(
        analyzers.standard_tokens(text), analyzers.STANDARD_SPLIT
    )
    uri = analyzers.token_match_pattern(analyzers.uri_tokens(text), analyzers.URI_SPLIT)
    if std:
        clauses.append((F.lower(F.col("dataSample")).rlike(std), DATASAMPLE_BOOST))
    if uri:
        clauses.append((F.lower(F.col("sourceUri")).rlike(uri), SOURCEURI_BOOST))
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
        return _top_buckets(
            [(r["cnt"], r[fld]) for r in rows if r["gc"] == gc and r["gf"] == gf],
            size,
        )

    cats = topk("category", CATEGORIES_FACET_SIZE, 0, 1)
    fmts = topk("format", FORMATS_FACET_SIZE, 1, 0)
    total_n = next(
        (int(r["post_cnt"]) for r in rows if r["gc"] == 1 and r["gf"] == 1), 0
    )
    return cats, fmts, total_n


def _top_buckets(buckets, size: int) -> list:
    """The facet's top ``size`` keys of (count, value) buckets: count desc,
    then value asc with a null value last (the oracle's ORDER BY cnt DESC,
    value).  Bounded by the field's distinct values, so it runs on the
    driver for both renderers."""
    ordered = sorted(buckets, key=lambda b: (-b[0], b[1] is None, b[1] or ""))
    return [v for _, v in ordered[:size]]


@dataclass
class SearchResult:
    """The reference's response shape (search.py:121-135, api_doc.json
    SearchHits): hits + total + facet bucket keys."""

    hits: list[dict]
    total: int
    categories: list[str]
    formats: list[str]


def search(src: DataFrame | SearchIndex, cq: CompiledQuery) -> SearchResult:
    """Full faceted search over a DataFrame or the catalog's search index.

    A ``SearchIndex`` is answered in the driver by ``arrow_search``, with
    no Spark job.  A DataFrame runs the Spark plan, the one driver-side
    collect point (final page + facet keys + count only; never the full
    match set): the ranked hits page is one job, and the one-pass
    facets+total aggregation is two more, because its grouping-sets
    ``Expand`` forces an Exchange.  Both plans share one query-filtered
    frame (its Column tree is built once)."""
    if isinstance(src, SearchIndex):
        return arrow_search(src, cq)
    df = src
    clauses = _clauses(cq)
    filtered = query_filtered(df, cq, clauses)
    hit_rows = [
        r.asDict() for r in hits(df, cq, clauses=clauses, filtered=filtered).collect()
    ]
    cats, fmts, n = facets_and_total(df, cq, filtered=filtered)
    return SearchResult(hits=hit_rows, total=n, categories=cats, formats=fmts)


def count(src: DataFrame | SearchIndex, cq: CompiledQuery) -> int:
    """Rows in the query context (security + query filters + text match),
    the count endpoint's answer; dispatches like ``search``."""
    if isinstance(src, SearchIndex):
        return arrow_count(src, cq)
    return query_filtered(src, cq).count()


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


# -- Index rendering: the served snapshot ----------------------------------
#
# Masks are boolean arrays over a table; a comparison with a null reads as
# false.  The predicates are monotone (AND/OR, no NOT), so that keeps
# exactly the rows Spark's and SQL's three-valued WHERE keeps.


@dataclass(frozen=True)
class Postings:
    """Token → ascending row positions, in CSR form: the rows holding the
    ``k``-th token are ``rows[starts[k]:starts[k + 1]]``, ``k = vocab[t]``."""

    vocab: dict[str, int]
    starts: np.ndarray
    rows: np.ndarray

    @classmethod
    def build(cls, lowered, split: str, stopwords=frozenset()) -> Postings:
        """Postings of a lowered string column split on the ``split``
        regex, without the empty token and ``stopwords``.  Sort-based: each
        (token id, row) pair of every cell is one int64 key, sorted and
        deduplicated by ``np.unique`` (a token repeated in a cell lists
        the row once), so the only Python objects are the distinct
        tokens."""
        parts = pc.split_pattern_regex(lowered, split)
        encoded = pc.dictionary_encode(pc.list_flatten(parts))
        vocab = encoded.dictionary.to_pylist()
        dropped = np.array([not t or t in stopwords for t in vocab], bool)
        ids = encoded.indices.to_numpy()
        n = len(lowered)
        keys = ids.astype(np.int64)
        keys *= n
        keys += pc.list_parent_indices(parts).to_numpy()
        keys = np.unique(keys[~dropped[ids]])
        rows = (keys % n).astype(np.int32)
        keys //= n
        return cls(
            vocab={t: k for k, t in enumerate(vocab)},
            starts=np.searchsorted(keys, np.arange(len(vocab) + 1)),
            rows=rows,
        )

    def mark(self, hit: np.ndarray, tokens) -> np.ndarray:
        """Set ``hit`` at the rows holding any of ``tokens``."""
        for t in tokens:
            k = self.vocab.get(t)
            if k is not None:
                hit[self.rows[self.starts[k]:self.starts[k + 1]]] = True
        return hit


@dataclass(frozen=True)
class CellIndex:
    """What a search reads of one manifest cell's rows besides the rows
    themselves: their lowered titles, the ``dataSample`` and ``sourceUri``
    postings, and the rows in id order (``rows_by_id``, searched by
    bisection: 4 bytes an entry, where a dict of Python strings costs about
    170).  Row positions are the cell's own.  A committed cell never
    changes, so the catalog builds this once per cell and every version
    that holds the cell shares it."""

    title: pa.Array
    data_sample: Postings
    source_uri: Postings
    rows_by_id: np.ndarray

    @classmethod
    def build(cls, table: pa.Table) -> CellIndex:
        def lowered(name):
            return pc.utf8_lower(table[name]).combine_chunks()

        return cls(
            title=lowered("title"),
            data_sample=Postings.build(lowered("dataSample"), analyzers.STANDARD_SPLIT),
            source_uri=Postings.build(
                lowered("sourceUri"), analyzers.URI_SPLIT, analyzers.URI_STOPWORDS
            ),
            # stable: equal ids keep their row order
            rows_by_id=pc.sort_indices(table["id"]).to_numpy().astype(np.int32),
        )

    @property
    def num_rows(self) -> int:
        return len(self.rows_by_id)


@dataclass(frozen=True)
class SearchIndex:
    """What served reads query: one version's rows as one table and the
    index of each of its cells, cell ``i`` holding rows
    ``starts[i]:starts[i + 1]``, with the cells' lowered titles as one
    chunked array (``titles``, no copy).  The table is one chunk and the
    titles are matched by one call because a search's cost is mostly its
    count of pyarrow calls: each one lets the GIL go to the server's other
    threads, and a take from a many-chunk table also concatenates it."""

    table: pa.Table
    cells: tuple[CellIndex, ...]
    starts: np.ndarray
    titles: pa.ChunkedArray

    @classmethod
    def of_cells(cls, parts) -> SearchIndex:
        """The index over ``(table, CellIndex)`` parts (at least one, all of
        one schema).  The tables are copied into one chunk, at a fraction
        of the cost of indexing one cell."""
        tables, cells = zip(*parts)
        return cls(
            table=pa.concat_tables(tables).combine_chunks(),
            cells=cells,
            starts=np.cumsum([0] + [c.num_rows for c in cells]),
            titles=pa.chunked_array([c.title for c in cells]),
        )

    @classmethod
    def build(cls, table: pa.Table) -> SearchIndex:
        """The index of a bare table, as one cell."""
        return cls.of_cells([(table, CellIndex.build(table))])

    @property
    def num_rows(self) -> int:
        return self.table.num_rows

    def cell_table(self, i: int) -> pa.Table:
        """Cell ``i``'s rows: a slice of ``table``, no copy."""
        return self.table.slice(self.starts[i], self.cells[i].num_rows)

    def row(self, entry_id: str) -> dict | None:
        """The entry with ``entry_id`` as a dict, from the first cell that
        holds it, or None.  Arrow orders strings by their UTF-8 bytes,
        which is Python's code-point order, so the bisection agrees with
        the sort."""
        ids = self.table["id"]
        for cell, start in zip(self.cells, self.starts):
            order = cell.rows_by_id
            k = bisect.bisect_left(range(len(order)), entry_id,
                                   key=lambda i: ids[start + order[i]].as_py())
            if k < len(order) and ids[start + order[k]].as_py() == entry_id:
                return self.table.slice(start + order[k], 1).to_pylist()[0]
        return None


def _all_of(masks):
    """AND of the masks; None (every row) when there are none."""
    out = None
    for m in masks:
        out = m if out is None else pc.and_(out, m)
    return out


def predicate_mask(table: pa.Table, f):
    """Render one IR filter to a boolean mask (predicate_column's twin)."""
    if isinstance(f, TermsFilter):
        col = table[f.fld]
        if not _compares_raw(f.fld):
            col = pc.utf8_lower(col)
        # is_in reads a null input as false
        return pc.is_in(col, value_set=pa.array(list(f.values), type=col.type))
    if isinstance(f, RangeFilter):
        col = table[f.fld]
        bounds = []
        if f.lo is not None:
            bounds.append(pc.fill_null(pc.greater_equal(col, f.lo), False))
        if f.hi is not None:
            bounds.append(pc.fill_null(pc.less_equal(col, f.hi), False))
        out = _all_of(bounds)
        return out if out is not None else pa.array(np.ones(table.num_rows, bool))
    if isinstance(f, OrGroup):
        out = None
        for x in f.filters:
            m = predicate_mask(table, x)
            out = m if out is None else pc.or_(out, m)
        return out
    raise TypeError(f"unknown filter {f!r}")


def text_scores(index: SearchIndex, text: str) -> np.ndarray:
    """Every row's relevance score for ``text`` (score_column's twin): the
    boosts of the clauses it matches, added in clause order; 0 where none
    matches.  The title clause is a substring test of the folded text in
    the lowered titles; the dataSample and sourceUri clauses mark the rows
    each cell's postings list under the text's tokens, at the cell's row
    offset."""
    title = pc.match_substring(index.titles, analyzers.fold_case(text))
    score = pc.fill_null(title, False).to_numpy() * TITLE_BOOST
    for name, tokens, boost in (
        ("data_sample", analyzers.standard_tokens(text), DATASAMPLE_BOOST),
        ("source_uri", analyzers.uri_tokens(text), SOURCEURI_BOOST),
    ):
        hit = np.zeros(index.num_rows, bool)
        for cell, start in zip(index.cells, index.starts):
            getattr(cell, name).mark(hit[start:start + cell.num_rows], tokens)
        score += hit * boost
    return score


def arrow_query_filtered(index: SearchIndex, cq: CompiledQuery):
    """(rows, score): the query-context rows (query_filtered's twin) and
    their relevance scores.  A text query takes the rows that score, then
    filters them; a match-all query masks the whole table."""
    table = index.table
    if cq.text:
        score = text_scores(index, cq.text)
        hit = np.flatnonzero(score)
        table, score = table.take(hit), score[hit]
    else:
        score = np.ones(table.num_rows)
    keep = _all_of(predicate_mask(table, f) for f in cq.query_filters)
    if keep is not None:
        table = table.filter(keep)
        score = score[keep.to_numpy(zero_copy_only=False)]
    return table, pa.array(score)


def arrow_count(index: SearchIndex, cq: CompiledQuery) -> int:
    """``count`` over the index: a match-all count is the true-count of
    the filter mask, with no copy of the rows."""
    if cq.text:
        return arrow_query_filtered(index, cq)[0].num_rows
    keep = _all_of(predicate_mask(index.table, f) for f in cq.query_filters)
    return index.num_rows if keep is None else pc.sum(keep).as_py() or 0


def arrow_search(index: SearchIndex, cq: CompiledQuery) -> SearchResult:
    """``search`` over the index: the hits page ranked (score desc, id
    asc) with ``from`` or the ``searchAfter`` cursor, the total after the
    post-filters, and the facets over the pre-post-filter set."""
    rows, score = arrow_query_filtered(index, cq)
    cats = _arrow_facet(rows, "category", CATEGORIES_FACET_SIZE)
    fmts = _arrow_facet(rows, "format", FORMATS_FACET_SIZE)
    post = _all_of(predicate_mask(rows, f) for f in cq.post_filters)
    if post is not None:
        rows, score = rows.filter(post), pc.filter(score, post)
    total_n = rows.num_rows
    offset = cq.from_
    if cq.search_after is not None:
        after_score, after_id = cq.search_after
        after = pc.or_(
            pc.less(score, after_score),
            pc.and_(pc.equal(score, after_score), pc.greater(rows["id"], after_id)),
        )
        rows, score, offset = rows.filter(after), pc.filter(score, after), 0
    ranked = rows.select(COLUMN_ORDER).append_column("score", score)
    if cq.size == 0 or ranked.num_rows <= offset:
        page = []
    else:
        top = pc.select_k_unstable(
            ranked, offset + cq.size, [("score", "descending"), ("id", "ascending")]
        )
        page = ranked.take(top[offset:]).to_pylist()
    return SearchResult(hits=page, total=total_n, categories=cats, formats=fmts)


def _arrow_facet(rows: pa.Table, fld: str, size: int) -> list:
    counts = pc.value_counts(rows[fld])
    return _top_buckets(
        zip(counts.field("counts").to_pylist(), counts.field("values").to_pylist()),
        size,
    )
