"""End-to-end search parity: the Spark plan vs the generated DuckDB oracle
on the derived `datasets` table (the same IR rendered by both backends)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings

from data_catalog_spark import search
from data_catalog_spark.datasets_source import ORACLE_DATASETS_CTE, datasets_df
from data_catalog_spark.query import DataSetFiltering as M, compile_query
from data_catalog_spark.query import sqlgen

from conftest import assert_same

ORGS = ["org01", "org02"]

CASES = {
    "match_all_pap": ({}, ORGS, M.PRIVATE_AND_PUBLIC, False),
    "match_all_only_public": ({}, [], M.ONLY_PUBLIC, False),
    "only_private": ({}, ["org03"], M.ONLY_PRIVATE, False),
    "admin_bypass": ({}, [], M.PRIVATE_AND_PUBLIC, True),
    "text_widget": ({"query": "widget", "size": 20}, ORGS, M.PRIVATE_AND_PUBLIC, False),
    "text_economy_filter": (
        {"query": "economy", "filters": [{"format": ["csv"]}], "size": 15},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    ),
    "filter_terms": (
        {"filters": [{"category": ["brand#13", "brand#19"]}], "size": 25},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    ),
    "time_range": (
        {"filters": [{"creationTime": ["2014-03-01", "2014-09-30"]}], "size": 30},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    ),
    "time_open_start": (
        {"filters": [{"creationTime": [-1, "2014-06-15"]}]},
        ["org01"],
        M.ONLY_PUBLIC,
        False,
    ),
    "paginated": ({"query": "widget", "size": 5, "from": 7}, ORGS, M.PRIVATE_AND_PUBLIC, False),
    "m1_full": (
        {"query": "widget", "filters": [{"format": ["json"]}], "size": 3, "from": 2},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    ),
}


@pytest.fixture(scope="module")
def ds(spark, sf_dir):
    return datasets_df(spark, sf_dir)


@pytest.mark.parametrize("name", sorted(CASES))
def test_hits_parity(name, ds, ddb):
    cq = compile_query(*CASES[name])
    assert_same(search.hits(ds, cq), ddb, f"{ORACLE_DATASETS_CTE} {sqlgen.hits_sql(cq)}")


@pytest.mark.parametrize("name", sorted(CASES))
def test_categories_facet_parity(name, ds, ddb):
    cq = compile_query(*CASES[name])
    assert_same(
        search.categories_facet(ds, cq),
        ddb,
        f"{ORACLE_DATASETS_CTE} {sqlgen.categories_facet_sql(cq)}",
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_total_parity(name, ds, ddb):
    cq = compile_query(*CASES[name])
    assert_same(search.total(ds, cq), ddb, f"{ORACLE_DATASETS_CTE} {sqlgen.total_sql(cq)}")


def test_facets_ignore_post_filters_but_hits_dont(ds):
    """R2 plan shape: the format facet must list all formats available to the
    query-filtered set even when the user filters format=csv."""
    cq = compile_query(
        {"filters": [{"format": ["csv"]}]}, ORGS, M.PRIVATE_AND_PUBLIC, False
    )
    fmts = {r["value"] for r in search.formats_facet(ds, cq).collect()}
    assert fmts == {"csv", "json", "parquet"}
    hit_formats = {r["format"] for r in search.hits(ds, cq).collect()}
    assert hit_formats == {"csv"}


def test_search_result_shape(ds):
    cq = compile_query({"query": "widget", "size": 5}, ORGS, M.PRIVATE_AND_PUBLIC, False)
    res = search.search(ds, cq)
    assert len(res.hits) <= 5
    assert res.total >= len(res.hits)
    assert all(h["score"] > 0 for h in res.hits)
    scores = [h["score"] for h in res.hits]
    assert scores == sorted(scores, reverse=True)
    assert res.categories and res.formats


def test_score_tiers(ds):
    """title substring (3) outranks dataSample match (2) outranks uri (1)."""
    cq = compile_query({"query": "widget", "size": 500}, [], M.PRIVATE_AND_PUBLIC, True)
    rows = search.hits(ds, cq).collect()
    assert rows, "query must match"
    for r in rows:
        expected = 0.0
        if "widget" in r["title"].lower():
            expected += 3.0
        if "widget" in r["dataSample"].lower():
            expected += 2.0
        if "widget" in r["sourceUri"].lower():
            expected += 1.0
        assert r["score"] == expected


def test_fuzzy_title_parity(spark, sf_dir, ddb):
    """T6 (README.md:106-118): levenshtein<=1 token match vs DuckDB."""
    from data_catalog_spark.entries import FUZZY_ORACLE, _fuzzy_search

    assert_same(_fuzzy_search(spark, sf_dir), ddb, FUZZY_ORACLE)


def test_fuzzy_title_matches_typo(spark, sf_dir):
    from data_catalog_spark.entries import _fuzzy_search

    rows = _fuzzy_search(spark, sf_dir).collect()
    assert rows, "'wiget' must fuzzy-match 'widget' titles"
    assert all("widget" in r.title.lower() for r in rows)


@pytest.mark.parametrize(
    "case",
    ["cat_match_all", "cat_text_search", "cat_filter_term", "cat_m1_full", "cat_combo_all"],
)
def test_one_pass_facets_match_three_pass(ds, case):
    """facets_and_total (GROUPING SETS, one scan) must equal the separate
    facet/total plans on every representative case."""
    from data_catalog_spark.entries import CATALOG_CASES

    cq = compile_query(*CATALOG_CASES[case])
    cats, fmts, n = search.facets_and_total(ds, cq)
    assert cats == [r["value"] for r in search.categories_facet(ds, cq).collect()]
    assert fmts == [r["value"] for r in search.formats_facet(ds, cq).collect()]
    assert n == search.total(ds, cq).collect()[0]["total"]


def test_org_stats_parity(spark, sf_dir, ddb):
    from data_catalog_spark.entries import ORG_STATS_ORACLE, _org_stats

    assert_same(_org_stats(spark, sf_dir), ddb, ORG_STATS_ORACLE)


def test_org_stats_totals(spark, sf_dir):
    from data_catalog_spark.entries import _org_stats

    rows = _org_stats(spark, sf_dir).collect()
    ds = datasets_df(spark, sf_dir)
    assert sum(r.n_datasets for r in rows) == ds.count()
    assert all(0 <= r.n_public <= r.n_datasets for r in rows)


def test_uri_parts_parity(spark, sf_dir, ddb):
    from data_catalog_spark.entries import URI_PARTS_ORACLE, _uri_parts

    assert_same(_uri_parts(spark, sf_dir), ddb, URI_PARTS_ORACLE)


def test_uri_parts_values(spark, sf_dir):
    """The extracted database-id is the partkey path segment and the scheme
    matches the URI prefix — the dataset_delete.py:99-103 contract."""
    from data_catalog_spark.entries import _uri_parts as up

    for r in up(spark, sf_dir).collect():
        assert r.target_scheme == "hdfs"
        assert r.database_id == r.id
        assert r.source_host == "www.catalog.com"


def test_secure_view_hides_foreign_private_rows(spark, sf_dir):
    """The RLS view shows exactly: own-org rows plus public rows
    (PRIVATE_AND_PUBLIC mode), and tenant SQL through the view inherits
    the predicate."""
    ds = datasets_df(spark, sf_dir)
    secured = search.create_secure_view(
        spark, ds, "datasets_org01", ["org01"], M.PRIVATE_AND_PUBLIC
    )
    rows = secured.collect()
    assert rows
    assert all(r.orgUUID == "org01" or r.isPublic for r in rows)
    # something was actually filtered out
    assert len(rows) < ds.count()
    # plain SQL over the view sees the same row set
    n = spark.sql("SELECT count(*) AS n FROM datasets_org01").collect()[0].n
    assert n == len(rows)


def test_secure_view_only_private(spark, sf_dir):
    ds = datasets_df(spark, sf_dir)
    secured = search.create_secure_view(
        spark, ds, "datasets_priv", ["org02"], M.ONLY_PRIVATE
    )
    rows = secured.collect()
    assert rows
    assert all(r.orgUUID == "org02" and not r.isPublic for r in rows)


def test_secure_view_orgless_caller_gets_public_only(spark, sf_dir):
    """No orgs + PRIVATE_AND_PUBLIC must degrade to the public-only view,
    not raise a validation error."""
    ds = datasets_df(spark, sf_dir)
    secured = search.create_secure_view(
        spark, ds, "datasets_orgless", [], M.PRIVATE_AND_PUBLIC
    )
    rows = secured.collect()
    assert rows
    assert all(r.isPublic for r in rows)


# -- search_after (cursor deep paging) ------------------------------------------


def test_search_after_tiles_offset_pages(spark, sf_dir):
    """Cursor pages derived from each page's last (score, id) reproduce
    from/size paging exactly — no gaps, no repeats (the ES search_after
    contract), while costing O(page) instead of O(from)."""
    from data_catalog_spark.entries import ORGS

    ds = datasets_df(spark, sf_dir)
    page_size = 10

    def page_offset(frm):
        cq = compile_query(
            {"query": "widget", "size": page_size, "from": frm},
            ORGS,
            M.PRIVATE_AND_PUBLIC,
            False,
        )
        return search.hits(ds, cq).collect()

    cq_cursor = compile_query(
        {"query": "widget", "size": page_size},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    )
    p1 = page_offset(0)
    assert p1
    cursor = (p1[-1].score, p1[-1].id)
    for frm in (page_size, 2 * page_size):
        via_cursor = search.hits_after(ds, cq_cursor, *cursor).collect()
        via_offset = page_offset(frm)
        assert [(r.id, r.score) for r in via_cursor] == [
            (r.id, r.score) for r in via_offset
        ]
        if not via_cursor:
            break
        cursor = (via_cursor[-1].score, via_cursor[-1].id)


def test_search_after_matches_oracle(spark, sf_dir, ddb):
    """Compiled end-to-end from the JSON 'searchAfter' field: both the
    Spark plan and the oracle SQL route through the cursor renderers."""
    from data_catalog_spark.entries import CATALOG_CASES

    cq = compile_query(*CATALOG_CASES["cat_search_after"])
    assert cq.search_after == (4.0, "299")
    assert_same(
        search.hits(datasets_df(spark, sf_dir), cq),
        ddb,
        f"{ORACLE_DATASETS_CTE} {sqlgen.hits_sql(cq)}",
    )


def test_search_after_compiler_validation():
    from data_catalog_spark.errors import InvalidQueryError

    base = (["org01"], M.PRIVATE_AND_PUBLIC, False)
    for bad in (
        {"searchAfter": "nope"},
        {"searchAfter": [1.0]},
        {"searchAfter": [1.0, 2.0]},
        {"searchAfter": ["1.0", "x"]},
        {"searchAfter": [True, "x"]},
        {"searchAfter": [1.0, "x"], "from": 3},
        {"searchAfter": [float("nan"), "x"]},
        {"searchAfter": [float("inf"), "x"]},
    ):
        with pytest.raises(InvalidQueryError):
            compile_query(bad, *base)
    cq = compile_query({"searchAfter": [2, "abc"]}, *base)
    assert cq.search_after == (2.0, "abc")


def test_search_after_plan_is_topk_not_global_sort(spark, sf_dir):
    """The cursor page must stay TakeOrderedAndProject(size) — never a
    global sort + offset (the O(from) shape cursor paging exists to
    avoid)."""
    from data_catalog_spark.entries import CATALOG_CASES

    cq = compile_query(*CATALOG_CASES["cat_search_after"])
    plan = (
        search.hits(datasets_df(spark, sf_dir), cq)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_search_after_cursor_id_is_sql_escaped():
    """A quote in the cursor id must render as valid escaped SQL, not
    break (or inject into) the oracle renderer."""
    from data_catalog_spark.entries import ORGS

    cq = compile_query(
        {"query": "widget", "size": 5, "searchAfter": [4.0, "o'brien"]},
        ORGS,
        M.PRIVATE_AND_PUBLIC,
        False,
    )
    sql = sqlgen.hits_sql(cq)
    assert "id > 'o''brien'" in sql
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW datasets AS SELECT * FROM (VALUES "
                "('a', 't', 'c', 'd', 'csv', 1::BIGINT, 1::BIGINT, 'u', 'tu', "
                "'hdfs', TRUE, 'org01', '2014-01-01T00:00:00')) "
                "t(id, title, category, dataSample, format, recordCount, size, "
                "sourceUri, targetUri, storeType, isPublic, orgUUID, creationTime)")
    con.execute(sql)  # parses and runs — no injection break


def test_significant_categories_parity(spark, sf_dir, ddb):
    from conftest import assert_same
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert_same(
        qs["cat_significant_categories"](spark, sf_dir),
        ddb,
        os_["cat_significant_categories"],
    )


def test_significant_categories_are_overrepresented(spark, sf_dir):
    """Every bucket must be positively significant (fg share > bg share)
    and carry at least one foreground doc — ES significant_terms
    semantics, not a plain terms facet."""
    import __spark_entry__ as e

    rows = e.queries()["cat_significant_categories"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.fg_docs >= 1
        assert r.fg_pct > r.bg_pct
        assert r.jlh > 0


def test_more_like_this_parity(spark, sf_dir, ddb):
    from conftest import assert_same
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert_same(
        qs["cat_more_like_this"](spark, sf_dir), ddb, os_["cat_more_like_this"]
    )


def test_more_like_this_excludes_seed_and_requires_overlap(spark, sf_dir):
    from data_catalog_spark.entries import MLT_SEED_ID, _more_like_this

    rows = _more_like_this(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.id != MLT_SEED_ID
        assert r.n_shared >= 1
        assert r.score > 0


# -- Index renderer (the served snapshot) vs the DuckDB oracle --------------


@pytest.fixture(scope="module")
def ds_arrow(ds):
    return search.SearchIndex.build(ds.toArrow())


def _result(res) -> dict:
    return {"hits": res.hits, "total": res.total,
            "categories": res.categories, "formats": res.formats}


def _oracle(con, cq, prelude: str = ORACLE_DATASETS_CTE) -> dict:
    """The full search answer of ``query.sqlgen``: hit rows as dicts (with
    score), total and both facets' keys."""
    def rows(sql):
        cur = con.execute(f"{prelude} {sql}")
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    return {
        "hits": rows(sqlgen.hits_sql(cq)),
        "total": rows(sqlgen.total_sql(cq))[0]["total"],
        "categories": [r["value"] for r in rows(sqlgen.categories_facet_sql(cq))],
        "formats": [r["value"] for r in rows(sqlgen.formats_facet_sql(cq))],
    }


@pytest.mark.parametrize("name", sorted(CASES))
def test_arrow_search_matches_oracle(name, ds_arrow, ddb):
    cq = compile_query(*CASES[name])
    want = _oracle(ddb, cq)
    assert want["hits"], "every case has hits"
    assert _result(search.search(ds_arrow, cq)) == want


@pytest.mark.parametrize("name", sorted(CASES))
def test_arrow_count_matches_oracle(name, ds_arrow, ddb):
    cq = compile_query(*CASES[name])
    n = ddb.execute(
        f"{ORACLE_DATASETS_CTE} SELECT count(*) FROM datasets "
        f"WHERE {sqlgen.query_where_sql(cq)}"
    ).fetchone()[0]
    assert search.count(ds_arrow, cq) == n


def test_arrow_search_after_tiles_offset_pages(ds_arrow, ddb):
    """Cursor pages from each page's last (score, id) reproduce from/size
    paging, and every page equals the oracle's."""
    from data_catalog_spark.entries import ORGS

    def page(extra):
        cq = compile_query({"query": "widget", "size": 7, **extra}, ORGS,
                           M.PRIVATE_AND_PUBLIC, False)
        got = _result(search.search(ds_arrow, cq))
        assert got == _oracle(ddb, cq)
        return got["hits"]

    tiled, cursor_hits, n = [], page({}), 0
    while cursor_hits:
        n += 1
        tiled += cursor_hits
        assert cursor_hits == page({"from": 7 * (n - 1)})
        last = cursor_hits[-1]
        cursor_hits = page({"searchAfter": [last["score"], last["id"]]})
    assert n >= 3
    assert [h["id"] for h in tiled] == [h["id"] for h in page({"size": 500})]


@pytest.mark.parametrize("query", [
    {"query": "zzzunmatched"},                          # nothing passes the query filter
    {"filters": [{"format": ["nosuchformat"]}]},        # facets, but no post-filter hit
    {"query": "widget", "searchAfter": [0.5, "0"]},     # a cursor past the last hit
    {"query": "widget", "from": 5000},                  # an offset past the last hit
    {"query": "widget", "size": 0},
])
def test_arrow_zero_hit_searches_match_oracle(query, ds_arrow, ddb):
    cq = compile_query(query, ORGS, M.PRIVATE_AND_PUBLIC, False)
    got = _result(search.search(ds_arrow, cq))
    assert got["hits"] == []
    assert got == _oracle(ddb, cq)


# -- differential: Arrow vs Spark vs DuckDB on nulls and mixed case ---------

_WORDS = ["Widget", "ECONOMY", "blue", "Cold", "steel", "tin", "Smoke"]


def _mixed_rows(n: int = 60) -> list[dict]:
    import random

    rng = random.Random(7)

    def text(k):
        return " ".join(
            w.upper() if rng.random() < 0.3 else w for w in rng.sample(_WORDS, k)
        )

    rows = []
    for i in range(n):
        rows.append({
            "id": f"d{i:03d}",
            "title": text(2),
            "category": rng.choice(["brand#1", "Brand#2", "brand#3"]),
            "dataSample": "id," + text(3).replace(" ", ","),
            "format": rng.choice(["csv", "JSON", "parquet"]),
            "recordCount": rng.randrange(5) * 100,
            "size": rng.randrange(3) * 1024,
            "sourceUri": "http://www.catalog.com/" + text(2).replace(" ", "/"),
            "targetUri": f"hdfs://nn:8200/w/{i}/000000_1",
            "storeType": None if i % 3 == 0 else "hdfs",
            "isPublic": i % 2 == 0,
            "orgUUID": f"org0{i % 3 + 1}",
            "creationTime": None if i % 5 == 0 else f"2014-{i % 12 + 1:02d}-15T00:00:00",
        })
    return rows


@pytest.fixture(scope="module")
def mixed(spark):
    import duckdb

    from data_catalog_spark.schema import DATASETS_SCHEMA

    df = spark.createDataFrame(_mixed_rows(), DATASETS_SCHEMA)
    table = df.toArrow()
    con = duckdb.connect()
    con.register("datasets", table)
    yield df, search.SearchIndex.build(table), con
    con.close()


def _query_st():
    from hypothesis import strategies as st

    text = st.lists(st.sampled_from(_WORDS + ["widg", "COLD BLUE", "nomatch"]),
                    min_size=1, max_size=2).map(
        lambda ws: " ".join(w.swapcase() if len(w) % 2 else w for w in ws))
    flt = st.one_of(
        st.fixed_dictionaries({"format": st.lists(
            st.sampled_from(["csv", "json", "Parquet"]), min_size=1, max_size=2)}),
        st.fixed_dictionaries({"category": st.lists(
            st.sampled_from(["BRAND#1", "brand#2", "brand#9"]), min_size=1, max_size=2)}),
        st.fixed_dictionaries({"creationTime": st.tuples(
            st.sampled_from([-1, "2014-03-01", "2014-06-15"]),
            st.sampled_from([-1, "2014-09-30", "2014-12-31"])).map(list)}),
        st.fixed_dictionaries({"recordCount": st.lists(
            st.sampled_from([0, 100, 300]), min_size=1, max_size=2)}),
    )
    page = st.one_of(
        st.fixed_dictionaries({"from": st.integers(0, 12), "size": st.integers(0, 15)}),
        st.fixed_dictionaries({"searchAfter": st.tuples(
            st.sampled_from([1.0, 2.0, 3.0, 5.0]),
            st.sampled_from(["d010", "d031", "d050"])).map(list),
            "size": st.integers(1, 10)}),
    )
    query = st.builds(
        lambda t, fs, p: {**({"query": t} if t else {}), "filters": fs, **p},
        st.one_of(st.none(), text), st.lists(flt, max_size=2), page)
    scope = st.sampled_from([
        (["org01"], M.PRIVATE_AND_PUBLIC, False),
        (["org02", "ORG03"], M.ONLY_PRIVATE, False),
        ([], M.ONLY_PUBLIC, False),
        ([], M.PRIVATE_AND_PUBLIC, True),
    ])
    return query, scope


_QUERY_ST, _SCOPE_ST = _query_st()


@settings(max_examples=30, deadline=None)
@given(query=_QUERY_ST, scope=_SCOPE_ST)
def test_arrow_spark_and_oracle_agree(mixed, query, scope):
    """One random compiled query over a fixture with null storeType and
    creationTime and mixed-case text: the Arrow renderer, the Spark plan
    and the DuckDB oracle give the same hits, total and facets."""
    df, table, con = mixed
    cq = compile_query(query, *scope)
    want = _oracle(con, cq, prelude="")
    assert _result(search.search(table, cq)) == want
    assert _result(search.search(df, cq)) == want
    assert search.count(table, cq) == search.count(df, cq)


# -- the index's postings answer the regex clauses at token boundaries ------

# (title, dataSample, sourceUri): digits next to letters (the URI split
# treats them as separators, the standard split does not), non-ASCII
# letters (separators for both), URI stopwords, a token repeated in one
# cell, and empty or null cells.
_BOUNDARY_TEXT = [
    ("abc123def report", "id,abc123def", "http://www.abc123def.com/x1y"),
    ("caféwidget", "caféwidget,straße", "http://shop.example/caféwidget/straße"),
    ("Straße Map", "STRASSE,Widget", "ftp://files.org/widget9widget"),
    ("repeat", "widget,widget,WIDGET", "https://com.www/widget/widget"),
    ("", "", ""),
    (None, None, None),
    ("http www", "www.http.com", None),
    ("plain abc", "def,123", "https://abc.example.com/def"),
    ("e x", "e,x", "http://e.x/"),
]


def _boundary_index():
    import pyarrow as pa

    rows = [
        {"id": f"b{i}", "title": t, "category": f"cat{i % 3}", "dataSample": d,
         "format": ["csv", "json"][i % 2], "recordCount": i, "size": 10 * i,
         "sourceUri": u, "targetUri": f"hdfs://nn:8200/b/{i}/000000_1",
         "storeType": None, "isPublic": i % 2 == 0, "orgUUID": f"org0{i % 2 + 1}",
         "creationTime": "2015-01-01T00:00:00"}
        for i, (t, d, u) in enumerate(_BOUNDARY_TEXT)
    ]
    return pa.Table.from_pylist(rows)


@pytest.mark.parametrize("scope", [
    ([], M.PRIVATE_AND_PUBLIC, True),
    (["org02"], M.PRIVATE_AND_PUBLIC, False),
])
def test_index_matches_regex_at_token_boundaries(scope):
    """The postings path equals the oracle's regex clauses (``sqlgen``,
    DuckDB) on full hit rows with score, total and facets, where token
    boundaries are easy to get wrong."""
    import duckdb

    table = _boundary_index()
    index = search.SearchIndex.build(table)
    con = duckdb.connect()
    con.register("datasets", table)
    texts = ["abc", "def", "abc123def", "123", "x1y", "caféwidget", "café", "caf",
             "widget", "WIDGET widget", "straße", "STRASSE", "stra", "e", "http",
             "www", "com", "http://www.abc123def.com", "repeat", "nomatch", "9"]
    scores = set()
    for text in texts:
        cq = compile_query({"query": text, "size": 20}, *scope)
        want = _oracle(con, cq, prelude="")
        assert _result(search.search(index, cq)) == want, text
        assert search.count(index, cq) == want["total"], text
        scores |= {h["score"] for h in want["hits"]}
    con.close()
    # every clause, alone and in sum, decided some hit
    assert {1.0, 2.0, 3.0} <= scores and len(scores) >= 5


# The code points DuckDB 1.0's ``lower`` leaves as they are while Arrow's
# ``utf8_lower`` and ``analyzers.fold_case`` lower them (ARCHITECTURE "Known
# divergences"): U+2C2F, seven Latin Extended-D capitals and the Vithkuqi
# capitals.
DUCKDB_UNLOWERED = (
    {0x2C2F, 0xA7C0, 0xA7C7, 0xA7C9, 0xA7D0, 0xA7D6, 0xA7D8, 0xA7F5}
    | set(range(0x10570, 0x10596)) - {0x1057B, 0x1058B, 0x10593}
)


def test_duckdb_lower_differs_on_exactly_43_code_points():
    """Every code point but the surrogates through DuckDB's ``lower``,
    Arrow's ``utf8_lower`` and ``analyzers.fold_case``: Arrow and
    ``fold_case`` agree on all of them, and DuckDB differs from both on
    exactly the 43 of ``DUCKDB_UNLOWERED``, each of which it leaves as it
    is.  A DuckDB or Arrow upgrade that moves the set fails here."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from data_catalog_spark import analyzers

    cps = np.array([i for i in range(0x110000) if not 0xD800 <= i <= 0xDFFF])
    chars = [chr(i) for i in cps]
    arrow = pc.utf8_lower(pa.array(chars))
    assert arrow.equals(pa.array([analyzers.fold_case(c) for c in chars]))
    con = duckdb.connect()
    try:
        con.register("code_points", pa.table({"k": cps, "c": chars}))
        duck = con.execute(
            "SELECT lower(c) AS l FROM code_points ORDER BY k"
        ).arrow()["l"]
    finally:
        con.close()
    differs = np.flatnonzero(pc.not_equal(duck, arrow).to_numpy(zero_copy_only=False))
    assert set(cps[differs].tolist()) == DUCKDB_UNLOWERED
    assert len(DUCKDB_UNLOWERED) == 43
    assert all(duck[int(k)].as_py() == chars[k] for k in differs)
