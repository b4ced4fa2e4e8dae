"""Service-layer status-code matrix — mirrors the reference's endpoint tests
(tests/test_metadata_entries.py: 200/201/400/401/403/404 behavior)."""

from __future__ import annotations

import pytest

from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.query import DataSetFiltering as M
from data_catalog_spark.service import DataCatalogService

from test_catalog import ENTRY

ORG = ["org02"]


@pytest.fixture()
def svc(spark, tmp_path):
    calls = []
    s = DataCatalogService(
        DatasetsCatalog(spark, str(tmp_path / "ds")),
        on_notify=lambda entry, msg: calls.append(("notify", msg)),
        delete_from_downloader=lambda uri, token: calls.append(("downloader", uri)) or True,
        delete_from_publisher=lambda eid, token: calls.append(("publisher", eid)) or True,
    )
    s.calls = calls
    return s


def test_put_created_then_updated(svc):
    assert svc.put_entry("e1", ENTRY, ORG, False) == (None, 201)
    assert svc.put_entry("e1", ENTRY, ORG, False) == (None, 200)
    assert ("notify", "Dataset added") in svc.calls


def test_put_forbidden_for_non_owner(svc):
    assert svc.put_entry("e1", ENTRY, ["org99"], False)[1] == 403
    # admin bypasses ownership
    assert svc.put_entry("e1", ENTRY, [], True)[1] == 201


def test_put_invalid_entry_400(svc):
    bad = {**ENTRY, "targetUri": "some_path"}
    body, status = svc.put_entry("e1", bad, ORG, False)
    assert status == 400 and "targetUri" in body["error"]


def test_get_visibility_matrix(svc):
    svc.put_entry("pub", {**ENTRY, "isPublic": True}, ORG, False)
    svc.put_entry("priv", {**ENTRY, "isPublic": False}, ORG, False)
    assert svc.get_entry("pub", ["org99"], False)[1] == 200  # public: anyone
    assert svc.get_entry("priv", ["org99"], False)[1] == 403  # private: owner only
    assert svc.get_entry("priv", ORG, False)[1] == 200
    assert svc.get_entry("priv", [], True)[1] == 200  # admin
    assert svc.get_entry("ghost", ORG, False)[1] == 404


def test_post_partial_update_matrix(svc):
    svc.put_entry("e1", ENTRY, ORG, False)
    assert svc.post_entry("e1", {"title": "new"}, ORG, False)[1] == 200
    assert svc.get_entry("e1", ORG, False)[0]["title"] == "new"
    assert svc.post_entry("e1", {"bogus": 1}, ORG, False)[1] == 400
    assert svc.post_entry("ghost", {"title": "x"}, ORG, False)[1] == 404
    assert svc.post_entry("e1", {"title": "x"}, ["org99"], False)[1] == 403


def test_post_is_public_flip_triggers_hive_cascade(svc):
    svc.put_entry("e1", ENTRY, ORG, False)
    svc.calls.clear()
    svc.post_entry("e1", {"isPublic": False}, ORG, False, token="tok")
    assert ("publisher", "e1") in svc.calls


def test_delete_matrix_and_cascade(svc):
    svc.put_entry("e1", ENTRY, ORG, False)
    assert svc.delete_entry("e1", ORG, False, token="")[1] == 401  # no bearer
    assert svc.delete_entry("e1", ["org99"], False, token="t")[1] == 403
    body, status = svc.delete_entry("e1", ORG, False, token="t")
    assert status == 200
    assert body == {"deleted_from_downloader": True, "deleted_from_publisher": True}
    assert ("downloader", ENTRY["targetUri"]) in svc.calls
    assert svc.delete_entry("e1", ORG, False, token="t")[1] == 404


def test_search_and_count_endpoints(svc):
    svc.put_entry("e1", ENTRY, ORG, False)
    svc.put_entry("e2", {**ENTRY, "format": "json", "isPublic": False}, ORG, False)
    body, status = svc.search({"filters": [{"format": ["csv"]}]}, ORG, M.PRIVATE_AND_PUBLIC, False)
    assert status == 200
    assert body["total"] == 1
    assert body["formats"] == ["csv", "json"]  # facets ignore the post-filter
    assert svc.search("{bad json", ORG)[1] == 400
    assert svc.count(ORG)[0] == {"total": 2}
    assert svc.count(["org99"], M.ONLY_PRIVATE, False)[0] == {"total": 0}


def test_admin_endpoints(svc):
    rows = [
        {"id": "a", **ENTRY},
        {"id": "b", **ENTRY, "targetUri": "bad"},
    ]
    assert svc.admin_bulk_load(rows, is_admin=False)[1] == 403
    body, status = svc.admin_bulk_load(rows, is_admin=True)
    assert status == 200
    assert body == {"created": ["a"], "rejected": ["b"]}
    assert svc.admin_drop_index(is_admin=False)[1] == 403
    assert svc.admin_drop_index(is_admin=True)[1] == 200
    assert svc.count([], M.ONLY_PUBLIC)[0] == {"total": 0}


def test_mixed_case_org_list_consistent_with_search(svc):
    """auth.py:149-169 lowercases+trims the org list; CRUD must apply the
    same normalization so search and point endpoints agree."""
    assert svc.put_entry("e1", {**ENTRY, "isPublic": False}, [" Org02 "], False)[1] == 201
    assert svc.get_entry("e1", ["ORG02"], False)[1] == 200
    assert svc.post_entry("e1", {"format": "json"}, ["Org02"], False)[1] == 200
    assert svc.delete_entry("e1", ["ORG02 "], False, token="tok")[1] == 200


def test_bulk_load_skips_non_dict_rows(svc):
    res, code = svc.admin_bulk_load(
        [{**ENTRY, "id": "ok1"}, ["not", "a", "dict"], "junk"], is_admin=True
    )
    assert code == 200
    assert res["created"] == ["ok1"]
    assert sorted(res["rejected"]) == ["1", "2"]


def test_non_string_query_maps_to_400(svc):
    assert svc.search(5, ORG)[1] == 400
    assert svc.search(["x"], ORG)[1] == 400


def oracle_search(cat, query, orgs, mode, admin) -> dict:
    """The DuckDB answer of ``query.sqlgen`` over the catalog's rows."""
    import duckdb

    from data_catalog_spark.query import compile_query, sqlgen

    cq = compile_query(query, orgs, mode, admin)
    con = duckdb.connect()
    con.register("datasets", cat.df().toPandas())

    def col(sql):
        return [r[0] for r in con.execute(sql).fetchall()]

    return {
        "hits": col(sqlgen.hits_sql(cq)),
        "total": col(sqlgen.total_sql(cq))[0],
        "categories": col(sqlgen.categories_facet_sql(cq)),
        "formats": col(sqlgen.formats_facet_sql(cq)),
    }


ZERO_HIT_QUERIES = [
    {"query": "zzzunmatched"},  # nothing passes the query filter
    {"filters": [{"format": ["nosuchformat"]}]},  # facets, but no post-filter hit
]


@pytest.mark.parametrize("query", ZERO_HIT_QUERIES)
def test_zero_hit_search_is_200_and_matches_oracle(svc, query):
    svc.catalog.bulk_upsert(
        [(f"e{i}", {**ENTRY, "title": f"title {i}", "isPublic": i % 2 == 0})
         for i in range(4)]
    )
    body, status = svc.search(query, ORG)
    assert status == 200
    got = {**body, "hits": [h["id"] for h in body["hits"]]}
    want = oracle_search(svc.catalog, query, ORG, M.PRIVATE_AND_PUBLIC, False)
    assert want["total"] == 0 and want["hits"] == []
    assert got == want


# Titles whose lowercase depends on the case mapping: Java's full mapping
# (Spark ``lower``) gives "i̇stanbul" (i + U+0307) and a final "ς"; a
# per-code-point mapping (Arrow ``utf8_lower``, DuckDB, Lucene's
# LowerCaseFilter) gives "istanbul" and "σ".
CASE_FOLD_TITLES = ["İSTANBUL harbour", "ΟΔΟΣ map", "plain istanbul", "οδοσ notes"]


@pytest.mark.parametrize("text", ["istanbul", "οδοσ", "İSTANBUL", "ΟΔΟΣ"])
def test_case_folding_of_served_search_matches_oracle(svc, text):
    """Served searches (the index) lower each code point of the column and
    of the query text, like the oracle, so an upper-case query finds the
    title it names; the Spark plan over ``df()`` misses the titles that
    Java's full case mapping lowers differently (a known divergence, see
    ARCHITECTURE "Known divergences")."""
    from data_catalog_spark import search
    from data_catalog_spark.query import compile_query

    svc.catalog.bulk_upsert(
        [(f"t{i}", {**ENTRY, "title": t}) for i, t in enumerate(CASE_FOLD_TITLES)]
    )
    query = {"query": text}
    body, status = svc.search(query, ORG)
    assert status == 200
    got = {**body, "hits": [h["id"] for h in body["hits"]]}
    want = oracle_search(svc.catalog, query, ORG, M.PRIVATE_AND_PUBLIC, False)
    assert len(want["hits"]) == 2
    assert got == want
    spark_hits = search.search(
        svc.catalog.df(), compile_query(query, ORG, M.PRIVATE_AND_PUBLIC, False)
    ).hits
    assert len(spark_hits) == 1
