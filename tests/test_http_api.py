"""End-to-end HTTP transport: a real ThreadingHTTPServer on an ephemeral
port, real JWT bearer tokens (HS256), the full reference route map and
status-code matrix over a live Spark-backed catalog."""

from __future__ import annotations

import base64
import contextlib
import hashlib
import hmac
import http.client
import json
import threading

import pytest

from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.http_api import DataCatalogApp, TokenVerifier, make_server
from data_catalog_spark.service import DataCatalogService

SECRET = "unit-test-secret"


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _token(scope, user_orgs):
    claims = {"scope": scope, "aud": "cloud_controller", "user_orgs": user_orgs}
    h = _b64url(json.dumps({"alg": "HS256"}).encode())
    p = _b64url(json.dumps(claims).encode())
    sig = hmac.new(SECRET.encode(), f"{h}.{p}".encode(), hashlib.sha256).digest()
    return f"{h}.{p}.{_b64url(sig)}"


ADMIN = _token(["console.admin"], [])
USER = _token(["openid"], ["org02"])

ENTRY = {
    "orgUUID": "org02",
    "category": "health",
    "dataSample": "a,b\n1,2",
    "format": "csv",
    "recordCount": 2,
    "size": 10,
    "sourceUri": "http://example.com/data.csv",
    "targetUri": "hdfs://host:8200/broker/x/abc/000000_1",
    "title": "widget metrics",
    "isPublic": False,
    "creationTime": "2015-02-13T13:00:00",
}


@contextlib.contextmanager
def _serving(cat):
    app = DataCatalogApp(
        DataCatalogService(cat), TokenVerifier(SECRET, "HS256")
    )
    srv = make_server(app)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv.server_address
    finally:
        srv.shutdown()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    cat = DatasetsCatalog(spark, str(tmp_path_factory.mktemp("http") / "tbl"))
    with _serving(cat) as addr:
        yield addr


def _req(addr, method, path, token=None, body=None):
    conn = http.client.HTTPConnection(*addr, timeout=120)
    headers = {}
    if token:
        headers["Authorization"] = f"bearer {token}"
    payload = json.dumps(body) if body is not None else None
    conn.request(method, path, body=payload, headers=headers)
    resp = conn.getresponse()
    data = resp.read()
    conn.close()
    return resp.status, (json.loads(data) if data else None)


def test_api_docs_is_auth_exempt(server):
    status, doc = _req(server, "GET", "/api-docs")
    assert status == 200
    assert "/rest/datasets" in doc["paths"]


def test_missing_and_invalid_tokens_are_401(server):
    assert _req(server, "GET", "/rest/datasets")[0] == 401
    assert _req(server, "GET", "/rest/datasets", token="garbage")[0] == 401
    tampered = ADMIN[:-4] + "AAAA"
    assert _req(server, "GET", "/rest/datasets", token=tampered)[0] == 401


def test_full_crud_and_search_flow(server):
    # admin bulk load (PUT /admin/elastic)
    status, body = _req(
        server,
        "PUT",
        "/rest/datasets/admin/elastic",
        token=ADMIN,
        body=[{**ENTRY, "id": "b1", "isPublic": True, "title": "public widget"}],
    )
    assert status == 200 and body["created"] == ["b1"]
    # non-admin bulk load → 403
    assert (
        _req(server, "PUT", "/rest/datasets/admin/elastic", token=USER, body=[])[0]
        == 403
    )

    # user PUT into an org they own → 201
    status, _ = _req(server, "PUT", "/rest/datasets/e1", token=USER, body=ENTRY)
    assert status == 201
    # replacing it → 200
    status, _ = _req(
        server, "PUT", "/rest/datasets/e1", token=USER, body={**ENTRY, "size": 11}
    )
    assert status == 200
    # PUT into a foreign org → 403
    status, err = _req(
        server,
        "PUT",
        "/rest/datasets/e2",
        token=USER,
        body={**ENTRY, "orgUUID": "org-other"},
    )
    assert status == 403 and err["status"] == 403 and "timestamp" in err

    # GET own private entry → 200; unknown id → 404
    status, entry = _req(server, "GET", "/rest/datasets/e1", token=USER)
    assert status == 200 and entry["size"] == 11 and entry["id"] == "e1"
    assert _req(server, "GET", "/rest/datasets/nope", token=USER)[0] == 404

    # search: user sees their own private + the public one
    status, result = _req(server, "GET", "/rest/datasets", token=USER)
    assert status == 200
    ids = {h["id"] for h in result["hits"]}
    assert ids == {"b1", "e1"}
    assert result["total"] == 2 and "categories" in result and "formats" in result

    # text query via the JSON query param
    q = json.dumps({"query": "widget", "size": 10})
    status, result = _req(
        server, "GET", f"/rest/datasets?query={q.replace(' ', '')}", token=USER
    )
    assert status == 200 and result["total"] == 2

    # onlyPublic filtering
    status, result = _req(
        server, "GET", "/rest/datasets?onlyPublic=true", token=USER
    )
    assert status == 200 and {h["id"] for h in result["hits"]} == {"b1"}

    # count returns the bare number (reference dataset_count.py:43-48)
    status, n = _req(server, "GET", "/rest/datasets/count", token=USER)
    assert status == 200 and n == 2

    # partial update flips visibility
    status, _ = _req(
        server, "POST", "/rest/datasets/e1", token=USER, body={"isPublic": True}
    )
    assert status == 200
    status, n = _req(server, "GET", "/rest/datasets/count?onlyPublic=true", token=USER)
    assert status == 200 and n == 2
    # unknown patch key → 400
    status, err = _req(
        server, "POST", "/rest/datasets/e1", token=USER, body={"bogus": 1}
    )
    assert status == 400

    # delete own entry → 200 with the cascade matrix
    status, body = _req(server, "DELETE", "/rest/datasets/e1", token=USER)
    assert status == 200
    assert body == {
        "deleted_from_downloader": True,
        "deleted_from_publisher": True,
    }
    assert _req(server, "GET", "/rest/datasets/e1", token=USER)[0] == 404

    # foreign private entry is invisible to GET → 403
    status, _ = _req(
        server,
        "PUT",
        "/rest/datasets/priv9",
        token=ADMIN,
        body={**ENTRY, "orgUUID": "org-secret"},
    )
    assert status == 201
    assert _req(server, "GET", "/rest/datasets/priv9", token=USER)[0] == 403

    # requesting a foreign org scope → 403 from auth resolution
    status, err = _req(
        server, "GET", "/rest/datasets?orgs=org-secret", token=USER
    )
    assert status == 403

    # admin drop
    assert _req(server, "DELETE", "/rest/datasets/admin/elastic", token=ADMIN)[0] == 200
    status, n = _req(server, "GET", "/rest/datasets/count", token=ADMIN)
    assert status == 200 and n == 0


def test_token_verifier_from_uaa_bootstrap():
    """The UAA key-fetch bootstrap: serve a token-key answer from a local
    http.server (Java-style algorithm name included) and verify a token
    end-to-end through the fetched verifier."""
    import http.server

    from data_catalog_spark.http_api import token_verifier_from_uaa

    answer = json.dumps({"value": SECRET, "alg": "SHA256WITHHMAC"}).encode()

    class KeyHandler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(answer)))
            self.end_headers()
            self.wfile.write(answer)

        def log_message(self, fmt, *args):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), KeyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        verifier = token_verifier_from_uaa(
            f"http://127.0.0.1:{srv.server_address[1]}/token_key"
        )
        assert verifier.algorithm == "HS256"
        claims = verifier(ADMIN)
        assert "console.admin" in claims["scope"]
    finally:
        srv.shutdown()


def test_invalid_json_body_is_400(server):
    conn = http.client.HTTPConnection(*server, timeout=30)
    conn.request(
        "PUT",
        "/rest/datasets/x",
        body="{not json",
        headers={"Authorization": f"bearer {ADMIN}"},
    )
    resp = conn.getresponse()
    assert resp.status == 400
    resp.read()
    conn.close()


def test_router_never_throws_fuzz(server):
    """Robustness: arbitrary method/path/query/body combinations always
    produce a well-formed JSON response with a known status — the handler
    must never leak a traceback or hang (the ExceptionHandlingApi
    contract)."""
    import random

    rng = random.Random(0xF00D)
    methods = ["GET", "PUT", "POST", "DELETE"]
    paths = [
        "/", "/rest", "/rest/datasets", "/rest/datasets/", "/rest/datasets//x",
        "/rest/datasets/%2e%2e/escape", "/rest/datasets/count",
        "/rest/datasets/admin/elastic", "/api-docs", "/nope",
        "/rest/datasets/has%20space", "/rest/datasets/%C3%A9%C3%A9",
    ]
    bodies = [None, {}, [], {"orgUUID": 5}, {"filters": "x"}, "plain", 42]
    for _ in range(60):
        method = rng.choice(methods)
        path = rng.choice(paths)
        q = rng.choice(["", "?query=%7Bbad", "?orgs=a,b", "?onlyPublic=true&onlyPrivate=true"])
        tok = rng.choice([None, USER, ADMIN, "garbage"])
        body = rng.choice(bodies)
        conn = http.client.HTTPConnection(*server, timeout=120)
        headers = {"Authorization": f"bearer {tok}"} if tok else {}
        conn.request(method, path + q, body=json.dumps(body) if body is not None else None, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        conn.close()
        assert resp.status in (200, 201, 400, 401, 403, 404, 405, 500), (
            method, path, q, resp.status)
        json.loads(data) if data else None  # always valid JSON


def test_review_fixes_round5(server):
    """Regression pins for the round-5 review findings."""
    # 1. lowercase authorization header authenticates (case-insensitive)
    conn = http.client.HTTPConnection(*server, timeout=120)
    conn.putrequest("GET", "/rest/datasets/count")
    conn.putheader("authorization", f"bearer {ADMIN}")
    conn.endheaders()
    resp = conn.getresponse()
    body = resp.read()
    conn.close()
    assert resp.status == 200, body
    # 2. an entry id containing 'api-docs' is neither hijacked by the doc
    #    route NOR auth-exempt: the reference's substring containment test
    #    (auth.py:52) would read such an entry with no token at all — here
    #    exemptions match the exact path, so the anonymous read is a 401
    status, payload = _req(server, "GET", "/rest/datasets/api-docs-v2")
    assert status == 401  # auth required: not an exempted path
    assert "swagger" not in (payload or {})  # resource answer, not the doc
    # authenticated, it routes to the resource (404), not the static doc
    status, payload = _req(server, "GET", "/rest/datasets/api-docs-v2", token=ADMIN)
    assert status == 404
    assert "swagger" not in (payload or {})  # resource answer, not the doc
    # 3. malformed bulk body is a 400, never 200-loaded-nothing
    status, err = _req(
        server, "PUT", "/rest/datasets/admin/elastic", token=ADMIN,
        body={"entries": []},
    )
    assert status == 400 and err["status"] == 400


def test_api_doc_is_full_swagger_contract(server):
    """The doc route serves a complete Swagger 2.0 document (reference
    api_doc.py:38-42 serves its static 471-line spec): every served path
    + verb is documented, the entry definitions mirror the validator's
    field inventory, and the document is generated so it cannot drift."""
    from data_catalog_spark import schema as schema_mod

    status, doc = _req(server, "GET", "/api-docs")
    assert status == 200
    assert doc["swagger"] == "2.0"
    paths = doc["paths"]
    assert set(paths) == {
        "/rest/datasets",
        "/rest/datasets/count",
        "/rest/datasets/{entry_id}",
        "/rest/datasets/admin/elastic",
    }
    assert set(paths["/rest/datasets/{entry_id}"]) == {"get", "put", "post", "delete"}
    assert set(paths["/rest/datasets/admin/elastic"]) == {"put", "delete"}
    entry = doc["definitions"]["InputMetadataEntry"]
    assert set(entry["required"]) == set(schema_mod.REQUIRED_FIELDS)
    assert set(entry["properties"]) == set(schema_mod.FILTERABLE_FIELDS)
    assert entry["properties"]["recordCount"] == {"type": "integer"}
    assert entry["properties"]["isPublic"] == {"type": "boolean"}
    assert entry["properties"]["creationTime"]["format"] == "date-time"
    with_id = doc["definitions"]["InputMetadataEntryWithID"]
    assert "id" in with_id["properties"] and "id" in with_id["required"]
    # search params documented on both query endpoints
    for p in ("/rest/datasets", "/rest/datasets/count"):
        names = {prm["name"] for prm in paths[p]["get"]["parameters"]}
        assert names == {"query", "orgs", "onlyPublic", "onlyPrivate"}


def test_zero_hit_search_over_http_matches_oracle(spark, tmp_path):
    """A search that matches nothing is HTTP 200 with the oracle's answer
    (total 0), not a 500."""
    from urllib.parse import quote

    from data_catalog_spark.query import DataSetFiltering
    from test_service import ZERO_HIT_QUERIES, oracle_search

    cat = DatasetsCatalog(spark, str(tmp_path / "zero"))
    cat.bulk_upsert(
        [(f"z{i}", {**ENTRY, "title": f"widget {i}", "isPublic": i % 2 == 0})
         for i in range(4)]
    )
    with _serving(cat) as addr:
        for query in ZERO_HIT_QUERIES:
            status, result = _req(
                addr, "GET", f"/rest/datasets?query={quote(json.dumps(query))}",
                token=ADMIN,
            )
            assert status == 200, result
            want = oracle_search(
                cat, query, [], DataSetFiltering.PRIVATE_AND_PUBLIC, True
            )
            assert want["total"] == 0
            assert {**result, "hits": [h["id"] for h in result["hits"]]} == want


def test_two_threads_put_to_one_table(spark, tmp_path):
    """Concurrent writers race on the optimistic commit; the loser retries
    on the new base, so every PUT gets its 201 and every row lands."""
    cat = DatasetsCatalog(spark, str(tmp_path / "race"))
    cat.create_if_not_exists()
    statuses = []
    with _serving(cat) as addr:

        def writer(w: int) -> None:
            for k in range(3):
                statuses.append(_req(
                    addr, "PUT", f"/rest/datasets/w{w}-{k}", token=ADMIN,
                    body={**ENTRY, "title": f"writer {w} {k}"},
                )[0])

        threads = [threading.Thread(target=writer, args=(w,)) for w in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        status, n = _req(addr, "GET", "/rest/datasets/count", token=ADMIN)
    assert statuses == [201] * 6
    assert status == 200 and n == 6


def test_lost_commit_race_renders_409(spark, tmp_path):
    from data_catalog_spark.errors import CommitConflictError

    cat = DatasetsCatalog(spark, str(tmp_path / "conflict"))

    def lose(entry_id, entry):
        raise CommitConflictError("table advanced during commit")

    cat.upsert = lose
    with _serving(cat) as addr:
        status, err = _req(addr, "PUT", "/rest/datasets/x", token=ADMIN, body=ENTRY)
    assert status == 409 and err["status"] == 409
