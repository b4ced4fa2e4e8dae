"""Stdlib HTTP transport for the service layer — the last deployment edge
of the reference (``app.py:141-148`` wires Flask + flask_restful; this
module wires ``http.server``) so a reference user can point their REST
client at this engine unchanged.

Route map (reference ``_create_app``):

    GET    /api-docs                      → endpoint doc (auth-exempt)
    GET    {base}                         → faceted search
    GET    {base}/count                   → dataset count (plain number)
    GET    {base}/<id>                    → entry | 403 | 404
    PUT    {base}/<id>                    → upsert (201 created / 200)
    POST   {base}/<id>                    → partial update
    DELETE {base}/<id>                    → cascading delete
    PUT    {base}/admin/elastic           → admin bulk load
    DELETE {base}/admin/elastic           → admin drop

Per-request auth mirrors ``Security.authenticate`` (auth.py:42-70): bearer
token from the Authorization header, signature verification via
``jwt_verify.decode`` (HS*/RS* fully stdlib), admin from the
``console.admin`` scope, org scope via ``auth.resolve_request_scope`` —
including the GET-strips/body-doesn't org-parsing asymmetry.  The
membership lookup (the reference's cloud-controller HTTP fetch,
auth.py:172-180) stays an injectable hook.  Errors render the reference's
``ExceptionHandlingApi`` shape: ``{"message", "status", "timestamp"}``
(app.py:38-63).

``DataCatalogApp.handle`` is transport-agnostic (method, path, query,
headers, body) → (status, payload); ``make_server`` is the thin
``ThreadingHTTPServer`` adapter.  The Spark driver hosts the server;
queries stay fully distributed — HTTP is only the front door.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from . import auth as auth_mod
from . import jwt_verify
from .auth import ForbiddenError, UnauthorizedError
from .query import DataSetFiltering
from .service import DataCatalogService

def _swagger_doc() -> dict:
    """Full Swagger 2.0 contract for the served API, GENERATED from the
    schema module's field inventory — the same document surface the
    reference ships as a static 471-line api_doc.json (api_doc.py:38-42),
    authored here from our own route table so the doc can never drift
    from the validator.  Two deliberate truthfulness divergences: GET
    /{entry_id} is documented as returning the entry object (which this
    server actually returns — the reference doc's ES QueryHit wrapper
    describes its backing store's shape, not its handler's), and the
    admin bulk-load endpoint is documented because it is served."""
    from . import schema as schema_mod

    def prop(field: str) -> dict:
        if field in schema_mod._LONG_FIELDS:
            return {"type": "integer"}
        if field == schema_mod.IS_PUBLIC_FIELD:
            return {"type": "boolean"}
        if field == schema_mod.CREATION_TIME_FIELD:
            return {"type": "string", "format": "date-time"}
        return {"type": "string"}

    entry_props = {f: prop(f) for f in sorted(schema_mod.FILTERABLE_FIELDS)}
    entry = {
        "required": sorted(schema_mod.REQUIRED_FIELDS),
        "properties": entry_props,
    }
    entry_with_id = {
        "required": sorted(schema_mod.REQUIRED_FIELDS | {"id"}),
        "properties": {**entry_props, "id": {"type": "string"}},
    }
    search_params = [
        {
            "name": "query",
            "in": "query",
            "required": False,
            "type": "string",
            "description": "A query JSON object.",
        },
        {
            "name": "orgs",
            "in": "query",
            "required": False,
            "type": "array",
            "items": {"type": "string"},
            "description": "A list of org UUIDs.",
        },
        {
            "name": "onlyPublic",
            "in": "query",
            "required": False,
            "type": "boolean",
            "description": "Return only public data sets.",
        },
        {
            "name": "onlyPrivate",
            "in": "query",
            "required": False,
            "type": "boolean",
            "description": "Return only private data sets.",
        },
    ]
    id_param = {
        "name": "entry_id",
        "in": "path",
        "required": True,
        "type": "string",
        "description": "Data set identifier.",
    }
    err = {
        "400": {"description": "Invalid or malformed request."},
        "401": {"description": "Missing or invalid token."},
        "403": {"description": "Access forbidden for this org scope."},
        "404": {"description": "No data set with this id."},
        "409": {"description": "Lost a concurrent write; retry."},
        "500": {"description": "Internal error."},
    }
    return {
        "swagger": "2.0",
        "produces": ["application/json"],
        "basePath": "/",
        "info": {
            "version": "1.0",
            "title": "Data Catalog API",
            "description": (
                "Search, retrieval and storage of metadata describing "
                "data sets."
            ),
        },
        "paths": {
            "/rest/datasets": {
                "get": {
                    "tags": ["search"],
                    "parameters": search_params,
                    "responses": {
                        "200": {
                            "description": "Search hits with facets.",
                            "schema": {"$ref": "#/definitions/SearchHits"},
                        },
                        **{k: err[k] for k in ("400", "401", "500")},
                    },
                }
            },
            "/rest/datasets/count": {
                "get": {
                    "tags": ["search"],
                    "parameters": search_params,
                    "responses": {
                        "200": {
                            "description": "Number of visible data sets.",
                            "schema": {"type": "integer"},
                        },
                        **{k: err[k] for k in ("400", "401", "500")},
                    },
                }
            },
            "/rest/datasets/{entry_id}": {
                "get": {
                    "tags": ["entries"],
                    "parameters": [id_param],
                    "responses": {
                        "200": {
                            "description": "The data set entry.",
                            "schema": {
                                "$ref": "#/definitions/InputMetadataEntryWithID"
                            },
                        },
                        **{k: err[k] for k in ("401", "403", "404", "500")},
                    },
                },
                "put": {
                    "tags": ["entries"],
                    "parameters": [
                        id_param,
                        {
                            "name": "body",
                            "in": "body",
                            "required": True,
                            "schema": {
                                "$ref": "#/definitions/InputMetadataEntry"
                            },
                        },
                    ],
                    "responses": {
                        "200": {"description": "Entry updated."},
                        "201": {"description": "Entry created."},
                        **{k: err[k] for k in ("400", "401", "403", "409", "500")},
                    },
                },
                "post": {
                    "tags": ["entries"],
                    "parameters": [
                        id_param,
                        {
                            "name": "body",
                            "in": "body",
                            "required": True,
                            "description": "Partial entry: fields to update.",
                            "schema": {"type": "object"},
                        },
                    ],
                    "responses": {
                        "200": {"description": "Entry partially updated."},
                        **{k: err[k] for k in ("400", "401", "403", "404", "409", "500")},
                    },
                },
                "delete": {
                    "tags": ["entries"],
                    "parameters": [id_param],
                    "responses": {
                        "200": {
                            "description": "Entry deleted (with cascade report).",
                            "schema": {"$ref": "#/definitions/DeleteResponse"},
                        },
                        **{k: err[k] for k in ("401", "403", "404", "409", "500")},
                    },
                },
            },
            "/rest/datasets/admin/elastic": {
                "put": {
                    "tags": ["admin"],
                    "parameters": [
                        {
                            "name": "body",
                            "in": "body",
                            "required": True,
                            "description": "Bulk load: array of entries.",
                            "schema": {
                                "type": "array",
                                "items": {
                                    "$ref": "#/definitions/InputMetadataEntryWithID"
                                },
                            },
                        }
                    ],
                    "responses": {
                        "200": {"description": "Bulk load report."},
                        **{k: err[k] for k in ("400", "401", "403", "500")},
                    },
                },
                "delete": {
                    "responses": {
                        "200": {"description": "Index dropped."},
                        **{k: err[k] for k in ("401", "403", "500")},
                    },
                    "tags": ["admin"],
                },
            },
        },
        "definitions": {
            "SearchHits": {
                "required": ["categories", "formats", "hits", "total"],
                "properties": {
                    "hits": {
                        "type": "array",
                        "items": {
                            "$ref": "#/definitions/InputMetadataEntryWithID"
                        },
                    },
                    "total": {"type": "integer"},
                    "categories": {
                        "type": "array",
                        "items": {"type": "string"},
                    },
                    "formats": {"type": "array", "items": {"type": "string"}},
                },
            },
            "InputMetadataEntry": entry,
            "InputMetadataEntryWithID": entry_with_id,
            "DeleteResponse": {
                "required": ["deleted_from_downloader", "deleted_from_publisher"],
                "properties": {
                    "deleted_from_downloader": {"type": "boolean"},
                    "deleted_from_publisher": {"type": "boolean"},
                },
            },
        },
    }


API_DOC = _swagger_doc()


def _error(status: int, message: str) -> tuple[int, dict]:
    return status, {
        "message": message,
        "status": status,
        "timestamp": int(time.time() * 1000),
    }


def token_verifier_from_uaa(
    uaa_token_uri: str, audience: str | None = "cloud_controller", timeout: float = 10.0
) -> "TokenVerifier":
    """The reference's key bootstrap (auth.py:90-94): GET the UAA
    token-key endpoint, parse ``{"value": <key>, "alg": <name>}`` through
    the same algorithm-name normalization, return a ready verifier.
    stdlib urllib — the one outbound HTTP call auth needs."""
    import urllib.request

    with urllib.request.urlopen(uaa_token_uri, timeout=timeout) as resp:
        answer = json.loads(resp.read())
    return TokenVerifier(answer["value"], answer["alg"], audience=audience)


class TokenVerifier:
    """``Security``'s verification half over ``jwt_verify``: one key +
    algorithm (the parsed UAA answer, auth.py:90-94 / 100-122)."""

    def __init__(self, key, algorithm: str = "RS256", audience: str | None = "cloud_controller"):
        self.key = key
        self.algorithm = auth_mod.normalize_sign_algorithm(algorithm)
        self.audience = audience

    def __call__(self, token: str) -> dict:
        return jwt_verify.decode(
            token, self.key, [self.algorithm], audience=self.audience
        )


class DataCatalogApp:
    def __init__(
        self,
        service: DataCatalogService,
        verify_token: Callable[[str], dict],
        get_user_orgs: Callable[[dict, str], list[str]] | None = None,
        base_path: str = "/rest/datasets",
        auth_exceptions: tuple[str, ...] = ("/api-docs",),
    ):
        self.service = service
        self.verify_token = verify_token
        # membership fetch hook (reference: cloud-controller HTTP,
        # auth.py:172-180); default reads a claims field so self-contained
        # deployments work out of the box
        self.get_user_orgs = get_user_orgs or (
            lambda claims, token: list(claims.get("user_orgs", []))
        )
        self.base_path = base_path.rstrip("/")
        self.auth_exceptions = auth_exceptions

    # -- auth (Security.authenticate, auth.py:42-70) -----------------------

    def _resolve_auth(
        self, method: str, query: dict, headers: dict, body_json
    ) -> tuple[list[str], bool, str]:
        # HTTP header names are case-insensitive; plain-dict callers (and
        # proxies that normalize to lowercase) must still authenticate
        auth_header = next(
            (v for k, v in headers.items() if k.lower() == "authorization"),
            None,
        )
        if auth_header is None:
            raise UnauthorizedError("Authorization header not found.")
        try:
            token = auth_header.split()[1]
        except IndexError as ex:
            raise UnauthorizedError("malformed Authorization header") from ex
        try:
            claims = self.verify_token(token)
        except jwt_verify.InvalidTokenError as ex:
            raise UnauthorizedError(str(ex)) from ex
        user_orgs = self.get_user_orgs(claims, token)
        body_org = (
            body_json.get("orgUUID") if isinstance(body_json, dict) else None
        )
        if not isinstance(body_org, str):
            # a non-string orgUUID can't request any org scope (the
            # entry-body validation will 400 it later; auth must not crash)
            body_org = None
        org_list, admin = auth_mod.resolve_request_scope(
            claims,
            user_orgs,
            method,
            query_orgs=query.get("orgs"),
            body_org_uuid=body_org,
        )
        return org_list, admin, auth_header

    # -- request dispatch ---------------------------------------------------

    def handle(
        self, method: str, path: str, query: dict, headers: dict, body: bytes
    ) -> tuple[int, object]:
        path = path.rstrip("/") or "/"
        # Both the doc ROUTE and the auth EXEMPTION match on the EXACT
        # path.  The reference (Security.authenticate, auth.py:52) uses a
        # substring containment test, which quietly auth-exempts any entry
        # id containing 'api-docs' (GET /rest/datasets/api-docs-x reads a
        # public entry with no token at all) — a deliberate divergence:
        # exemptions here are full paths only.
        if path in self.auth_exceptions:
            if method == "GET":
                return 200, API_DOC
            return _error(405, "method not allowed")

        body_json = None
        if body:
            try:
                body_json = json.loads(body)
            except ValueError:
                return _error(400, "request body is not valid JSON")

        try:
            org_list, admin, raw_auth = self._resolve_auth(
                method, query, headers, body_json
            )
        except UnauthorizedError as ex:
            return _error(401, str(ex))
        except ForbiddenError as ex:
            return _error(403, str(ex))

        try:
            return self._route(
                method, path, query, body_json, org_list, admin, raw_auth
            )
        except (UnauthorizedError,) as ex:
            return _error(401, str(ex))
        except Exception as ex:  # ExceptionHandlingApi.handle_error shape
            return _error(getattr(ex, "code", 500), str(ex))

    def _route(
        self, method, path, query, body_json, org_list, admin, raw_auth
    ) -> tuple[int, object]:
        base = self.base_path
        filtering = self._filtering(query)
        if path == base:
            if method != "GET":
                return _error(405, "method not allowed")
            result, status = self.service.search(
                query.get("query"), org_list, filtering, admin
            )
            return self._respond(result, status)
        if path == f"{base}/count":
            if method != "GET":
                return _error(405, "method not allowed")
            result, status = self.service.count(org_list, filtering, admin)
            # the reference's count resource returns the bare number
            # (dataset_count.py:43-48)
            return self._respond(
                result["total"] if status == 200 else result, status
            )
        if path == f"{base}/admin/elastic":
            if method == "PUT":
                if not isinstance(body_json, list):
                    # a malformed bulk body must not report 200-loaded-nothing
                    return _error(400, "bulk load body must be a JSON array")
                result, status = self.service.admin_bulk_load(body_json, admin)
                return self._respond(result, status)
            if method == "DELETE":
                result, status = self.service.admin_drop_index(admin)
                return self._respond(result, status)
            return _error(405, "method not allowed")
        if path.startswith(f"{base}/"):
            entry_id = path[len(base) + 1 :]
            if "/" in entry_id or not entry_id:
                return _error(404, f"no route for {path}")
            if method == "GET":
                result, status = self.service.get_entry(entry_id, org_list, admin)
            elif method == "PUT":
                if not isinstance(body_json, dict):
                    return _error(400, "entry body must be a JSON object")
                result, status = self.service.put_entry(
                    entry_id, body_json, org_list, admin
                )
            elif method == "POST":
                if not isinstance(body_json, dict):
                    return _error(400, "patch body must be a JSON object")
                result, status = self.service.post_entry(
                    entry_id, body_json, org_list, admin, token=raw_auth
                )
            elif method == "DELETE":
                result, status = self.service.delete_entry(
                    entry_id, org_list, admin, token=raw_auth
                )
            else:
                return _error(405, "method not allowed")
            return self._respond(result, status)
        return _error(404, f"no route for {path}")

    @staticmethod
    def _filtering(query: dict) -> str:
        """search.py:138-147: onlyPublic/onlyPrivate args select the mode."""
        if str(query.get("onlyPublic", "")).lower() == "true":
            return DataSetFiltering.ONLY_PUBLIC
        if str(query.get("onlyPrivate", "")).lower() == "true":
            return DataSetFiltering.ONLY_PRIVATE
        return DataSetFiltering.PRIVATE_AND_PUBLIC

    @staticmethod
    def _respond(result, status: int) -> tuple[int, object]:
        if status >= 400:
            message = (
                result.get("error", "request failed")
                if isinstance(result, dict)
                else {401: "Unauthorized", 403: "Forbidden", 404: "Not Found"}.get(
                    status, "request failed"
                )
            )
            return _error(status, message)
        return status, result


def make_server(app: DataCatalogApp, host: str = "127.0.0.1", port: int = 0):
    """ThreadingHTTPServer adapter; ``server.server_address[1]`` is the
    bound port (pass port=0 for an ephemeral one)."""
    import http.server
    import urllib.parse

    class Handler(http.server.BaseHTTPRequestHandler):
        def _dispatch(self, method: str) -> None:
            try:
                parsed = urllib.parse.urlsplit(self.path)
                query = dict(urllib.parse.parse_qsl(parsed.query))
                length = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(length) if length else b""
                status, payload = app.handle(
                    method,
                    urllib.parse.unquote(parsed.path),
                    query,
                    dict(self.headers),
                    body,
                )
                data = json.dumps(payload).encode("utf-8")
            except Exception as ex:  # last resort: never drop the socket
                status, data = 500, json.dumps(
                    {
                        "message": str(ex),
                        "status": 500,
                        "timestamp": int(time.time() * 1000),
                    }
                ).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            self._dispatch("GET")

        def do_PUT(self):
            self._dispatch("PUT")

        def do_POST(self):
            self._dispatch("POST")

        def do_DELETE(self):
            self._dispatch("DELETE")

        def log_message(self, fmt, *args):  # keep pytest output clean
            pass

    return http.server.ThreadingHTTPServer((host, port), Handler)
