"""The service layer: the reference's REST endpoint semantics over the
engine — status codes, auth/visibility checks, notification + cascade hooks.

Mirrors data_catalog/metadata_entry.py, dataset_count.py, elastic_admin.py,
search.py route behavior, minus HTTP itself — ``http_api.py`` is the
stdlib transport that maps these methods 1:1 onto the reference's routes
(with real JWT verification via ``jwt_verify.py``).  Auth inputs
(org_uuid_list, is_admin, filtering mode) arrive pre-resolved, exactly
what the reference's auth.py:131-147 produces.

Status-code matrix preserved:
- GET    /<id>     → 200 body | 403 (not admin, not owner, not public) | 404
- PUT    /<id>     → 201 created | 200 updated | 400 invalid | 403 not-owner
- POST   /<id>     → 200 | 400 unknown keys | 404 missing | 403 not-owner
- DELETE /<id>     → 200 {deleted_from_*} | 401 no token | 403 | 404
- GET  /datasets   → 200 SearchResult | 400 InvalidQueryError
- GET  /count      → 200 total
- PUT/DELETE /admin/elastic → bulk load / drop (admin only → 403)

External side effects are injectable hooks (the reference's NATS notifier
and Downloader/Publisher HTTP cascades, notifier.py:45-63 and
dataset_delete.py:31-103): ``on_notify(entry, message)``,
``delete_from_downloader(target_uri, token)``, ``delete_from_publisher
(entry_id, token)`` — defaults are no-ops returning success.
"""

from __future__ import annotations

from collections.abc import Callable

from .catalog import DatasetsCatalog
from .errors import EntryNotFoundError, InvalidEntryError, InvalidQueryError
from .query import DataSetFiltering, compile_query
from .schema import validate_entry
from . import search as search_mod


def _norm_orgs(org_uuid_list: list[str]) -> list[str]:
    """The reference's auth layer lowercases+trims the resolved org list
    before any resource sees it (auth.py:149-169); the compiler does the
    same for search — normalizing here keeps CRUD and search authorization
    consistent for mixed-case callers."""
    return [o.strip().lower() for o in org_uuid_list]


class DataCatalogService:
    def __init__(
        self,
        catalog: DatasetsCatalog,
        on_notify: Callable[[dict, str], None] | None = None,
        delete_from_downloader: Callable[[str, str], bool] | None = None,
        delete_from_publisher: Callable[[str, str], bool] | None = None,
    ):
        self.catalog = catalog
        self._notify = on_notify or (lambda entry, message: None)
        self._del_downloader = delete_from_downloader or (lambda uri, token: True)
        self._del_publisher = delete_from_publisher or (lambda eid, token: True)

    def _served(self):
        """What searches and counts query: the catalog's Arrow snapshot of
        its latest version, or ``df()`` when it has none."""
        snap = self.catalog.snapshot()
        return self.catalog.df() if snap is None else snap

    # -- GET /rest/datasets/<id> ------------------------------------------

    def get_entry(self, entry_id: str, org_uuid_list: list[str], is_admin: bool):
        """Point read with visibility check (metadata_entry.py:127-147):
        non-admin needs ownership or isPublic; the access check reads the
        entry first, so a missing id surfaces as 404 either way."""
        try:
            entry = self.catalog.get(entry_id)
        except EntryNotFoundError:
            return None, 404
        if (
            not is_admin
            and entry["orgUUID"] not in _norm_orgs(org_uuid_list)
            and not entry["isPublic"]
        ):
            return None, 403
        return entry, 200

    # -- PUT /rest/datasets/<id> ------------------------------------------

    def put_entry(self, entry_id: str, entry: dict, org_uuid_list: list[str], is_admin: bool):
        """Upsert with write authorization (metadata_entry.py:149-181):
        non-admin must own the INCOMING body's orgUUID — deliberately not
        the stored entry's, mirroring the reference exactly
        (metadata_entry.py:154-157); 201 on create, 200 on replace."""
        if not is_admin and entry.get("orgUUID") not in _norm_orgs(org_uuid_list):
            self._notify(entry, "Forbidden access to the organisation")
            return None, 403
        try:
            created = self.catalog.upsert(entry_id, entry)
        except InvalidEntryError as e:
            self._notify(entry, "Error during parsing entry")
            return {"error": str(e)}, 400
        self._notify(entry, "Dataset added")
        return None, (201 if created else 200)

    # -- POST /rest/datasets/<id> -----------------------------------------

    def post_entry(self, entry_id: str, patch: dict, org_uuid_list: list[str], is_admin: bool, token: str = ""):
        """Partial update (metadata_entry.py:216-274): schema-keys-only
        patch; the PRESENCE of isPublic in the patch (not only an actual
        flip) triggers the hive-view cascade first — exact reference
        behavior (metadata_entry.py:244-253, dataset_delete.py:50-63)."""
        try:
            current = self.catalog.get(entry_id)
        except EntryNotFoundError:
            return None, 404
        if not is_admin and current["orgUUID"] not in _norm_orgs(org_uuid_list):
            return None, 403
        if validate_entry(patch, partial=True):
            return None, 400
        if "isPublic" in patch:
            self._del_publisher(entry_id, token)
        try:
            self.catalog.partial_update(entry_id, patch)
        except EntryNotFoundError:
            return None, 404
        post_image = {**current, **patch}
        status = "public" if post_image["isPublic"] else "private"
        self._notify(current, f"Dataset changed status on {status}")
        return None, 200

    # -- DELETE /rest/datasets/<id> ---------------------------------------

    def delete_entry(self, entry_id: str, org_uuid_list: list[str], is_admin: bool, token: str = ""):
        """Cascading delete (metadata_entry.py:191-214, dataset_delete.py):
        ownership check → 403; bearer token required for the cascade → 401;
        returns the cascade boolean matrix."""
        try:
            entry = self.catalog.get(entry_id)
        except EntryNotFoundError:
            return None, 404
        if not is_admin and entry["orgUUID"] not in _norm_orgs(org_uuid_list):
            return None, 403
        if not token:
            return None, 401
        deleted = self.catalog.delete(entry_id)
        result = {
            "deleted_from_downloader": bool(
                self._del_downloader(deleted["targetUri"], token)
            ),
            "deleted_from_publisher": bool(self._del_publisher(entry_id, token)),
        }
        self._notify(deleted, "Dataset deleted")
        return result, 200

    # -- GET /rest/datasets?query=... -------------------------------------

    def search(
        self,
        query,
        org_uuid_list: list[str],
        dataset_filtering: str = DataSetFiltering.PRIVATE_AND_PUBLIC,
        is_admin: bool = False,
    ):
        """Faceted search (search.py:70-135): 400 on invalid query."""
        try:
            cq = compile_query(query, org_uuid_list, dataset_filtering, is_admin)
        except InvalidQueryError as e:
            return {"error": str(e)}, 400
        result = search_mod.search(self._served(), cq)
        return (
            {
                "hits": result.hits,
                "total": result.total,
                "categories": result.categories,
                "formats": result.formats,
            },
            200,
        )

    # -- GET /rest/datasets/count ------------------------------------------

    def count(
        self,
        org_uuid_list: list[str],
        dataset_filtering: str = DataSetFiltering.PRIVATE_AND_PUBLIC,
        is_admin: bool = False,
    ):
        """Count endpoint (dataset_count.py:39-48): an empty search's total."""
        try:
            cq = compile_query({}, org_uuid_list, dataset_filtering, is_admin)
        except InvalidQueryError as e:
            return {"error": str(e)}, 400
        return {"total": search_mod.count(self._served(), cq)}, 200

    # -- /admin/elastic -----------------------------------------------------

    def admin_bulk_load(self, entries: list[dict], is_admin: bool):
        """Bulk load (elastic_admin.py:54-83): validate each, skip invalid
        rows; admin only."""
        if not is_admin:
            return None, 403
        pairs, bad = [], []
        for i, e in enumerate(entries):
            if not isinstance(e, dict):
                bad.append((str(i), "entry is not a JSON object"))
                continue
            pairs.append(
                (str(e.get("id", i)), {k: v for k, v in e.items() if k != "id"})
            )
        created, rejects = self.catalog.bulk_upsert(pairs, skip_invalid=True)
        rejects = bad + rejects
        return {"created": sorted(created), "rejected": [r[0] for r in rejects]}, 200

    def admin_drop_index(self, is_admin: bool):
        """Index drop (elastic_admin.py:41-52): admin only."""
        if not is_admin:
            return None, 403
        self.catalog.drop()
        return None, 200
