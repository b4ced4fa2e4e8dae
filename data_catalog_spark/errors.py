"""Error types mirroring the reference's error surface.

Reference: data_catalog/query_translation.py:308-309 (InvalidQueryError),
data_catalog/search.py:114-119 (error mapping), data_catalog/metadata_entry.py
(validation errors -> HTTP 400).
"""


class DataCatalogError(Exception):
    """Base class for engine errors."""


class InvalidQueryError(DataCatalogError):
    """Raised when a Data-Catalog JSON query cannot be compiled.

    Reference: data_catalog/query_translation.py:308 — mapped to HTTP 400 by
    data_catalog/search.py:80-81.
    """


class InvalidEntryError(DataCatalogError):
    """Raised when a metadata entry fails ingest validation.

    Reference: data_catalog/metadata_entry.py:71-86 (Cerberus schema +
    targetUri check) -> HTTP 400.
    """


class EntryNotFoundError(DataCatalogError):
    """Raised on point lookup / update / delete of a missing id.

    Reference: ES NotFoundError -> HTTP 404 (data_catalog/metadata_entry.py).
    """


class CommitConflictError(DataCatalogError):
    """Raised when a catalog commit loses an optimistic-concurrency race:
    the table advanced past the version the post-image was computed
    against.  The loser must retry on the new snapshot — never silently
    clobber the winner's manifest chain.  Single-entry writes retry a few
    times themselves; one that still loses surfaces as HTTP 409."""

    code = 409
