"""The Data-Catalog JSON query compiler ("the planner").

Re-expresses the reference's query translation
(data_catalog/query_translation.py) as a pure function producing a
backend-neutral IR (``CompiledQuery``), rendered later to a PySpark
DataFrame plan (``..search``) or to ANSI/DuckDB SQL (``.sqlgen``).

Semantics preserved from the reference:

- Input shape ``{"query": str, "filters": [{field: [values...]}],
  "from": int, "size": int}`` — all optional
  (data_catalog/search.py:40-68).
- Security predicate injection by filtering mode
  (query_translation.py:180-196):
    * PRIVATE_AND_PUBLIC: unless (admin and no orgs requested), inject
      ``orgUUID ∈ orgs`` and ``isPublic = true``.
    * ONLY_PRIVATE: unless (admin and no orgs requested), inject
      ``orgUUID ∈ orgs``; always inject ``isPublic = false``.
    * ONLY_PUBLIC: inject ``isPublic = true``.
- Filter segregation (query_translation.py:215-243):
    * PRIVATE_AND_PUBLIC: orgUUID/isPublic filters (injected *or*
      user-supplied) form an OR-group; creationTime -> query-filter;
      everything else -> post-filter (does not affect facets).
    * other modes: orgUUID/creationTime/isPublic -> query-filter;
      rest -> post-filter.
- Value normalization: term values are stringified + lowercased
  (query_translation.py:272), per code point (``analyzers.fold_case``)
  for analyzed fields; isPublic coerces to boolean.
- Time range: exactly two values; ``-1`` opens that end; inclusive both
  ends (ES range from/to defaults — query_translation.py:278-291).
- Validation errors -> InvalidQueryError (query_translation.py:245-263):
  non-JSON query, filter not a dict / empty dict, field not in schema,
  empty value list, non-list values, bad range arity.
- Text query -> 3-clause boosted disjunction: title substring ×3,
  dataSample analyzed match ×2, sourceUri uri-analyzed match ×1; a row
  qualifies if ≥1 clause matches; score = sum of matching boosts
  (query_translation.py:130-158).  Exact ES TF/IDF is neither required
  nor achievable (SURVEY §2.3); ranking is deterministic: score desc,
  id asc.
- Pagination: from/size pass-through, ES defaults from=0 size=10
  (query_translation.py:98-109).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from .. import analyzers
from ..errors import InvalidQueryError
from ..schema import (
    CREATION_TIME_FIELD,
    FILTERABLE_FIELDS,
    IS_PUBLIC_FIELD,
    ORG_UUID_FIELD,
)

_NUMERIC_FIELDS = frozenset({"recordCount", "size"})

DEFAULT_FROM = 0
DEFAULT_SIZE = 10

# Boosts — query_translation.py:134-155.
TITLE_BOOST = 3.0
DATASAMPLE_BOOST = 2.0
SOURCEURI_BOOST = 1.0

CATEGORIES_FACET_SIZE = 100  # query_translation.py:86
FORMATS_FACET_SIZE = 10  # ES default terms size (query_translation.py:90-94)


class DataSetFiltering:
    """Visibility modes — data_catalog/query_translation.py:312-315."""

    PRIVATE_AND_PUBLIC = "private_and_public"
    ONLY_PUBLIC = "only_public"
    ONLY_PRIVATE = "only_private"


@dataclass(frozen=True)
class TermsFilter:
    """Equality / IN-list filter; values already normalized."""

    fld: str
    values: tuple


@dataclass(frozen=True)
class RangeFilter:
    """Inclusive creationTime range; None == open end."""

    fld: str
    lo: str | None
    hi: str | None


@dataclass(frozen=True)
class OrGroup:
    filters: tuple


@dataclass(frozen=True)
class CompiledQuery:
    text: str | None
    query_filters: tuple  # AND of TermsFilter/RangeFilter/OrGroup
    post_filters: tuple  # AND of TermsFilter/RangeFilter
    from_: int = DEFAULT_FROM
    size: int = DEFAULT_SIZE
    explicit_pagination: bool = False
    # scale extension (no reference counterpart): (score, id) cursor for
    # O(page) deep paging — ES search_after semantics.  Mutually
    # exclusive with an explicit 'from'.
    search_after: tuple | None = None


def _parse(data_catalog_query) -> dict:
    """string|dict|None -> dict (query_translation.py:57-68)."""
    if not data_catalog_query:
        return {}
    if isinstance(data_catalog_query, dict):
        return data_catalog_query
    try:
        parsed = json.loads(data_catalog_query)
    except (ValueError, TypeError):
        # TypeError: non-str/bytes input (e.g. an int) must 400, not 500
        raise InvalidQueryError("Supplied query is not a JSON document.")
    if not isinstance(parsed, dict):
        raise InvalidQueryError("Supplied query is not a JSON object.")
    return parsed


def _filter_properties(query_filter) -> tuple[str, list]:
    """(field, values) of a user filter dict (query_translation.py:245-263)."""
    if not isinstance(query_filter, dict):
        raise InvalidQueryError(f"A filter is not a dictionary: {query_filter}")
    if not query_filter:
        raise InvalidQueryError("Filter dictionary can't be empty.")
    fld, values = next(iter(query_filter.items()))
    if fld not in FILTERABLE_FIELDS:
        raise InvalidQueryError(
            f"Can't filter over field {fld}, because it isn't in the mapping."
        )
    if not values:
        raise InvalidQueryError("Filter doesn't contain any values")
    return fld, values


def _translate_filter(fld: str, values) -> TermsFilter | RangeFilter | None:
    """Normalize one filter (query_translation.py:265-301)."""
    if not values:
        return None
    if not isinstance(values, (list, tuple)):
        raise InvalidQueryError("Filter values aren't a list.")
    if fld == CREATION_TIME_FIELD:
        if len(values) != 2:
            raise InvalidQueryError("There should be exactly two time range values.")
        lo = None if values[0] == -1 else str(values[0])
        hi = None if values[1] == -1 else str(values[1])
        return RangeFilter(fld, lo, hi)
    if fld == IS_PUBLIC_FIELD:
        normalized = tuple(str(v).lower() == "true" for v in values)
    elif fld in _NUMERIC_FIELDS:
        try:
            normalized = tuple(int(v) for v in values)
        except (TypeError, ValueError):
            raise InvalidQueryError(f"Filter values for {fld} must be integers.")
    elif fld == ORG_UUID_FIELD:
        # not analyzed: lowered like the caller's org list (auth.py:157)
        normalized = tuple(str(v).lower() for v in values)
    else:
        # Lowercase once at compile time (query_translation.py:272), per
        # code point like the analyzed column it is compared with.
        normalized = tuple(analyzers.fold_case(str(v)) for v in values)
    return TermsFilter(fld, normalized)


def compile_query(
    data_catalog_query,
    org_uuid_list: list[str] | None = None,
    dataset_filtering: str = DataSetFiltering.PRIVATE_AND_PUBLIC,
    is_admin: bool = False,
) -> CompiledQuery:
    """Compile a Data-Catalog query into a backend-neutral plan IR.

    Pure — no I/O, fully unit-testable, like the reference compiler
    (SURVEY §3.1 step 3).
    """
    query_dict = _parse(data_catalog_query)
    org_uuid_list = [o.strip().lower() for o in (org_uuid_list or [])]

    user_filters = query_dict.get("filters", [])
    if not isinstance(user_filters, list):
        raise InvalidQueryError("'filters' must be a list.")
    filters: list[dict] = list(user_filters)

    # Security predicate injection — query_translation.py:182-191.
    if dataset_filtering == DataSetFiltering.PRIVATE_AND_PUBLIC:
        if not is_admin or org_uuid_list:
            filters.append({ORG_UUID_FIELD: org_uuid_list})
            filters.append({IS_PUBLIC_FIELD: [True]})
    elif dataset_filtering == DataSetFiltering.ONLY_PRIVATE:
        if not is_admin or org_uuid_list:
            filters.append({ORG_UUID_FIELD: org_uuid_list})
        filters.append({IS_PUBLIC_FIELD: [False]})
    elif dataset_filtering == DataSetFiltering.ONLY_PUBLIC:
        filters.append({IS_PUBLIC_FIELD: [True]})
    else:
        raise InvalidQueryError(f"Unknown filtering mode: {dataset_filtering}")

    # Segregation — query_translation.py:215-243.
    query_filters: list = []
    post_filters: list = []
    or_filters: list = []
    for f in filters:
        fld, values = _filter_properties(f)
        translated = _translate_filter(fld, values)
        if translated is None:
            continue
        if dataset_filtering == DataSetFiltering.PRIVATE_AND_PUBLIC:
            if fld in (ORG_UUID_FIELD, IS_PUBLIC_FIELD):
                or_filters.append(translated)
            elif fld == CREATION_TIME_FIELD:
                query_filters.append(translated)
            else:
                post_filters.append(translated)
        else:
            if fld in (ORG_UUID_FIELD, CREATION_TIME_FIELD, IS_PUBLIC_FIELD):
                query_filters.append(translated)
            else:
                post_filters.append(translated)
    if or_filters:
        query_filters.append(OrGroup(tuple(or_filters)))

    text = query_dict.get("query") or None
    if text is not None and not isinstance(text, str):
        raise InvalidQueryError("'query' must be a string.")

    from_ = query_dict.get("from", DEFAULT_FROM)
    size = query_dict.get("size", DEFAULT_SIZE)
    if not isinstance(from_, int) or isinstance(from_, bool) or from_ < 0:
        raise InvalidQueryError("'from' must be a non-negative integer.")
    if not isinstance(size, int) or isinstance(size, bool) or size < 0:
        raise InvalidQueryError("'size' must be a non-negative integer.")

    search_after = query_dict.get("searchAfter")
    if search_after is not None:
        import math

        if (
            not isinstance(search_after, (list, tuple))
            or len(search_after) != 2
            or isinstance(search_after[0], bool)
            or not isinstance(search_after[0], (int, float))
            or not math.isfinite(search_after[0])
            or not isinstance(search_after[1], str)
        ):
            raise InvalidQueryError(
                "'searchAfter' must be a [score, id] pair (finite number, string)."
            )
        if "from" in query_dict:
            raise InvalidQueryError(
                "'searchAfter' and 'from' are mutually exclusive."
            )
        search_after = (float(search_after[0]), search_after[1])

    return CompiledQuery(
        text=text,
        query_filters=tuple(query_filters),
        post_filters=tuple(post_filters),
        from_=from_,
        size=size,
        explicit_pagination=("from" in query_dict or "size" in query_dict),
        search_after=search_after,
    )
