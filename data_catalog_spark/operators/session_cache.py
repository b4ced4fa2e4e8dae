"""The one memo store for derived corpus state, and its session-LRU class.

Every expensive derived value an operator shares across calls — MinHash
signature tables, scored pair tables, cluster labels, LSH/PQ code
tables, kNN edges, ANN top-k frames, trained k-means models, the loaded
MinHash service state — goes through ``derived()``.  Key, scope, bound
and release are decided here and nowhere else (see ``derived``).

A cached DataFrame strongly pins the SparkSession its plan is bound to,
so an unbounded ``dict`` keyed on ``id(spark)`` would retain every
``newSession()`` sibling an application ever creates — sessions, their
temp-view catalogs, and their plans all leak.  ``weakref`` cannot help
directly: the entry itself is what keeps the session alive, so a
WeakValueDictionary would never fire.  Instead the store is an LRU over
SESSIONS — at most ``max_sessions`` distinct sessions' entries are
retained, and admitting a new session evicts the least-recently-used
session's entries wholesale, releasing that session (and everything its
plans pin) to the collector.  Long-lived apps with one or two sessions
never evict; session-churning apps are bounded by construction.

Release on eviction, ``drop_session``, ``clear`` and supersession (a
rebuild for a regenerated input file releases the entry built from the
file's previous version, see ``derived``): dropping the Python
reference alone frees a ``localCheckpoint``'d DataFrame's executor
blocks only after Python GC → py4j finalizer → JVM ContextCleaner, so
every released DataFrame (also inside tuples/lists/dicts) is
best-effort ``unpersist``ed, and a frame written by
``io.process_scratch_table`` has its scratch directory removed.  The
checkpointed RDD itself still rides the GC chain.  An entry replaced by
a later ``put`` of the same key is NOT released: two concurrent builds
of one key each return their own frame, and neither may lose its
directory under the other (the replaced one is removed at interpreter
exit with the rest of the process scratch root).  All mutating entry
points take a lock: Spark drivers legitimately submit jobs from
multiple threads, and OrderedDict.move_to_end during concurrent
iteration is a crash, not just a race.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections import Counter, OrderedDict
from typing import Any, Callable, Hashable, TypeVar

T = TypeVar("T")


def _release(value: Any) -> None:
    """Best-effort immediate release of a cached value (a DataFrame, or a
    tuple/list/dict containing DataFrames): unpersist, then remove the
    scratch directory of a written table.  Failures are swallowed: the
    session may already be stopped, and GC remains the backstop."""
    if isinstance(value, dict):
        values = list(value.values())
    elif isinstance(value, (list, tuple)):
        values = list(value)
    else:
        values = [value]
    for v in values:
        unpersist = getattr(v, "unpersist", None)
        if callable(unpersist):
            try:
                unpersist(False)  # non-blocking
            except Exception:
                pass
        # vars(), not getattr: a DataFrame's __getattr__ resolves unknown
        # names as columns through the JVM
        scratch = getattr(v, "__dict__", {}).get("_scratch_dir")
        if scratch:
            shutil.rmtree(scratch, ignore_errors=True)


class SessionLRU:
    """Entries are ``(session_id, key) -> value`` with all of one
    session's entries living and dying together (a value is only safe to
    reuse from the session whose catalog its plan resolves against)."""

    def __init__(self, max_sessions: int = 4):
        self._by_session: OrderedDict[int, dict[Hashable, Any]] = OrderedDict()
        self._max = max_sessions
        self._lock = threading.Lock()

    def get(self, session_id: int, key: Hashable):
        with self._lock:
            entries = self._by_session.get(session_id)
            if entries is None:
                return None
            self._by_session.move_to_end(session_id)
            return entries.get(key)

    def put(self, session_id: int, key: Hashable, value) -> None:
        evicted: list[dict[Hashable, Any]] = []
        with self._lock:
            entries = self._by_session.setdefault(session_id, {})
            self._by_session.move_to_end(session_id)
            entries[key] = value
            while len(self._by_session) > self._max:
                evicted.append(self._by_session.popitem(last=False)[1])
        # release outside the lock: it is a JVM round-trip per frame
        for bundle in evicted:
            for v in bundle.values():
                _release(v)

    def discard(self, session_id: int, stale: Callable[[Hashable], bool]) -> None:
        """Remove and release the session's entries whose key is ``stale``."""
        with self._lock:
            entries = self._by_session.get(session_id, {})
            gone = [entries.pop(k) for k in [k for k in entries if stale(k)]]
        for v in gone:
            _release(v)

    def drop_session(self, session_id: int) -> None:
        with self._lock:
            entries = self._by_session.pop(session_id, None)
        if entries:
            for v in entries.values():
                _release(v)

    def sessions(self) -> list[int]:
        with self._lock:
            return list(self._by_session)

    def clear(self) -> None:
        with self._lock:
            dropped = list(self._by_session.values())
            self._by_session.clear()
        for bundle in dropped:
            for v in bundle.values():
                _release(v)


_STORE = SessionLRU()
_BUILDS: Counter[str] = Counter()
_HITS: Counter[str] = Counter()
_STATS_LOCK = threading.Lock()


def derived(
    spark, sf_dir: str, table: str, tag: str, build: Callable[[], T]
) -> T:
    """The memoized value of ``build()`` for this session and corpus.

    Key: ``(applicationId, abspath(sf_dir), table, tag, st_mtime_ns,
    st_size of <sf_dir>/<table>.parquet)`` — a regenerated input file (new
    mtime or size) rebuilds instead of hitting, and that rebuild first
    releases the session's entry of the same (applicationId, dir, table,
    tag) with the old (mtime, size), which could never hit again.  Another
    directory is another key and keeps its entries.  ``tag`` names the
    call site and must be distinct per site: several sites derive from the
    same file, and without it one would be handed another's frame.

    Scope: ``id(spark)``.  A cached plan resolves against its session's
    catalog (temp views, the session that built it), so a
    ``newSession()`` sibling builds its own entries; ``id(spark)`` cannot
    alias a dead session while a cached value pins it alive.

    Bound: 4 sessions (``SessionLRU``), whole-session eviction with
    release (module docstring).

    On a miss ``build()`` runs and its return value is stored as is, so
    each site keeps its own materialization: a written
    ``io.process_scratch_table``, a ``localCheckpoint(eager=False)``, or
    plain python values (trained models).  Builds run outside the store
    lock and may call ``derived`` themselves.  Per-tag build and hit
    counts are read by ``stats()``."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    site = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), table, tag)
    key = (*site, st.st_mtime_ns, st.st_size)
    hit = _STORE.get(id(spark), key)
    if hit is not None:
        with _STATS_LOCK:
            _HITS[tag] += 1
        return hit
    _STORE.discard(id(spark), lambda k: k[:4] == site and k != key)
    value = build()
    _STORE.put(id(spark), key, value)
    with _STATS_LOCK:
        _BUILDS[tag] += 1
    return value


def stats() -> dict[str, dict[str, int]]:
    """Process-lifetime ``{tag: {"builds": n, "hits": n}}`` of ``derived``."""
    with _STATS_LOCK:
        return {
            tag: {"builds": _BUILDS[tag], "hits": _HITS[tag]}
            for tag in sorted(set(_BUILDS) | set(_HITS))
        }


def drop_session(spark) -> None:
    """Release every entry of ``spark``'s session."""
    _STORE.drop_session(id(spark))


def clear() -> None:
    """Release every entry of every session (a process restart's view)."""
    _STORE.clear()
