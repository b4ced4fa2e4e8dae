"""CRUD semantics tests — upsert created/updated, partial update, delete
visibility, bulk load with rejects, validation matrix (SURVEY §5)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.errors import (
    EntryNotFoundError,
    InvalidEntryError,
)
from data_catalog_spark.schema import transform_entry, validate_entry

# Canonical entry — tests/test_metadata_entries.py:43-57 shape.
ENTRY = {
    "orgUUID": "org02",
    "category": "health",
    "dataSample": "some sample",
    "format": "csv",
    "recordCount": 13,
    "size": 99999,
    "sourceUri": "some uri",
    "targetUri": "hdfs://6.6.6.6:8200/borker/long-long-hash/9213-154b-a0b9/00000_1",
    "title": "a great title",
    "isPublic": True,
    "creationTime": "2015-02-13T13:00:00",
}


@pytest.fixture()
def cat(spark, tmp_path):
    c = DatasetsCatalog(spark, str(tmp_path / "datasets"))
    c.create_if_not_exists()
    return c


def test_create_is_idempotent(cat):
    cat.create_if_not_exists()
    assert cat.count() == 0


def test_upsert_created_then_updated(cat):
    assert cat.upsert("e1", ENTRY) is True  # 201
    assert cat.upsert("e1", {**ENTRY, "title": "new title"}) is False  # 200
    assert cat.count() == 1
    assert cat.get("e1")["title"] == "new title"


def test_point_lookup_missing_raises(cat):
    with pytest.raises(EntryNotFoundError):
        cat.get("nope")


def test_partial_update(cat):
    cat.upsert("e1", ENTRY)
    cat.partial_update("e1", {"format": "json", "recordCount": 99})
    got = cat.get("e1")
    assert got["format"] == "json"
    assert got["recordCount"] == 99
    assert got["title"] == ENTRY["title"]


def test_partial_update_rejects_unknown_keys(cat):
    cat.upsert("e1", ENTRY)
    with pytest.raises(InvalidEntryError):
        cat.partial_update("e1", {"nosuchfield": 1})


def test_partial_update_missing_id(cat):
    with pytest.raises(EntryNotFoundError):
        cat.partial_update("ghost", {"format": "json"})


def test_delete_and_read_your_writes(cat):
    cat.upsert("e1", ENTRY)
    deleted = cat.delete("e1")
    assert deleted["targetUri"] == ENTRY["targetUri"]  # cascade hook input
    assert cat.count() == 0
    with pytest.raises(EntryNotFoundError):
        cat.get("e1")


def test_bulk_load_skips_invalid(cat):
    entries = [
        ("a", ENTRY),
        ("b", {**ENTRY, "targetUri": "some_path"}),  # invalid
        ("c", {**ENTRY, "title": "other"}),
    ]
    created, rejects = cat.bulk_upsert(entries, skip_invalid=True)
    assert created == {"a", "c"}
    assert [r[0] for r in rejects] == ["b"]
    assert cat.count() == 2


def test_drop(cat):
    cat.upsert("e1", ENTRY)
    cat.drop()
    cat.create_if_not_exists()
    assert cat.count() == 0


# -- validation matrix (tests/test_metadata_entries.py:314-338) -------------


def test_valid_entry_passes_unchanged():
    out = transform_entry(ENTRY)
    assert {k: out[k] for k in ENTRY} == ENTRY


@pytest.mark.parametrize(
    "uri", ["//onet.pl/", "hdfs://onet.pl/", "http://", "some_path"]
)
def test_invalid_target_uris_rejected(uri):
    with pytest.raises(InvalidEntryError):
        transform_entry({**ENTRY, "targetUri": uri})


@pytest.mark.parametrize("missing", ["dataSample", "format", "orgUUID", "title"])
def test_missing_required_field_rejected(missing):
    entry = {k: v for k, v in ENTRY.items() if k != missing}
    with pytest.raises(InvalidEntryError):
        transform_entry(entry)


def test_missing_creation_time_gets_filled():
    entry = {k: v for k, v in ENTRY.items() if k != "creationTime"}
    out = transform_entry(entry)
    assert out["creationTime"]  # defaulted to now().isoformat()


def test_unknown_field_rejected():
    assert validate_entry({**ENTRY, "storeType": "hdfs"})  # not PUT-writable
    assert validate_entry({**ENTRY, "bogus": 1})


def test_type_checks():
    assert validate_entry({**ENTRY, "recordCount": "many"})
    assert validate_entry({**ENTRY, "isPublic": "yes"})
    assert validate_entry({**ENTRY, "title": 7})


def test_bulk_duplicate_ids_last_write_wins(cat):
    created, rejects = cat.bulk_upsert(
        [("a", ENTRY), ("a", {**ENTRY, "title": "second"})], skip_invalid=True
    )
    assert created == {"a"} and not rejects
    assert cat.count() == 1  # no duplicate rows under one id
    assert cat.get("a")["title"] == "second"


# -- version log / time travel ----------------------------------------------


def test_time_travel_reads_old_snapshot(cat):
    c = cat
    c.upsert("1", dict(ENTRY))
    v1 = c._latest_version()
    c.upsert("2", {**ENTRY, "title": "second thing"})
    v2 = c._latest_version()
    assert v2 > v1
    assert c.df(version=v1).count() == 1
    assert c.df(version=v2).count() == 2
    assert c.df().count() == 2  # default = latest


def test_versions_and_vacuum(cat):
    c = cat
    c.upsert("1", dict(ENTRY))
    c.upsert("2", {**ENTRY, "title": "second"})
    c.upsert("3", {**ENTRY, "title": "third"})
    vs = c.versions()
    assert len(vs) >= 3 and vs == sorted(vs)
    removed = c.vacuum(keep_last=1)
    assert removed and set(removed) == set(vs[:-1])
    assert c.versions() == [vs[-1]]
    # current read still works; time-travel to vacuumed version errors
    assert c.df().count() == 3
    import pytest as _pytest
    from data_catalog_spark.errors import EntryNotFoundError

    with _pytest.raises(EntryNotFoundError):
        c.df(version=vs[0])


def test_delete_preserves_prior_snapshot(cat):
    c = cat
    c.upsert("1", dict(ENTRY))
    c.upsert("2", {**ENTRY, "title": "second"})
    before = c._latest_version()
    c.delete("1")
    assert c.count() == 1
    # the pre-delete snapshot is still consistent and readable
    old = c.df(version=before)
    assert sorted(r.id for r in old.collect()) == ["1", "2"]


def test_diff_reports_cdc_changes(cat):
    c = cat
    c.upsert("a", dict(ENTRY))
    c.upsert("b", {**ENTRY, "title": "bee"})
    v_base = c._latest_version()
    c.upsert("b", {**ENTRY, "title": "bee v2"})  # update
    c.upsert("c", {**ENTRY, "title": "cee"})  # insert
    c.delete("a")  # delete
    got = {(r.id, r.change) for r in c.diff(v_base).collect()}
    assert got == {("a", "delete"), ("b", "update"), ("c", "insert")}


def test_diff_between_identical_versions_is_empty(cat):
    c = cat
    c.upsert("a", dict(ENTRY))
    v = c._latest_version()
    assert c.diff(v, v).count() == 0


def test_commit_rewrites_only_touched_partition(cat):
    """File-granular commits: a 1-row private upsert must write ONLY the
    isPublic=false partition's touched org-bucket into the new snapshot and
    carry every other (partition, bucket) cell forward by manifest
    reference to the older snapshot."""
    import os

    c = cat
    c.bulk_upsert(
        [
            ("pub1", {**ENTRY, "isPublic": True}),
            ("pub2", {**ENTRY, "isPublic": True, "title": "second public"}),
            ("priv1", {**ENTRY, "isPublic": False, "title": "private one", "orgUUID": "orgA"}),
        ]
    )
    v_base = c._latest_version()
    base_manifest = c._manifest(v_base)
    assert {k.split("/")[0] for k in base_manifest} == {"true", "false"}

    c.upsert("priv2", {**ENTRY, "isPublic": False, "title": "private two", "orgUUID": "orgB"})
    v_new = c._latest_version()
    # the new snapshot dir holds ONLY the private partition, and within it
    # only orgB's bucket
    snap = c._snapshot_dir(v_new)
    part_dirs = [d for d in os.listdir(snap) if d.startswith("isPublic=")]
    assert part_dirs == ["isPublic=false"]
    bucket_dirs = [
        d for d in os.listdir(os.path.join(snap, "isPublic=false"))
        if d.startswith("_orgbucket=")
    ]
    b_new = c._bucket_of("orgB")
    assert bucket_dirs == [f"_orgbucket={b_new}"]
    # manifest: the touched cell owned by the new version; every base cell
    # (including priv1's bucket, if different) still points at the base
    m = c._manifest(v_new)
    assert m[f"false/{b_new}"] == v_new
    for k, v in base_manifest.items():
        if k != f"false/{b_new}":
            assert m[k] == v == v_base
    # and the table view is complete and correct
    assert sorted(r.id for r in c.df().collect()) == ["priv1", "priv2", "pub1", "pub2"]
    assert {r.isPublic for r in c.df().where("id like 'priv%'").collect()} == {False}


def test_vacuum_keeps_snapshots_referenced_by_manifest(cat):
    """Retention must not drop an old snapshot that the CURRENT manifest
    still references for an untouched partition."""
    c = cat
    c.upsert("pub1", {**ENTRY, "isPublic": True})
    v_pub = c._latest_version()
    c.upsert("priv1", {**ENTRY, "isPublic": False, "title": "p"})
    c.upsert("priv1", {**ENTRY, "isPublic": False, "title": "p2"})
    removed = c.vacuum(keep_last=1)
    assert v_pub not in removed  # still owns the public partition's data
    assert sorted(r.id for r in c.df().collect()) == ["priv1", "pub1"]


def test_commit_clears_orphan_snapshot_dir(cat, tmp_path):
    """A snapshot dir left by a crashed commit (moved into place but never
    referenced by VERSION) must not corrupt the next commit."""
    import os

    c = cat
    c.upsert("1", dict(ENTRY))
    orphan = c._snapshot_dir((c._latest_version() or 0) + 1)
    os.makedirs(orphan)  # simulate the crash leftovers
    with open(os.path.join(orphan, "junk"), "w") as f:
        f.write("partial")
    c.upsert("2", {**ENTRY, "title": "two"})
    assert c.count() == 2
    assert sorted(r.id for r in c.df().collect()) == ["1", "2"]


def test_visibility_flip_rewrites_both_cells(cat):
    """An upsert that flips isPublic must rewrite the OLD cell (which loses
    the row) and the NEW cell (which gains it) — and nothing else."""
    c = cat
    c.bulk_upsert(
        [
            ("keep", {**ENTRY, "isPublic": True, "orgUUID": "orgk"}),
            ("mover", {**ENTRY, "isPublic": True, "orgUUID": "orgm"}),
        ]
    )
    v_base = c._latest_version()
    c.upsert("mover", {**ENTRY, "isPublic": False, "orgUUID": "orgm"})
    v_new = c._latest_version()
    m = c._manifest(v_new)
    b = c._bucket_of("orgm")
    # the new private cell exists and is owned by the new version
    assert m[f"false/{b}"] == v_new
    # the old public cell was rewritten (row removed) or dropped if empty
    old_pub = m.get(f"true/{b}")
    assert old_pub in (v_new, None)
    # untouched cell still points at the base version
    assert m[f"true/{c._bucket_of('orgk')}"] == v_base or c._bucket_of("orgk") == b
    rows = {r.id: r.isPublic for r in c.df().collect()}
    assert rows == {"keep": True, "mover": False}


def test_org_flip_moves_row_across_buckets(cat):
    """Changing orgUUID moves the row to a different bucket cell; the old
    bucket must not keep a stale copy."""
    c = cat
    # find two orgs hashing to DIFFERENT buckets
    orgs = ["org%02d" % i for i in range(30)]
    a = orgs[0]
    b = next(o for o in orgs if c._bucket_of(o) != c._bucket_of(a))
    c.upsert("doc", {**ENTRY, "isPublic": True, "orgUUID": a})
    c.upsert("doc", {**ENTRY, "isPublic": True, "orgUUID": b})
    m = c._manifest(c._latest_version())
    assert f"true/{c._bucket_of(b)}" in m
    assert f"true/{c._bucket_of(a)}" not in m  # old cell emptied -> dropped
    rows = c.df().collect()
    assert len(rows) == 1 and rows[0].orgUUID == b


def test_legacy_manifestless_snapshot_reads_and_migrates(spark, tmp_path):
    """A snapshot written by the pre-manifest format (no _manifest.json)
    must stay readable — treated as a self-owned full snapshot — and the
    next commit migrates it onto the manifest chain without losing rows."""
    import json
    import os

    from pyspark.sql import Row

    from data_catalog_spark.schema import COLUMN_ORDER, DATASETS_SCHEMA, transform_entry

    path = str(tmp_path / "legacy")
    snap = os.path.join(path, "snapshots", "v000001")
    rows = []
    for i, vis in [(1, True), (2, False)]:
        body = transform_entry({**ENTRY, "isPublic": vis, "title": f"legacy {i}"})
        body["id"] = f"L{i}"
        rows.append(Row(**{c: body.get(c) for c in COLUMN_ORDER}))
    legacy_df = spark.createDataFrame(rows, DATASETS_SCHEMA)
    legacy_df.write.partitionBy("isPublic").parquet(snap)
    assert not os.path.exists(os.path.join(snap, "_manifest.json"))
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "VERSION"), "w") as f:
        f.write("1")

    cat = DatasetsCatalog(spark, path)
    got = {r["id"]: r["title"] for r in cat.df().collect()}
    assert got == {"L1": "legacy 1", "L2": "legacy 2"}
    assert cat.get("L2")["isPublic"] is False

    # mutating on top of the legacy snapshot migrates it (full rewrite
    # under a fresh manifest) — nothing lost, new row visible
    cat.upsert("N1", ENTRY)
    assert cat.count() == 3
    assert {r["id"] for r in cat.df().collect()} == {"L1", "L2", "N1"}
    with open(cat._manifest_path(cat._latest_version())) as f:
        manifest = json.load(f)
    assert all(v == cat._latest_version() for v in manifest.values())
    cat.delete("L1")
    assert {r["id"] for r in cat.df().collect()} == {"L2", "N1"}


def test_concurrent_commit_loser_raises_not_clobbers(spark, tmp_path):
    """Optimistic concurrency: two writers computing against the same base
    version — the first commit wins, the second raises CommitConflictError
    and the winner's write survives (no silent manifest clobber)."""
    import pytest as _pytest

    from data_catalog_spark.errors import CommitConflictError

    path = str(tmp_path / "race")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.create_if_not_exists()
    a.upsert("seed", ENTRY)
    base = a._latest_version()

    # both writers build their post-image against `base`
    img_a = a.df(version=base).unionByName(
        a.df(version=base).limit(0)
    )  # no-op shape; writer A actually merges a new row via the public API
    a.upsert("from_a", {**ENTRY, "title": "A wins"})
    assert a._latest_version() == base + 1

    # writer B tries to commit its stale post-image against the old base
    with _pytest.raises(CommitConflictError):
        b._commit(img_a, touched=set(), expected_version=base)

    # winner's data intact, loser produced no snapshot dir for base+2's slot
    assert {r["id"] for r in b.df().collect()} == {"seed", "from_a"}
    assert b._latest_version() == base + 1
    # and the lock file was released
    import os

    assert not os.path.exists(os.path.join(path, ".COMMIT_LOCK"))


def test_stale_entry_level_upsert_still_merges(spark, tmp_path):
    """Two sequential upserts through the public API never conflict — each
    re-reads the latest snapshot before computing its post-image (the CAS
    protects the read-compute-commit window, not entry-level last-write-wins
    semantics)."""
    path = str(tmp_path / "seq")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("x", ENTRY)
    b.upsert("y", ENTRY)
    a.upsert("z", ENTRY)
    assert {r["id"] for r in a.df().collect()} == {"x", "y", "z"}


def test_orphan_snapshot_dir_is_not_readable_data(spark, tmp_path):
    """A crashed commit leaves a manifest-less dir BEYOND the committed
    version (moved into place, VERSION never repointed): reads of the
    committed version are unaffected, and time-travel to the orphan raises
    instead of silently serving the partial (touched-cells-only) data."""
    import os

    path = str(tmp_path / "orphan")
    cat = DatasetsCatalog(spark, path)
    cat.upsert("a", ENTRY)
    committed = cat._latest_version()
    orphan = cat._snapshot_dir(committed + 1)
    os.makedirs(os.path.join(orphan, "isPublic=true", "_orgbucket=0"))
    # the committed view still reads
    assert {r["id"] for r in cat.df().collect()} == {"a"}
    with pytest.raises(EntryNotFoundError, match="orphan"):
        cat.df(version=committed + 1)
    # and the next commit reclaims the orphan slot cleanly
    cat.upsert("b", ENTRY)
    assert {r["id"] for r in cat.df().collect()} == {"a", "b"}


def test_stale_commit_lock_is_broken(spark, tmp_path):
    """A lock file left by a killed process (old mtime) must not brick the
    table: the next commit breaks it and proceeds."""
    import os
    import time

    path = str(tmp_path / "stale")
    cat = DatasetsCatalog(spark, path)
    cat.create_if_not_exists()
    lock = os.path.join(path, ".COMMIT_LOCK")
    with open(lock, "w") as f:
        f.write("99999 0")
    old = time.time() - cat.LOCK_STALE_AFTER - 5
    os.utime(lock, (old, old))
    cat.upsert("x", ENTRY)  # would raise CommitConflictError un-broken
    assert cat.get("x")["id"] == "x"
    assert not os.path.exists(lock)


def test_compact_bin_packs_cells_and_preserves_content(spark, tmp_path):
    """Small-file compaction as a manifest commit: fragmented cells are
    bin-packed to one file each, untouched cells carry forward, and the
    logical table is unchanged (empty CDC diff across the compaction)."""
    path = str(tmp_path / "opt")
    cat = DatasetsCatalog(spark, path)
    for i in range(5):
        cat.upsert(f"e{i}", {**ENTRY, "title": f"t{i}"})
    cat.upsert("other-cell", {**ENTRY, "orgUUID": "org99", "isPublic": False})
    base = cat._latest_version()
    before = {r["id"] for r in cat.df().collect()}
    rep = cat.compact(max_files_per_cell=0)  # force: every cell bin-packs
    assert rep["compacted_cells"] >= 1
    assert rep["version"] == base + 1
    m = cat._manifest(rep["version"])
    # every compacted cell now holds exactly one parquet file
    for cell, owner in m.items():
        if owner == rep["version"]:
            assert cat._cell_file_count(owner, cell) == 1
    assert rep["files_after"] <= rep["files_before"]
    # logical content unchanged: CDC between pre and post is empty
    assert cat.diff(base, rep["version"]).count() == 0
    assert {r["id"] for r in cat.df().collect()} == before
    # at threshold 1 there is nothing left to compact (idempotence)
    rep2 = cat.compact(max_files_per_cell=1)
    assert rep2["compacted_cells"] == 0
    assert cat._latest_version() == rep["version"]
    # reads and writes keep working on the compacted table
    cat.upsert("post-compact", ENTRY)
    assert {r["id"] for r in cat.df().collect()} == before | {"post-compact"}


def test_compact_sort_by_clusters_cells(spark, tmp_path):
    """OPTIMIZE with a cluster column: each compacted cell file is sorted
    by that column, so parquet row-group min/max stats can skip inside a
    cell on point lookups; content still unchanged."""
    import os

    path = str(tmp_path / "zsort")
    cat = DatasetsCatalog(spark, path)
    for i in [7, 3, 9, 1, 5, 2]:
        cat.upsert(f"{i:04d}", {**ENTRY, "title": f"t{i}"})
    base = cat._latest_version()
    before = {r["id"] for r in cat.df().collect()}
    rep = cat.compact(max_files_per_cell=0, sort_by="id")
    assert rep["compacted_cells"] >= 1
    m = cat._manifest(rep["version"])
    checked = 0
    for cell, owner in m.items():
        if owner != rep["version"]:
            continue
        d = cat._cell_dir(owner, cell)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1
        ids = [
            r.id
            for r in spark.read.parquet(os.path.join(d, files[0]))
            .select("id")
            .collect()
        ]
        assert ids == sorted(ids), f"cell {cell} not clustered: {ids}"
        checked += 1
    assert checked >= 1
    assert cat.diff(base, rep["version"]).count() == 0
    assert {r["id"] for r in cat.df().collect()} == before


def test_broken_lock_aborts_before_version_repoint(spark, tmp_path):
    """A holder whose lock was broken mid-section (frozen past
    LOCK_STALE_AFTER) must abort at assert_held() BEFORE the VERSION
    repoint — not race its successor on the manifest chain."""
    import os

    from data_catalog_spark.errors import CommitConflictError

    path = str(tmp_path / "broken")
    cat = DatasetsCatalog(spark, path)
    cat.create_if_not_exists()
    lock = os.path.join(path, ".COMMIT_LOCK")
    with cat._commit_lock() as lk:
        lk.heartbeat()  # a live holder refreshing mtime is a no-op
        lk.assert_held()
        # simulate a waiter breaking the lock and taking over
        os.unlink(lock)
        with open(lock, "w") as f:
            f.write("successor-token")
        with pytest.raises(CommitConflictError, match="broken mid-section"):
            lk.assert_held()
    # release must NOT have destroyed the successor's lock
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == "successor-token"
    os.unlink(lock)


def test_lock_timeout_does_not_leak_tmp_snapshot(spark, tmp_path):
    """If lock acquisition times out, the already-written tmp commit
    payload under snapshots/ must be cleaned up, not leaked."""
    import os
    import time

    from data_catalog_spark.errors import CommitConflictError

    path = str(tmp_path / "leak")
    cat = DatasetsCatalog(spark, path)
    cat.upsert("a", ENTRY)
    lock = os.path.join(path, ".COMMIT_LOCK")
    with open(lock, "w") as f:
        f.write("other-holder")  # fresh mtime: not stale, not breakable
    base = cat._latest_version()
    img = cat.df(version=base)
    t0 = time.time()
    with pytest.raises(CommitConflictError, match="lock held past"):
        # short timeout so the test stays fast
        orig = cat._commit_lock
        cat._commit_lock = lambda timeout=1.0: orig(timeout=1.0)
        try:
            cat._commit(img, touched=set(), expected_version=base)
        finally:
            cat._commit_lock = orig
    os.unlink(lock)
    # snapshots/ holds only the committed version dirs — no tmp residue
    snaps = os.listdir(os.path.join(path, "snapshots"))
    assert all(s.startswith("v") for s in snaps), snaps


# -- serving snapshot: reads of the latest version come from one Arrow table


def _ids(cat) -> set:
    return {r.id for r in cat.df().collect()}


def _served_ids(cat) -> set:
    return set(cat.snapshot().table.column("id").to_pylist())


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _stream_batch(spark, entry_id: str):
    return spark.createDataFrame(
        [(entry_id, "from a stream", "health", "s", "csv", 1, 1, "u",
          ENTRY["targetUri"], True, "org03", "2015-02-13T13:00:00")],
        "id string, title string, category string, dataSample string, "
        "format string, recordCount bigint, size bigint, sourceUri string, "
        "targetUri string, isPublic boolean, orgUUID string, creationTime string",
    )


def test_pinned_reads_see_every_write(spark, tmp_path):
    """Read-your-writes through the serving snapshot after each kind of
    commit: served ids, GET and count agree with the union of scans."""
    from data_catalog_spark.search import SearchIndex

    cat = DatasetsCatalog(spark, str(tmp_path / "ryw"))
    cat.upsert("a", ENTRY)
    assert _served_ids(cat) == {"a"} == _ids(cat)
    assert isinstance(cat.snapshot(), SearchIndex)
    assert cat.snapshot() is cat.snapshot()  # one index per version

    cat.partial_update("a", {"title": "patched"})
    assert cat.get("a")["title"] == "patched"

    cat.bulk_upsert([("b", ENTRY), ("c", {**ENTRY, "isPublic": False})])
    assert _served_ids(cat) == {"a", "b", "c"} == _ids(cat)

    cat.delete("b")
    assert _served_ids(cat) == {"a", "c"} == _ids(cat)
    with pytest.raises(EntryNotFoundError):
        cat.get("b")

    assert cat.bulk_upsert_df(_stream_batch(spark, "d")) == (1, 0)
    assert _served_ids(cat) == {"a", "c", "d"} == _ids(cat)
    assert cat.count() == 3

    before = {r["id"]: r for r in cat.snapshot().table.to_pylist()}
    rep = cat.compact(max_files_per_cell=0)
    assert rep["version"] == cat._latest_version()
    assert {r["id"]: r for r in cat.snapshot().table.to_pylist()} == before
    assert {r.id: r.asDict() for r in cat.df().collect()} == before
    assert cat._slot.key[0] == rep["version"]


def test_second_instance_sees_commit_on_next_read(spark, tmp_path):
    path = str(tmp_path / "two")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("x", ENTRY)
    assert _served_ids(b) == {"x"}
    assert b._slot.index is not None
    a.upsert("y", ENTRY)
    assert _served_ids(b) == {"x", "y"}
    a.delete("x")
    assert b.count() == 1
    with pytest.raises(EntryNotFoundError):
        b.get("x")


def test_drop_and_recreate_to_same_version_serves_new_rows(spark, tmp_path):
    """The slot key carries the manifest's inode and mtime, so a table
    dropped and rebuilt back to the same version number is a new key — for
    the dropping instance and for another one that still holds the old
    table."""
    path = str(tmp_path / "recreate")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("old", ENTRY)
    v = a._latest_version()
    for cat in (a, b):  # both instances hold the old table
        assert _served_ids(cat) == {"old"}
        assert cat._slot.index is not None
    a.drop()
    assert a._slot.key is None and a._slot.index is None  # drop empties the slot
    a.upsert("new", {**ENTRY, "title": "rebuilt"})
    assert a._latest_version() == v
    for cat in (a, b):
        assert _served_ids(cat) == {"new"}
        assert cat.get("new")["title"] == "rebuilt"


def test_time_travel_to_vacuumed_version_still_raises(spark, tmp_path):
    cat = DatasetsCatalog(spark, str(tmp_path / "vac"))
    cat.upsert("a", ENTRY)
    cat.upsert("a", {**ENTRY, "title": "v2"})
    cat.upsert("a", {**ENTRY, "title": "v3"})
    assert cat.get("a")["title"] == "v3"
    removed = cat.vacuum(keep_last=1)
    assert removed
    for v in removed:
        with pytest.raises(EntryNotFoundError):
            cat.df(version=v)
    assert cat.get("a")["title"] == "v3"


def test_serving_reads_leave_no_persistent_rdd(spark, tmp_path):
    """Ten commits with served searches, GETs and counts in between
    persist nothing in Spark: the snapshot lives in the driver, and the
    slot holds the latest version only."""
    from data_catalog_spark.query import DataSetFiltering, compile_query
    from data_catalog_spark import search

    cq = compile_query({"query": "great"}, ["org02"],
                       DataSetFiltering.PRIVATE_AND_PUBLIC, False)
    cat = DatasetsCatalog(spark, str(tmp_path / "bounded"))
    cat.create_if_not_exists()
    base = _persistent_rdds(spark)
    for i in range(10):
        cat.upsert(f"e{i}", ENTRY)
        assert cat.count() == i + 1
        assert cat.get(f"e{i}")["id"] == f"e{i}"
        assert search.search(cat.snapshot(), cq).total == i + 1
        assert cat._slot.key[0] == cat._latest_version()
        assert _persistent_rdds(spark) == base
    cat.drop()
    assert _persistent_rdds(spark) == base


def test_concurrent_readers_never_go_back_a_version(spark, tmp_path):
    """Readers sharing the slot while a writer commits: every reader's
    counts only grow (a stale frame served after a newer one would
    break that), nothing raises, and the last read sees every write."""
    import sys
    import threading

    cat = DatasetsCatalog(spark, str(tmp_path / "stress"))
    cat.upsert("e0", ENTRY)
    stop = threading.Event()
    seen: dict[int, list[int]] = {}
    errors = []

    def reader(k: int) -> None:
        mine = seen.setdefault(k, [])
        try:
            while not stop.is_set():
                mine.append(cat.count())
        except Exception as ex:  # noqa: BLE001 — asserted below
            errors.append(ex)

    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        readers = [threading.Thread(target=reader, args=(k,), daemon=True) for k in range(6)]
        for t in readers:
            t.start()
        for i in range(1, 4):
            cat.upsert(f"e{i}", ENTRY)
        stop.set()
        for t in readers:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(saved)
    assert not any(t.is_alive() for t in readers)
    assert errors == []
    for counts in seen.values():
        assert counts == sorted(counts) and set(counts) <= {1, 2, 3, 4}
    assert cat.count() == 4


def _pin_fixture(spark, path: str) -> None:
    DatasetsCatalog(spark, path).bulk_upsert(
        [
            (f"e{i}", {**ENTRY, "title": f"a great title {i}", "isPublic": i % 3 == 0,
                       "orgUUID": f"org0{i % 4}", "format": ["csv", "json"][i % 2]})
            for i in range(12)
        ]
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_df_is_the_union_of_scans_for_every_read(spark, tmp_path):
    """``df()`` is the union of scans on every read of a version, before
    and after the serving snapshot of that version exists, and nothing is
    persisted; its rows are the snapshot's rows."""
    path = str(tmp_path / "once")
    _pin_fixture(spark, path)
    cat = DatasetsCatalog(spark, path)
    first = cat.df()
    assert "InMemoryRelation" not in _plan(first) and "Union" in _plan(first)
    assert cat._slot.index is None
    served = cat.snapshot()
    second = cat.df()
    assert "InMemoryRelation" not in _plan(second) and "Union" in _plan(second)
    assert sorted(map(tuple, first.collect())) == sorted(
        tuple(r.values()) for r in served.table.to_pylist()
    )


def test_served_reads_do_no_per_query_scan(spark, tmp_path, monkeypatch):
    """Once a version's index is built, a served text search, count and GET
    run no Spark job and call no ``utf8_lower``, ``match_substring_regex``
    or ``filter`` (``Table.filter`` calls it) over the whole snapshot: the
    text clauses read the postings and the lowered titles, the filters see
    only the candidate rows, a count is the true-count of the filter mask
    and a GET an id lookup.  A match-all search keeps the mask path, which
    shows the spies see a full-snapshot ``filter``."""
    import pyarrow.compute as pc

    from data_catalog_spark.query import DataSetFiltering
    from data_catalog_spark.service import DataCatalogService

    words = ["amber", "birch", "cedar", "delta", "ember", "fjord", "grove", "heath"]
    svc = DataCatalogService(DatasetsCatalog(spark, str(tmp_path / "guard")))
    svc.catalog.bulk_upsert([
        (f"e{i:02d}", {**ENTRY, "title": f"{words[i % 8]} {words[(i + 3) % 8]}",
                       "dataSample": f"id,{words[(i + 1) % 8]}",
                       "sourceUri": f"http://www.example.com/{words[(i + 2) % 8]}",
                       "format": ["csv", "json"][i % 2], "isPublic": i % 3 == 0,
                       "orgUUID": f"org0{i % 3 + 1}"})
        for i in range(48)
    ])
    n = svc.catalog.snapshot().num_rows  # built here, before the spies
    mode = DataSetFiltering.PRIVATE_AND_PUBLIC
    calls = []

    def spy(name, real):
        def call(arg, *args, **kw):
            calls.append((name, len(arg)))
            return real(arg, *args, **kw)
        return call

    for name in ("utf8_lower", "match_substring_regex", "filter"):
        monkeypatch.setattr(pc, name, spy(name, getattr(pc, name)))
    sc = spark.sparkContext
    sc.setJobGroup("served-reads", "served reads")
    try:
        for q in [{"query": "amber"}, {"query": "cedar grove", "from": 2, "size": 3},
                  {"query": "ember", "filters": [{"format": ["JSON"]},
                                                 {"category": ["health"]}]},
                  {"query": "birch", "searchAfter": [3.0, "e05"]}]:
            body, status = svc.search(q, ["org01"], mode)
            assert status == 200 and body["total"] > 0, q
        assert svc.count(["org02"], mode)[0]["total"] == 32
        assert svc.get_entry("e07", [], True)[0]["title"] == "heath cedar"
        assert svc.get_entry("nope", [], True) == (None, 404)
        assert svc.catalog.count() == n
        assert calls and all(k < n for _, k in calls), calls
        assert sc.statusTracker().getJobIdsForGroup("served-reads") == []
        svc.search({}, ["org01"], mode)
        assert ("filter", n) in calls
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_pin_is_size_checked(spark, tmp_path, monkeypatch):
    """Above PIN_MAX_BYTES (-1: every table) there is no snapshot and the
    service answers searches, GETs and counts from the union of scans,
    with the same answers as from the snapshot."""
    from data_catalog_spark.query import DataSetFiltering
    from data_catalog_spark.service import DataCatalogService

    path = str(tmp_path / "bound")
    _pin_fixture(spark, path)
    queries = [{"query": "great", "size": 5}, {"query": "title 3"},
               {"filters": [{"format": ["json"]}], "from": 2},
               {"query": "great", "searchAfter": [3.0, "e4"]}, {"query": "nomatch"}]

    def answers(svc):
        out = [svc.search(q, ["org01"], DataSetFiltering.PRIVATE_AND_PUBLIC)
               for q in queries]
        out.append(svc.count(["org02"]))
        out.append(svc.get_entry("e5", [], True))
        out.append(svc.catalog.count())
        return out

    served = DataCatalogService(DatasetsCatalog(spark, path))
    want = answers(served)
    assert served.catalog._slot.index is not None
    monkeypatch.setattr(DatasetsCatalog, "PIN_MAX_BYTES", -1)
    unpinned = DataCatalogService(DatasetsCatalog(spark, path))
    got = answers(unpinned)
    assert unpinned.catalog.snapshot() is None
    assert unpinned.catalog._slot.key is not None  # checked once per version
    assert got == want


# -- per-cell serving state: a commit rebuilds only its touched cells


def test_commit_reuses_untouched_cell_indexes(spark, tmp_path, monkeypatch):
    """A one-entry commit leaves every untouched cell's ``CellIndex`` the
    same object in the next version's index, and the build reads no cell
    from parquet: the commit filed the touched one."""
    path = str(tmp_path / "cells")
    _pin_fixture(spark, path)
    cat = DatasetsCatalog(spark, path)
    old = cat.snapshot()
    before = dict(cat._slot.cells)
    assert len(before) == len(cat._manifest(cat._latest_version())) > 2
    reads = []
    real = cat._read_cell

    def read_cell(cell, files):
        reads.append(cell)
        return real(cell, files)

    monkeypatch.setattr(cat, "_read_cell", read_cell)
    cat.upsert("e1", {**ENTRY, "title": "one entry changed", "isPublic": False,
                      "orgUUID": "org01"})
    new = cat.snapshot()
    after = cat._slot.cells
    kept = before.keys() & after.keys()
    assert len(kept) == len(after) - 1 and reads == []
    for k in kept:
        assert after[k][1] is before[k][1]
        assert any(c is before[k][1] for c in new.cells)
    assert new.row("e1")["title"] == "one entry changed"
    assert old.row("e1")["title"] == "a great title 1"  # the old version is intact
    assert sorted(map(tuple, cat.df().collect())) == sorted(
        tuple(r.values()) for r in new.table.to_pylist()
    )


def test_first_served_read_after_commit_runs_no_spark_job(spark, tmp_path):
    """The first search, count and GET after a commit build the new
    version's index in their own job group without a Spark job: the touched
    cell is read with pyarrow, and the reads see the write."""
    from data_catalog_spark.query import DataSetFiltering
    from data_catalog_spark.service import DataCatalogService

    path = str(tmp_path / "nojob")
    _pin_fixture(spark, path)
    svc = DataCatalogService(DatasetsCatalog(spark, path))
    mode = DataSetFiltering.PRIVATE_AND_PUBLIC
    first = svc.search({"query": "great"}, ["org01"], mode)[0]["total"]
    svc.catalog.upsert("new", {**ENTRY, "title": "a great new title", "orgUUID": "org01"})
    key = svc.catalog._slot.key
    sc = spark.sparkContext
    sc.setJobGroup("after-commit", "first reads after a commit")
    try:
        body, status = svc.search({"query": "great"}, ["org01"], mode)
        assert status == 200 and body["total"] == first + 1
        assert svc.catalog._slot.key != key  # this read built the version
        assert svc.count(["org01"], mode)[0]["total"] == 7
        assert svc.get_entry("new", [], True)[0]["title"] == "a great new title"
        assert sc.statusTracker().getJobIdsForGroup("after-commit") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


_WORDS = ["amber", "birch", "cedar", "delta"]


def _cell_answers(index, ids) -> list:
    """Every answer a served read gives from ``index``: searches and counts
    in three scopes and modes, and a GET of each id."""
    from data_catalog_spark import search
    from data_catalog_spark.query import DataSetFiltering, compile_query

    out = [index.num_rows]
    for orgs, mode in [(["org01"], DataSetFiltering.PRIVATE_AND_PUBLIC),
                       (["org02", "org03"], DataSetFiltering.ONLY_PRIVATE),
                       ([], DataSetFiltering.ONLY_PUBLIC)]:
        for q in [{"query": w, "size": 20} for w in _WORDS] + [
                {"query": "amber cedar", "filters": [{"format": ["csv"]}]},
                {"filters": [{"category": ["health"]}], "size": 50}]:
            cq = compile_query(q, orgs, mode, False)
            out.append((search.search(index, cq), search.count(index, cq)))
    out.extend(index.row(i) for i in ids)
    return out


def _cell_entry(k: int, w: int) -> dict:
    return {**ENTRY, "title": f"{_WORDS[w % 4]} {_WORDS[k % 4]}",
            "dataSample": f"id,{_WORDS[(w + 1) % 4]}", "format": ["csv", "json"][w % 2],
            "isPublic": w % 3 == 0, "orgUUID": f"org0{w % 3 + 1}"}


@pytest.fixture(scope="module")
def cell_base(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cellbase") / "cat")
    DatasetsCatalog(spark, path).bulk_upsert(
        [(f"e{k}", _cell_entry(k, k)) for k in range(8)])
    return path


_CELL_OPS = st.lists(
    st.tuples(st.sampled_from(["upsert", "patch", "delete", "public", "org"]),
              st.integers(0, 9), st.integers(0, 5)),
    min_size=1, max_size=3)


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_CELL_OPS)
def test_cell_built_index_matches_a_whole_table_build(spark, cell_base, tmp_path, ops):
    """After every commit of a sequence of upserts, patches, deletes and
    isPublic / orgUUID flips, the index built from reused and re-read cells
    gives the same search, count and GET answers as
    ``SearchIndex.build(df().toArrow())`` of the same version."""
    import shutil
    import uuid

    from data_catalog_spark.search import SearchIndex

    path = str(tmp_path / uuid.uuid4().hex)
    shutil.copytree(cell_base, path)
    cat = DatasetsCatalog(spark, path)
    ids = [f"e{k}" for k in range(10)]
    cat.snapshot()
    for op, k, w in ops:
        eid = f"e{k}"
        try:
            if op == "upsert":
                cat.upsert(eid, _cell_entry(k, w))
            elif op == "patch":
                cat.partial_update(eid, {"title": f"{_WORDS[w % 4]} patched"})
            elif op == "delete":
                cat.delete(eid)
            elif op == "public":
                cat.partial_update(eid, {"isPublic": not cat.get(eid)["isPublic"]})
            else:
                cat.partial_update(eid, {"orgUUID": f"org0{w % 3 + 1}"})
        except EntryNotFoundError:
            continue
        want = _cell_answers(SearchIndex.build(cat.df().toArrow()), ids)
        assert _cell_answers(cat.snapshot(), ids) == want, (op, k, w)


def test_null_partition_cell_round_trips(spark, tmp_path):
    """A row with a null isPublic lives in the ``__HIVE_DEFAULT_PARTITION__``
    cell; read from parquet by pyarrow it comes back with a null isPublic,
    the same row ``df()`` reads, and no visibility mode admits it for a
    caller outside its org."""
    from pyspark.sql import types as T

    from data_catalog_spark import search
    from data_catalog_spark.query import DataSetFiltering, compile_query
    from data_catalog_spark.schema import COLUMN_ORDER, DATASETS_SCHEMA

    cat = DatasetsCatalog(spark, str(tmp_path / "nullcell"))
    cat.upsert("pub", ENTRY)
    nullable = T.StructType([T.StructField(f.name, f.dataType, True)
                             for f in DATASETS_SCHEMA.fields])
    rows = [{**ENTRY, "id": i, "isPublic": p, "storeType": None}
            for i, p in (("pub", True), ("nul", None))]
    post = spark.createDataFrame([[r[c] for c in COLUMN_ORDER] for r in rows], nullable)
    cat._commit(post, expected_version=cat._latest_version())
    assert any(c.startswith("__HIVE_DEFAULT_PARTITION__/")
               for c in cat._manifest(cat._latest_version()))
    served = cat.snapshot()
    assert served.row("nul") == cat.df().where("id = 'nul'").first().asDict()
    assert served.row("nul")["isPublic"] is None
    assert sorted(map(tuple, cat.df().collect()), key=str) == sorted(
        (tuple(r.values()) for r in served.table.to_pylist()), key=str)
    for mode, want in [(DataSetFiltering.PRIVATE_AND_PUBLIC, ["pub"]),
                       (DataSetFiltering.ONLY_PUBLIC, ["pub"]),
                       (DataSetFiltering.ONLY_PRIVATE, [])]:
        cq = compile_query({"query": "great"}, ["org01"], mode, False)
        assert [h["id"] for h in search.search(served, cq).hits] == want


def test_recreated_table_never_serves_a_stale_cell(spark, tmp_path):
    """A table dropped and rebuilt to the same version numbers, with its
    rows in the same cells and owner versions, gets new cell keys (its
    files are new), so an instance holding the old cells re-reads them."""
    path = str(tmp_path / "recells")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("old1", ENTRY)
    a.upsert("old2", ENTRY)
    assert _served_ids(b) == {"old1", "old2"}
    old_keys = set(b._slot.cells)
    a.drop()
    a.upsert("new1", {**ENTRY, "title": "rebuilt"})
    a.upsert("new2", {**ENTRY, "title": "rebuilt"})
    assert _served_ids(b) == {"new1", "new2"}
    assert {k[:2] for k in b._slot.cells} == {k[:2] for k in old_keys}
    assert not set(b._slot.cells) & old_keys
    assert b.get("new2")["title"] == "rebuilt"


# -- writes retry a lost commit race -------------------------


def _racing(loser: DatasetsCatalog, rival: DatasetsCatalog, losses: int):
    """Make ``loser``'s next ``losses`` commits lose the race: the rival
    commits between the loser's base read and its compare-and-swap."""
    real = loser._commit
    calls = []

    def commit(*args, **kw):
        calls.append(1)
        if len(calls) <= losses:
            rival.upsert(f"rival{len(calls)}", ENTRY)
        return real(*args, **kw)

    loser._commit = commit
    return calls


@pytest.mark.parametrize(
    "op", ["upsert", "partial_update", "delete", "bulk_upsert", "bulk_upsert_df"]
)
def test_lost_commit_race_retries_on_new_base(spark, tmp_path, op):
    path = str(tmp_path / op)
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("mine", ENTRY)
    calls = _racing(a, b, losses=1)
    if op == "upsert":
        assert a.upsert("new", ENTRY) is True
        want = {"mine", "new", "rival1"}
    elif op == "bulk_upsert":
        # the admin bulk load: invalid rows are still skipped once
        created, rejects = a.bulk_upsert(
            [("n1", ENTRY), ("bad", {**ENTRY, "targetUri": "nope"}), ("mine", ENTRY)],
            skip_invalid=True,
        )
        assert created == {"n1"} and [r[0] for r in rejects] == ["bad"]
        want = {"mine", "n1", "rival1"}
    elif op == "bulk_upsert_df":
        assert a.bulk_upsert_df(_stream_batch(spark, "d")) == (1, 0)
        want = {"mine", "d", "rival1"}
    elif op == "partial_update":
        a.partial_update("mine", {"title": "patched"})
        assert a.get("mine")["title"] == "patched"
        want = {"mine", "rival1"}
    else:
        assert a.delete("mine")["id"] == "mine"
        want = {"rival1"}
    assert len(calls) == 2  # lost once, won on the re-read base
    assert _ids(a) == want == _ids(b)


def test_write_losing_every_attempt_raises_conflict(spark, tmp_path):
    from data_catalog_spark.errors import CommitConflictError

    path = str(tmp_path / "starved")
    a = DatasetsCatalog(spark, path)
    b = DatasetsCatalog(spark, path)
    a.upsert("mine", ENTRY)
    calls = _racing(a, b, losses=a.COMMIT_ATTEMPTS)
    with pytest.raises(CommitConflictError) as err:
        a.upsert("late", ENTRY)
    assert err.value.code == 409
    assert len(calls) == a.COMMIT_ATTEMPTS
    assert "late" not in _ids(a)


# -- list-lane writes commit from the driver (the Arrow payload producer)


def test_bucket_of_agrees_with_bucket_expr(spark):
    """The driver's ``_bucket_of`` (which names the cells the Arrow
    producer writes) and the SQL ``_bucket_expr`` (which names the cells
    ``_merge_batch`` and ``compact`` write) give every org string the same
    bucket: None, empty, unicode, mixed case, leading and trailing
    spaces."""
    import random

    rng = random.Random(7)
    alphabet = "abcXYZ019-_ .:/éßİıΣσ中文😀\t"
    orgs = [None, "", " ", "org01", "ORG01", " org01", "org01 ", "Org01\t",
            "İSTANBUL", "straße", "中文", "😀"]
    while len(orgs) < 2000:
        core = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        orgs.append(rng.choice(["", " ", "  "]) + core + rng.choice(["", " ", "\t"]))
    frame = spark.createDataFrame([(k, o) for k, o in enumerate(orgs)],
                                  "k int, orgUUID string")
    got = {r.k: r.b for r in frame.select(
        "k", DatasetsCatalog._bucket_expr().alias("b")).collect()}
    assert got == {k: DatasetsCatalog._bucket_of(o) for k, o in enumerate(orgs)}


def _null_entry(eid: str, **kw) -> dict:
    return {**ENTRY, "id": eid, "storeType": None, **kw}


@pytest.fixture(scope="module")
def producer_base(spark, tmp_path_factory):
    """A table of 6 entries plus one with a null isPublic and one with a
    null orgUUID, committed with the Spark writer (the public write path
    rejects both nulls)."""
    from pyspark.sql import types as T

    from data_catalog_spark.schema import COLUMN_ORDER, DATASETS_SCHEMA

    path = str(tmp_path_factory.mktemp("producers") / "cat")
    cat = DatasetsCatalog(spark, path)
    cat.create_if_not_exists()
    nullable = T.StructType([T.StructField(f.name, f.dataType, True)
                             for f in DATASETS_SCHEMA.fields])
    rows = [{**_cell_entry(k, k), "id": f"e{k}", "storeType": None} for k in range(6)]
    rows += [_null_entry("np", isPublic=None), _null_entry("no", orgUUID=None)]
    post = spark.createDataFrame([[r[c] for c in COLUMN_ORDER] for r in rows], nullable)
    cat._commit(post, expected_version=cat._latest_version())
    return path


_PRODUCER_IDS = [f"e{k}" for k in range(8)] + ["np", "no"]
_PRODUCER_OPS = st.lists(
    st.tuples(st.sampled_from(["upsert", "patch", "delete", "public", "org"]),
              st.sampled_from(_PRODUCER_IDS), st.integers(0, 5)),
    min_size=1, max_size=4)


def _apply(cat: DatasetsCatalog, op: str, eid: str, w: int):
    """Run one write; its return value or the class of error it raised."""
    try:
        if op == "upsert":
            return cat.upsert(eid, _cell_entry(int(eid[1:]) if eid[1:].isdigit() else w, w))
        if op == "patch":
            return cat.partial_update(eid, {"title": f"{_WORDS[w % 4]} patched"})
        if op == "delete":
            return cat.delete(eid)
        if op == "public":
            return cat.partial_update(eid, {"isPublic": not cat.get(eid)["isPublic"]})
        return cat.partial_update(eid, {"orgUUID": f"org0{w % 3 + 1}"})
    except EntryNotFoundError:
        return "not found"
    except ValueError:  # a stored null in a non-nullable column
        return "null"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_PRODUCER_OPS)
@example(ops=[("patch", "no", 0), ("public", "np", 0), ("org", "no", 1), ("delete", "e2", 0)])
def test_arrow_and_spark_producers_agree(spark, producer_base, tmp_path, ops):
    """The same writes (upserts, patches, deletes, isPublic and orgUUID
    flips, on entries with a null isPublic or orgUUID too) through the
    Arrow producer and through the Spark writer (``PIN_MAX_BYTES = -1`` on
    the instance) return the same, and after every step leave equal
    ``df()`` rows, equal manifest cells, and equal served search, count
    and GET answers in three caller scopes, read from the Arrow catalog's
    own slot and by fresh instances from both tables' files."""
    import shutil
    import uuid

    arrow_path, spark_path = (str(tmp_path / uuid.uuid4().hex) for _ in range(2))
    shutil.copytree(producer_base, arrow_path)
    shutil.copytree(producer_base, spark_path)
    arrow = DatasetsCatalog(spark, arrow_path)
    forced = DatasetsCatalog(spark, spark_path)
    forced.PIN_MAX_BYTES = -1
    readers = [DatasetsCatalog(spark, arrow_path), DatasetsCatalog(spark, spark_path)]
    arrow.snapshot()
    for op, eid, w in ops:
        got = _apply(arrow, op, eid, w)
        assert got == _apply(forced, op, eid, w), (op, eid, w)
        assert forced.snapshot() is None
        assert sorted(map(tuple, arrow.df().collect()), key=str) == sorted(
            map(tuple, forced.df().collect()), key=str), (op, eid, w)
        assert set(arrow._manifest(arrow._latest_version())) == set(
            forced._manifest(forced._latest_version())), (op, eid, w)
        want = _cell_answers(arrow.snapshot(), _PRODUCER_IDS)
        for reader in readers:
            assert _cell_answers(reader.snapshot(), _PRODUCER_IDS) == want, (op, eid, w)


@pytest.mark.parametrize("fail_at", ["lock", "repoint"])
def test_interrupted_arrow_commit_publishes_nothing(spark, tmp_path, monkeypatch, fail_at):
    """A failure after the pyarrow payload is written and before the
    VERSION repoint (the lock is not acquired, or it was broken while the
    commit held it) leaves VERSION and the served answers on the old
    version, no tmp payload dir, and none of the unpublished cells in the
    serving slot; the next commit publishes normally."""
    import contextlib
    import os

    import pyarrow.parquet as pq

    from data_catalog_spark.errors import CommitConflictError

    path = str(tmp_path / fail_at)
    _pin_fixture(spark, path)
    cat = DatasetsCatalog(spark, path)
    base = cat._latest_version()
    count = cat.count()
    written = []
    real_write = pq.write_table
    monkeypatch.setattr(pq, "write_table",
                        lambda t, where, **kw: (written.append(where), real_write(t, where, **kw)))
    real_lock = cat._commit_lock

    @contextlib.contextmanager
    def failing_lock(timeout=30.0):
        if fail_at == "lock":
            raise CommitConflictError(f"commit lock held past {timeout}s")
        with real_lock(timeout) as lk:
            def broken():
                raise CommitConflictError("commit lock was broken mid-section")
            lk.assert_held = broken
            yield lk

    cat._commit_lock = failing_lock
    with pytest.raises(CommitConflictError):
        cat.upsert("lost", {**ENTRY, "title": "never published"})
    assert written
    assert cat._latest_version() == base
    assert cat.count() == count
    with pytest.raises(EntryNotFoundError):
        cat.get("lost")
    assert all(s.startswith("v") for s in os.listdir(os.path.join(path, "snapshots")))
    assert {ckey[0] for ckey in cat._slot.cells} <= set(cat._manifest(base).values())
    cat._commit_lock = real_lock
    assert cat.upsert("kept", {**ENTRY, "title": "published"}) is True
    assert cat.count() == count + 1 and cat.get("kept")["title"] == "published"
    assert {r.id for r in cat.df().collect()} == {f"e{i}" for i in range(12)} | {"kept"}


def test_service_writes_and_next_reads_run_no_job_and_open_no_parquet(
        spark, tmp_path, monkeypatch):
    """A one-entry PUT, POST and DELETE through the service, each followed
    by a search, a count and a GET, run no Spark job and open no parquet
    file: the commit wrote its cells with pyarrow and filed them in the
    serving slot, so the touched cells' ``CellIndex`` in the next version
    are the objects the commit built."""
    import pyarrow.parquet as pq

    from data_catalog_spark.query import DataSetFiltering
    from data_catalog_spark.service import DataCatalogService

    path = str(tmp_path / "writes")
    _pin_fixture(spark, path)
    svc = DataCatalogService(DatasetsCatalog(spark, path))
    cat = svc.catalog
    mode = DataSetFiltering.PRIVATE_AND_PUBLIC
    total = svc.search({"query": "great"}, ["org01"], mode)[0]["total"]
    opened, built = [], []
    real_file = pq.ParquetFile
    monkeypatch.setattr(pq, "ParquetFile",
                        lambda *a, **kw: (opened.append(a), real_file(*a, **kw))[1])
    real_post = cat._cell_post_images

    def post_images(*a):
        post, gone = real_post(*a)
        built.extend(cell for table, cell in post.values() if table.num_rows)
        return post, gone

    monkeypatch.setattr(cat, "_cell_post_images", post_images)
    body = {**ENTRY, "title": "a great new title", "orgUUID": "org01"}
    steps = [
        (lambda: svc.put_entry("new", body, ["org01"], False), (None, 201), total + 1),
        (lambda: svc.post_entry("new", {"isPublic": False}, ["org01"], False),
         (None, 200), total + 1),
        (lambda: svc.delete_entry("new", ["org01"], False, token="t")[1], 200, total),
    ]
    sc = spark.sparkContext
    sc.setJobGroup("driver-writes", "writes and the reads after them")
    try:
        for write, reply, hits in steps:
            built.clear()
            assert write() == reply
            assert svc.search({"query": "great"}, ["org01"], mode)[0]["total"] == hits
            assert svc.count([], mode, True)[0]["total"] == hits - total + 12
            found = svc.get_entry("new", [], True)[1]
            assert found == (200 if hits > total else 404)
            version = cat._latest_version()
            fresh = [cell for (owner, _, _), (_, cell) in cat._slot.cells.items()
                     if owner == version]
            assert fresh and len(fresh) == len(built)
            assert all(any(c is b for b in built) for c in fresh)
            assert all(any(c is s for s in cat.snapshot().cells) for c in fresh)
        assert opened == []
        assert sc.statusTracker().getJobIdsForGroup("driver-writes") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_arrow_commit_refuses_rows_of_another_cell(spark, tmp_path):
    """The Arrow producer's always-on twin of the ``stray`` check: a
    post-image holding a row whose isPublic and orgUUID name another cell
    fails the commit before anything is published."""
    import os

    import pyarrow as pa

    from data_catalog_spark.catalog import ARROW_SCHEMA
    from data_catalog_spark.search import CellIndex

    path = str(tmp_path / "stray")
    _pin_fixture(spark, path)
    cat = DatasetsCatalog(spark, path)
    base = cat._latest_version()
    row = {**transform_entry({**ENTRY, "orgUUID": "org01"}), "id": "wrong"}
    table = pa.Table.from_pylist([row], schema=ARROW_SCHEMA)
    cell = cat._pkey(not row["isPublic"], cat._bucket_of("org01"))
    with pytest.raises(AssertionError, match="encoding drift"):
        cat._commit({cell: (table, CellIndex.build(table))},
                    touched={cat._cell_tuple(cell)}, expected_version=base)
    assert cat._latest_version() == base
    assert all(s.startswith("v") for s in os.listdir(os.path.join(path, "snapshots")))
    with pytest.raises(EntryNotFoundError):
        cat.get("wrong")


def test_batch_past_the_bound_commits_through_spark(spark, tmp_path):
    """The Arrow producer runs only while the base's parquet bytes plus
    the batch's Arrow bytes stay within ``PIN_MAX_BYTES``: a batch that
    would carry a small table past the bound commits through the Spark
    writer, and the serving slot never holds cells above the bound; a
    batch within it still commits from the driver."""
    import hashlib

    path = str(tmp_path / "past")
    _pin_fixture(spark, path)
    cat = DatasetsCatalog(spark, path)
    assert cat.snapshot() is not None
    cat.PIN_MAX_BYTES = cat._slot.nbytes + 4000
    producers, held = [], []
    real_frame, real_cells, real_publish = cat._write_frame, cat._write_cells, cat._publish

    def publish(tmp, base, version, manifest):
        # the bytes of the cells the slot holds for the version published
        held.append(sum(s[3] for (owner, cell, stats) in cat._slot.cells
                        if manifest.get(cell) == owner for s in stats))
        return real_publish(tmp, base, version, manifest)

    cat._write_frame = lambda *a: (producers.append("spark"), real_frame(*a))[1]
    cat._write_cells = lambda *a: (producers.append("arrow"), real_cells(*a))[1]
    cat._publish = publish
    assert cat.upsert("small", {**ENTRY, "title": "one more"}) is True
    assert producers == ["arrow"]
    # hex digests: titles parquet cannot compress below the bound either
    big = [(f"b{i}", {**ENTRY, "title": f"bulk {i} " + "".join(
        hashlib.sha256(f"{i}.{j}".encode()).hexdigest() for j in range(4))})
           for i in range(40)]
    assert len(cat.bulk_upsert(big)[0]) == 40
    assert producers == ["arrow", "spark"]
    assert len(held) == 2 and all(n <= cat.PIN_MAX_BYTES for n in held)
    assert cat.snapshot() is None and cat._slot.cells == {}
    assert cat.count() == 12 + 1 + 40
    assert cat.get("b39")["title"].startswith("bulk 39 ")
