"""Indexed catalog search: every committed write is searchable at once
through its cells' postings sidecars, and indexed search equals the scan
path at every step and at every retained version."""

from __future__ import annotations

from data_catalog_spark import search
from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.query import DataSetFiltering, compile_query
from data_catalog_spark.text_index import catalog_hits

ENTRY = {
    "orgUUID": "org02",
    "category": "health",
    "dataSample": "alpha,beta",
    "format": "csv",
    "recordCount": 2,
    "size": 10,
    "sourceUri": "http://example.com/widget.csv",
    "targetUri": "hdfs://h:8200/broker/x/abc/000000_1",
    "title": "shiny widget metrics",
    "isPublic": True,
    "creationTime": "2015-02-13T13:00:00",
}


def _q(text):
    return compile_query(
        {"query": text, "size": 25}, [], DataSetFiltering.ONLY_PUBLIC, False
    )


def _ids(df):
    return {r.id for r in df.collect()}


def test_mutations_are_immediately_searchable(spark, tmp_path):
    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    assert _ids(catalog_hits(cat, _q("widget"))) == set()  # empty table

    cat.upsert("a", ENTRY)
    cat.upsert(
        "b",
        {
            **ENTRY,
            "title": "plain gizmo report",
            "sourceUri": "http://example.com/gizmo.csv",
        },
    )
    assert _ids(catalog_hits(cat, _q("widget"))) == {"a"}
    assert _ids(catalog_hits(cat, _q("gizmo"))) == {"b"}

    # update: title change is visible at once; 'widget' still matches a's
    # unchanged sourceUri clause, but the new title term matches too
    cat.partial_update("a", {"title": "renamed sprocket metrics"})
    assert _ids(catalog_hits(cat, _q("sprocket"))) == {"a"}
    assert _ids(catalog_hits(cat, _q("renamed"))) == {"a"}

    # delete drops it from search
    cat.delete("b")
    assert _ids(catalog_hits(cat, _q("gizmo"))) == set()

    # bulk load is indexed too (rejects are not)
    created, rejects = cat.bulk_upsert(
        [
            (
                "c",
                {
                    **ENTRY,
                    "title": "bulk carburetor data",
                    "sourceUri": "http://example.com/carb.csv",
                },
            ),
            ("d", {**ENTRY, "recordCount": "not-a-number"}),
        ],
        skip_invalid=True,
    )
    assert "c" in created and [r[0] for r in rejects] == ["d"]
    assert _ids(catalog_hits(cat, _q("carburetor"))) == {"c"}

    # invariant at every step: indexed hits == scan hits on current state
    for text in ("sprocket", "carburetor", "metrics"):
        cq = _q(text)
        want = [tuple(r) for r in search.hits(cat.df(), cq).collect()]
        got = [tuple(r) for r in catalog_hits(cat, cq).collect()]
        assert got == want


def _sidecars(cat):
    """{postings dir: its _SUCCESS inode} of every built sidecar, and the
    names of any build dirs left under the table."""
    import os

    built, builds = {}, []
    for root, dirs, _files in os.walk(cat.path):
        for d in dirs:
            if d == "_postings":
                path = os.path.join(root, d)
                built[path] = os.stat(os.path.join(path, "_SUCCESS")).st_ino
            elif ".build-" in d:
                builds.append(d)
    return built, builds


def test_plain_catalog_write_is_searchable_at_once(spark, tmp_path):
    """There is no index to fall behind: a write through the plain
    catalog is found by the next indexed search, which builds postings
    only for the cells the write rewrote and reuses every other cell's
    sidecar as it is."""
    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    cat.upsert("a", ENTRY)
    cat.upsert("p", {**ENTRY, "isPublic": False, "title": "private widget"})
    assert _ids(catalog_hits(cat, _q("widget"))) == {"a"}
    before, _ = _sidecars(cat)
    assert len(before) == 2  # one per manifest cell

    cat.upsert("ghost", {**ENTRY, "title": "phantom widget"})
    assert _ids(catalog_hits(cat, _q("widget"))) == {"a", "ghost"}
    after, builds = _sidecars(cat)
    assert builds == []
    # the private cell was not rewritten: its sidecar is the same file
    kept = {p: ino for p, ino in before.items() if "isPublic=false" in p}
    assert kept and all(after[p] == ino for p, ino in kept.items())
    # the public cell's new owner got a new sidecar
    assert len(after) == 3


def test_streaming_ingest_keeps_search_in_sync(spark, tmp_path):
    """ES's streaming-ingest contract end-to-end: entries arriving on a
    stream land in the catalog via foreachBatch and are searchable as
    soon as their micro-batch commits."""
    import json as _json
    import os

    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))

    # JSONL drop directory as the stream source (the ingest shape a
    # catalog actually sees: files of entry payloads)
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    schema = "id string, title string, payload string"

    def write_file(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    write_file(
        "b0.jsonl",
        [
            {"id": "s1", "title": "streamed turbine stats", "payload": ""},
            {"id": "s2", "title": "streamed anemometer log", "payload": ""},
        ],
    )

    def ingest(batch_df, batch_id):
        for row in batch_df.collect():  # tiny control-plane batch
            cat.upsert(row.id, {**ENTRY, "title": row.title})

    stream = (
        spark.readStream.schema(schema).json(src)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert stream.awaitTermination(300)
    assert _ids(catalog_hits(cat, _q("turbine"))) == {"s1"}
    assert _ids(catalog_hits(cat, _q("anemometer"))) == {"s2"}

    # a second file = a later micro-batch; restart processes ONLY it
    write_file("b1.jsonl", [{"id": "s3", "title": "late gearbox report", "payload": ""}])
    stream = (
        spark.readStream.schema(schema).json(src)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert stream.awaitTermination(300)
    assert _ids(catalog_hits(cat, _q("gearbox"))) == {"s3"}
    # earlier docs still present and indexed exactly once
    assert cat.count() == 3
    cq = _q("streamed")
    assert [tuple(r) for r in catalog_hits(cat, cq).collect()] == [
        tuple(r) for r in search.hits(cat.df(), cq).collect()
    ]


def test_sidecar_build_crash_leaves_no_dir_and_next_read_rebuilds(
    spark, tmp_path, monkeypatch
):
    import os

    """A postings build that fails after its Spark write, before any
    cell's sidecar is published, leaves neither a ``_postings`` nor a
    build dir in any cell; the table stays readable, and the next indexed
    read builds the sidecars and equals the scan."""
    import pytest

    from data_catalog_spark import text_index

    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    cat.upsert("a", ENTRY)
    cat.upsert("b", {**ENTRY, "orgUUID": "org03", "title": "gyroscope data"})

    def crash(part, tmp):
        assert os.listdir(part)  # the cell's postings files were written
        raise OSError("simulated crash before the sidecar is published")

    with monkeypatch.context() as m:
        m.setattr(text_index, "_take_part", crash)
        with pytest.raises(OSError):
            catalog_hits(cat, _q("gyroscope"))
    assert _sidecars(cat) == ({}, [])
    assert cat.count() == 2 and cat.df().count() == 2

    for text in ("widget", "gyroscope", "metrics"):
        cq = _q(text)
        assert [tuple(r) for r in catalog_hits(cat, cq).collect()] == [
            tuple(r) for r in search.hits(cat.df(), cq).collect()
        ]
    built, builds = _sidecars(cat)
    assert len(built) == len(cat._manifest(cat._latest_version())) and builds == []


def test_point_in_time_search(spark, tmp_path):
    """Search at an older version replays the query against that
    snapshot, through the same cell sidecars: results reflect the table
    AS OF that version while current hits move on."""
    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))

    cat.upsert("a", ENTRY)  # v: widget titled 'a'
    v1 = max(cat.versions())
    cat.partial_update("a", {"title": "renamed sprocket metrics"})
    cat.upsert("b", {**ENTRY, "title": "widget two"})
    v2 = max(cat.versions())
    assert v2 > v1

    # current search: 'a' matches only via sourceUri; 'b' via title+uri
    assert _ids(catalog_hits(cat, _q("widget"))) == {"a", "b"}
    assert _ids(catalog_hits(cat, _q("sprocket"))) == {"a"}
    # as of v1: only 'a', under its ORIGINAL title; sprocket unknown
    at1 = catalog_hits(cat, _q("widget"), v1).collect()
    assert {r.id for r in at1} == {"a"}
    assert at1[0].title == "shiny widget metrics"
    assert _ids(catalog_hits(cat, _q("sprocket"), v1)) == set()
    # as of v2 == current
    assert _ids(catalog_hits(cat, _q("widget"), v2)) == {"a", "b"}
    # the old version was answered from its own cell's sidecar
    (owner,) = cat._manifest(v1).values()
    assert owner == v1 and any(
        f"v{v1:06d}" in p for p in _sidecars(cat)[0]
    )


BATCH_SCHEMA = (
    "id string, title string, category string, dataSample string, "
    "format string, recordCount bigint, size bigint, sourceUri string, "
    "targetUri string, isPublic boolean, orgUUID string, creationTime string"
)
BATCH_COLS = [f.split()[0] for f in BATCH_SCHEMA.split(", ")]


def _admin_q(text):
    return compile_query(
        {"query": text, "size": 100}, [], DataSetFiltering.PRIVATE_AND_PUBLIC, True
    )


def _assert_equals_scan(cat, queries, version):
    for cq in queries:
        want = [tuple(r) for r in search.hits(cat.df(version), cq).collect()]
        got = [tuple(r) for r in catalog_hits(cat, cq, version).collect()]
        assert got == want, (version, cq.text)


def test_cell_sidecars_random_ops_equal_scan(spark, tmp_path):
    """Property: after ANY sequence of catalog writes — upsert, partial
    update, delete, bulk upsert with a reject, the DataFrame lane, compact
    and vacuum — indexed hits equal the scan of the same version, at the
    latest version and at an earlier retained one.  Queries cover the
    short-title scan fallback, a title trigram probe, a dataSample token
    and a sourceUri token."""
    import random

    rng = random.Random(7)
    titles = ["amber", "bolt", "crate", "delta", "ember", "flux", "fly"]
    samples = ["north", "south", "east", "west"]
    hosts = ["alpha", "beta", "gamma"]
    queries = [_admin_q(t) for t in ("fl", "mbe", "south", "gamma")]
    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))

    def entry():
        return {
            **ENTRY,
            "title": " ".join(rng.choice(titles) for _ in range(rng.randint(1, 3))),
            "dataSample": ",".join(rng.sample(samples, 2)),
            "sourceUri": f"http://www.{rng.choice(hosts)}.com/x.csv",
            "orgUUID": rng.choice(["org01", "org02", "org03"]),
            "isPublic": rng.random() < 0.5,
        }

    def live():
        return sorted(r.id for r in cat.df().select("id").collect())

    def fresh_id():
        return str(rng.randrange(1000))

    def op_upsert():
        cat.upsert(fresh_id(), entry())

    def op_partial_update():
        cat.partial_update(rng.choice(live()), {"title": rng.choice(titles)})

    def op_delete():
        cat.delete(rng.choice(live()))

    def op_bulk_upsert():
        _, rejects = cat.bulk_upsert(
            [(fresh_id(), entry()), ("bad", {**entry(), "recordCount": "x"})],
            skip_invalid=True,
        )
        assert [r[0] for r in rejects] == ["bad"]

    def op_bulk_upsert_df():
        rows = [{**entry(), "id": i} for i in (fresh_id(), rng.choice(live()))]
        batch = spark.createDataFrame(
            [tuple(r[c] for c in BATCH_COLS) for r in rows], BATCH_SCHEMA
        )
        assert cat.bulk_upsert_df(batch)[1] == 0

    def op_compact():
        assert cat.compact(max_files_per_cell=0)["compacted_cells"] > 0

    def op_vacuum():
        cat.vacuum(keep_last=2)

    cat.bulk_upsert([(str(i), entry()) for i in range(6)])
    ops = [
        op_upsert, op_partial_update, op_delete, op_bulk_upsert,
        op_bulk_upsert_df, op_compact, op_vacuum,
    ]
    steps = ops + [rng.choice(ops) for _ in range(3)]
    rng.shuffle(steps)
    for op in steps:
        op()
        latest = cat._latest_version()
        earlier = max(v for v in cat.versions() if v < latest)
        _assert_equals_scan(cat, queries, latest)
        _assert_equals_scan(cat, queries, earlier)
    assert _sidecars(cat)[1] == []


def test_sidecar_is_invisible_to_data_reads(spark, tmp_path):
    """A built sidecar changes no data read: every cell keeps its serving
    key, the served snapshot is the same object and a forced rebuild
    reuses every cell, and ``df()``, ``_read_cell`` and Spark's own
    listing of a cell dir read the same rows as before."""
    import os

    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    cat.bulk_upsert(
        [
            (str(i), {**ENTRY, "orgUUID": f"org0{i % 3 + 1}", "isPublic": i % 2 == 0})
            for i in range(12)
        ]
    )
    manifest = cat._manifest(cat._latest_version())
    keys = {cell: cat._cell_key(owner, cell) for cell, owner in manifest.items()}
    cell_rows = {
        cell: cat._read_cell(cell, found)[0].to_pylist()
        for cell, (_, found) in keys.items()
    }
    df_rows = sorted(tuple(r) for r in cat.df().collect())
    snap = cat.snapshot()

    assert _ids(catalog_hits(cat, _q("widget"))) == {"0", "2", "4", "6", "8", "10"}
    built, _ = _sidecars(cat)
    assert len(built) == len(manifest) == 6

    assert {c: cat._cell_key(o, c)[0] for c, o in manifest.items()} == {
        c: k for c, (k, _) in keys.items()
    }
    assert cat.snapshot() is snap
    cat._slot.key = None  # force a rebuild: every cell must be reused

    def no_read(*a, **k):
        raise AssertionError("a cell was read again after its sidecar was built")

    cat._read_cell = no_read
    assert cat.snapshot().num_rows == 12
    del cat._read_cell
    for cell, (_, found) in keys.items():
        assert cat._read_cell(cell, found)[0].to_pylist() == cell_rows[cell]
    assert sorted(tuple(r) for r in cat.df().collect()) == df_rows
    assert not [f for f in cat.df().inputFiles() if "_postings" in f]
    for cell, owner in manifest.items():
        cell_dir = cat._cell_dir(owner, cell)
        assert os.path.isdir(os.path.join(cell_dir, "_postings"))
        assert spark.read.parquet(cell_dir).count() == len(cell_rows[cell])


def test_vacuum_beside_a_commit_keeps_current_cells(spark, tmp_path):
    """Three one-entry commits, then an empty next-version dir (a commit
    between its move and its manifest write), then ``vacuum(keep_last=1)``:
    the current version, the dir above it and every owner the current
    manifest names survive, with their sidecars, so the current version
    still reads and searches."""
    import os

    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    cat.upsert("a", ENTRY)
    cat.upsert("b", {**ENTRY, "isPublic": False, "title": "private widget"})
    cat.upsert("c", {**ENTRY, "orgUUID": "org03", "title": "third widget"})
    current = cat._latest_version()
    manifest = cat._manifest(current)
    assert len(set(manifest.values())) == 3  # three owners, one per commit
    assert _ids(catalog_hits(cat, _admin_q("widget"))) == {"a", "b", "c"}
    in_flight = cat._snapshot_dir(current + 1)
    os.makedirs(in_flight)

    removed = cat.vacuum(keep_last=1)
    assert removed and not set(removed) & (set(manifest.values()) | {current})
    assert os.path.isdir(in_flight)
    assert sorted(r.id for r in cat.df().collect()) == ["a", "b", "c"]
    for cell, owner in manifest.items():
        assert os.path.isdir(os.path.join(cat._cell_dir(owner, cell), "_postings"))
    _assert_equals_scan(cat, [_admin_q("widget"), _admin_q("third")], current)
    assert _ids(catalog_hits(cat, _admin_q("widget"))) == {"a", "b", "c"}
