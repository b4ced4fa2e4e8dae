"""Inverted text index: exact equivalence to the scan-based search path on
every text-bearing catalog case, candidate-superset property, short-query
fallback, the posting-probe plan shape, and the live catalog's per-cell
postings sidecars (built with no driver collect, under racing builders
and beside a crashed commit)."""

from __future__ import annotations

import pytest

from data_catalog_spark import search, text_index
from data_catalog_spark.datasets_source import datasets_df
from data_catalog_spark.entries import CATALOG_CASES
from data_catalog_spark.query import DataSetFiltering, compile_query

from conftest import assert_same

TEXT_CASES = [n for n, c in CATALOG_CASES.items() if c[0].get("query")]


@pytest.fixture(scope="module")
def index_path(spark, sf_dir, tmp_path_factory):
    ds = datasets_df(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("tix") / "postings")
    text_index.build_text_index(ds, path)
    return path


@pytest.mark.parametrize("case", TEXT_CASES)
def test_indexed_hits_equal_scan_hits(spark, sf_dir, index_path, case):
    """The index accelerates, never decides: bit-identical hits pages to
    the full-scan path on every text-bearing golden case (multi-clause,
    filtered, paginated)."""
    ds = datasets_df(spark, sf_dir)
    cq = compile_query(*CATALOG_CASES[case])
    want = [tuple(r) for r in search.hits(ds, cq).collect()]
    got = [tuple(r) for r in text_index.indexed_hits(spark, ds, index_path, cq).collect()]
    assert got == want


@pytest.mark.parametrize("case", TEXT_CASES)
def test_candidates_are_a_superset_of_matches(spark, sf_dir, index_path, case):
    """Losslessness: every doc the scan path's text disjunction matches is
    in the index's candidate set (the property that makes re-verification
    on candidates exact)."""
    from pyspark.sql import functions as F

    ds = datasets_df(spark, sf_dir)
    cq = compile_query(*CATALOG_CASES[case])
    disj = None
    for pred, _ in search.text_clause_columns(cq.text):
        disj = pred if disj is None else (disj | pred)
    matches = {r.id for r in ds.where(disj).select("id").collect()}
    cand = {
        r.id
        for r in text_index.text_candidates(spark, index_path, cq.text, ds).collect()
    }
    assert matches <= cand
    assert matches  # the golden cases all match something


def test_short_query_falls_back_to_scan_for_title(spark, sf_dir, index_path):
    """A sub-trigram probe can't use the title postings — the documented
    scan fallback keeps results identical anyway."""
    ds = datasets_df(spark, sf_dir)
    cq = compile_query({"query": "ro", "size": 25}, [], DataSetFiltering.ONLY_PUBLIC, False)
    want = [tuple(r) for r in search.hits(ds, cq).collect()]
    got = [tuple(r) for r in text_index.indexed_hits(spark, ds, index_path, cq).collect()]
    assert got == want
    assert want  # 'ro' appears inside 'rod' titles


def test_indexed_entry_matches_oracle(spark, sf_dir, ddb):
    from data_catalog_spark.entries import _indexed_text_search, catalog_oracles

    assert_same(
        _indexed_text_search(spark, sf_dir), ddb, catalog_oracles()["cat_text_search_indexed"]
    )


def test_stem_candidates_are_lossless(spark, sf_dir, index_path):
    """The title_stem family stores exactly the stemmed standard tokens,
    so the any-overlap posting probe returns precisely the stemmed-match
    answer set (unlike the trigram family's superset)."""
    from data_catalog_spark.entries import _stem_probe_terms, _stemmed_title_match_on

    ds = datasets_df(spark, sf_dir)
    matches = {r.id for r in _stemmed_title_match_on(spark, ds).select("id").collect()}
    cand = {
        r.id
        for r in text_index.stem_candidates(
            spark, index_path, _stem_probe_terms()
        ).collect()
    }
    assert matches == cand
    assert matches  # the plural probe matches singular corpus titles


def test_indexed_stemmed_title_equals_scan_and_oracle(spark, sf_dir, ddb):
    """Write-time stemming changes where the Porter chain is paid, never
    the result: identical rows to the scan path and to the shared DuckDB
    oracle."""
    from data_catalog_spark.entries import (
        _indexed_stemmed_title,
        _stemmed_title_match,
        catalog_oracles,
    )

    want = [tuple(r) for r in _stemmed_title_match(spark, sf_dir).collect()]
    got = [tuple(r) for r in _indexed_stemmed_title(spark, sf_dir).collect()]
    assert got == want
    assert want
    assert_same(
        _indexed_stemmed_title(spark, sf_dir),
        ddb,
        catalog_oracles()["cat_stemmed_title_indexed"],
    )


def test_stem_index_plan_probes_postings(spark, sf_dir):
    """Scale claim for the stem path, pinned on the plan: candidates reach
    the datasets scan as a LeftSemi join, and the postings scan carries
    the stemmed-term IN-list as a pushed data filter (plus partition
    pruning to the title_stem family dir)."""
    from data_catalog_spark.entries import _indexed_stemmed_title

    plan = (
        _indexed_stemmed_title(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    assert "gram" in plan and (" IN (" in plan or "EqualTo(gram" in plan or "In(gram" in plan)


def test_indexed_plan_probes_postings(spark, sf_dir, index_path):
    """Plan shape: candidates reach the datasets scan as a LeftSemi join,
    and the postings scan carries the gram IN-list as a pushed filter plus
    the field partition filter — the probe touches posting lists, not the
    corpus."""
    ds = datasets_df(spark, sf_dir)
    cq = compile_query(*CATALOG_CASES["cat_text_search"])
    plan = (
        text_index.indexed_hits(spark, ds, index_path, cq)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan
    # the gram probe reaches the postings scan as a pushed filter
    assert "EqualTo(gram," in plan or "In(gram," in plan
    assert "PartitionFilters" in plan


def test_randomized_corpus_equivalence(spark, tmp_path):
    """Seeded-random corpus + adversarial query mix (present tokens, absent
    tokens, substrings spanning token boundaries, punctuation, sub-trigram
    probes): the indexed path must equal the scan path on every one."""
    import random

    from pyspark.sql import Row

    from data_catalog_spark.schema import COLUMN_ORDER

    rng = random.Random(0xD1CE)
    words = ["amber", "bolt", "crate", "delta", "ember", "flux", "gear",
             "hinge", "ion", "jolt", "karst", "lumen", "widget", "rod"]
    rows = []
    for i in range(120):
        title = " ".join(rng.choice(words) for _ in range(rng.randint(1, 4)))
        sample = ",".join(rng.choice(words) for _ in range(rng.randint(1, 5)))
        uri = "http://www." + rng.choice(words) + ".com/" + rng.choice(words)
        base = {c: None for c in COLUMN_ORDER}
        base.update(
            id=str(i), title=title, dataSample=sample, sourceUri=uri,
            category="c", format="csv", recordCount=1, size=1,
            targetUri="hdfs://h:1/a/b/c", storeType="hdfs",
            isPublic=True, orgUUID="org01", creationTime="2014-01-01T00:00:00",
        )
        rows.append(Row(**{c: base[c] for c in COLUMN_ORDER}))
    from data_catalog_spark.schema import DATASETS_SCHEMA

    ds = spark.createDataFrame(rows, DATASETS_SCHEMA)
    path = str(tmp_path / "fuzz_postings")
    text_index.build_text_index(ds, path)
    queries = [
        "widget", "rod bolt", "zzz", "er", "flux.gear", "amber ember ion",
        "WIDGET", "lt", "ber cra", "om/wi", "ion jolt karst lumen widget",
    ]
    for q in queries:
        cq = compile_query({"query": q, "size": 50}, [], DataSetFiltering.ONLY_PUBLIC, False)
        want = [tuple(r) for r in search.hits(ds, cq).collect()]
        got = [tuple(r) for r in text_index.indexed_hits(spark, ds, path, cq).collect()]
        assert got == want, q


def test_short_titles_emit_no_junk_grams(spark, tmp_path):
    """Titles shorter than one trigram contribute NOTHING to the title
    postings (Spark's sequence(1, 0) is descending — unguarded it emits
    sub-length grams)."""
    from pyspark.sql import Row

    from data_catalog_spark.schema import COLUMN_ORDER, DATASETS_SCHEMA

    base = {c: None for c in COLUMN_ORDER}
    base.update(
        category="c", format="csv", recordCount=1, size=1,
        targetUri="hdfs://h:1/a/b/c", storeType="hdfs", isPublic=True,
        orgUUID="org01", creationTime="2014-01-01T00:00:00",
        dataSample="x", sourceUri="http://www.x.com/y",
    )
    rows = [
        Row(**{**base, "id": "1", "title": "ab"}),
        Row(**{**base, "id": "2", "title": ""}),
        Row(**{**base, "id": "3", "title": "abc"}),
    ]
    ds = spark.createDataFrame(
        [Row(**{c: r[c] for c in COLUMN_ORDER}) for r in rows], DATASETS_SCHEMA
    )
    path = str(tmp_path / "short_postings")
    text_index.build_text_index(ds, path)
    title_grams = (
        spark.read.parquet(path).where("field = 'title'").select("gram", "id").collect()
    )
    assert {(r.gram, r.id) for r in title_grams} == {("abc", "3")}


def test_materialization_path_tracks_source_content(tmp_path):
    """The write-once cache key must change when the source data is
    regenerated (mtime/size), not just when the path changes."""
    import os
    import time

    from data_catalog_spark.io import materialization_path

    src = tmp_path / "part.parquet"
    src.write_bytes(b"v1")
    p1 = materialization_path(str(tmp_path), "t", "part.parquet")
    assert materialization_path(str(tmp_path), "t", "part.parquet") == p1
    os.utime(src, (time.time() + 10, time.time() + 10))
    p2 = materialization_path(str(tmp_path), "t", "part.parquet")
    assert p2 != p1


def test_ensure_materialized_losing_builder_discards(tmp_path):
    import os

    from data_catalog_spark.io import ensure_materialized

    target = str(tmp_path / "mat")

    def build_v1(p):
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()
        open(os.path.join(p, "v1"), "w").close()

    def build_v2(p):
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()
        open(os.path.join(p, "v2"), "w").close()

    assert ensure_materialized(target, build_v1) == target
    assert os.path.exists(os.path.join(target, "v1"))
    # second build is a no-op (cached), not a rebuild
    assert ensure_materialized(target, build_v2) == target
    assert not os.path.exists(os.path.join(target, "v2"))
    # a builder racing an already-completed target discards its build dir
    # (simulated: target exists without having been seen at entry is the
    # same rename-fails path)
    def build_then_lose(p):
        build_v2(p)
        os.makedirs(target2)  # winner appears before our rename
        open(os.path.join(target2, "_SUCCESS"), "w").close()

    target2 = str(tmp_path / "mat2")
    assert ensure_materialized(target2, build_then_lose) == target2
    assert not os.path.exists(os.path.join(target2, "v2"))  # loser discarded
    leftovers = [d for d in os.listdir(tmp_path) if ".build-" in d]
    assert leftovers == []


def test_ensure_materialized_build_failure_cleans_and_raises(tmp_path):
    import os

    from data_catalog_spark.io import ensure_materialized

    target = str(tmp_path / "failmat")

    def bad_build(p):
        os.makedirs(p)
        raise RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        ensure_materialized(target, bad_build)
    assert not os.path.exists(target)
    assert [d for d in os.listdir(tmp_path) if ".build-" in d] == []


# -- the live catalog's per-cell sidecars ---------------------------------------

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


def _entry(i):
    return {
        **ENTRY,
        "title": f"widget {i} report",
        "orgUUID": f"org0{i % 3 + 1}",
        "isPublic": i % 2 == 0,
    }


def _widget_query():
    return compile_query(
        {"query": "widget", "size": 100}, [], DataSetFiltering.PRIVATE_AND_PUBLIC, True
    )


def _assert_indexed_equals_scan(cat, version=None):
    cq = _widget_query()
    want = [tuple(r) for r in search.hits(cat.df(version), cq).collect()]
    got = [tuple(r) for r in text_index.catalog_hits(cat, cq, version).collect()]
    assert got == want and want


def _build_dirs(root):
    import os

    return [d for _, dirs, _ in os.walk(root) for d in dirs if ".build-" in d]


def test_rebuild_and_compact_never_collect(spark, tmp_path, monkeypatch):
    """Building a version's cell sidecars, and compacting the catalog
    whose new cells then need them, materialize no rows on the driver:
    DataFrame.collect is forbidden for the duration of both."""
    from data_catalog_spark.catalog import DatasetsCatalog

    cat = DatasetsCatalog(spark, str(tmp_path / "tbl"))
    cat.bulk_upsert([(str(i), _entry(i)) for i in range(20)])

    def _boom(self, *a, **k):
        raise AssertionError("driver-side collect during a sidecar build/compact")

    with monkeypatch.context() as m:
        m.setattr(type(cat.df()), "collect", _boom)
        text_index.cell_postings(cat, cat._latest_version())
        assert cat.compact(max_files_per_cell=0)["compacted_cells"] == 6
        text_index.cell_postings(cat, cat._latest_version())
    _assert_indexed_equals_scan(cat)


def test_concurrent_upserts_do_not_collide(spark, tmp_path):
    """Concurrent writers, then concurrent first readers: four threads
    upsert through their own catalog handles (a lost commit race retries
    on the new base), then four threads search the same version at once,
    racing to build each cell's missing sidecar.  Every write lands, one
    build per cell is published, no build dir is left, and indexed hits
    equal the scan."""
    from concurrent.futures import ThreadPoolExecutor

    from data_catalog_spark.catalog import DatasetsCatalog

    path = str(tmp_path / "conc")
    cat = DatasetsCatalog(spark, path)
    cat.bulk_upsert([(str(i), _entry(i)) for i in range(8)])

    def writer(k):
        DatasetsCatalog(spark, path).upsert(f"t{k}", _entry(k))

    def reader(_):
        cq = _widget_query()
        hits = text_index.catalog_hits(DatasetsCatalog(spark, path), cq)
        return sorted(r.id for r in hits.collect())

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(writer, range(4)))
        answers = list(ex.map(reader, range(4)))
    assert cat.count() == 12
    assert answers == [sorted([str(i) for i in range(8)] + [f"t{k}" for k in range(4)])] * 4
    assert _build_dirs(path) == []
    _assert_indexed_equals_scan(cat)


def test_crash_before_manifest_swap_leaves_index_readable(spark, tmp_path, monkeypatch):
    """The catalog's manifest write and VERSION repoint are the index's
    only commit: a commit that crashes after moving its snapshot dir but
    before writing its manifest leaves the previous version readable and
    searchable, the orphan dir gets no sidecar, and the next commit
    succeeds and is searchable at once."""
    import json
    import os

    import pytest

    from data_catalog_spark.catalog import DatasetsCatalog

    cat = DatasetsCatalog(spark, str(tmp_path / "crash"))
    cat.bulk_upsert([(str(i), _entry(i)) for i in range(6)])
    _assert_indexed_equals_scan(cat)
    before = cat._latest_version()

    def crash(*a, **k):
        raise OSError("simulated crash before the manifest write")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", crash)
        with pytest.raises(OSError):
            cat.upsert("new", _entry(6))
    orphan = cat._snapshot_dir(before + 1)
    assert cat._latest_version() == before and os.path.isdir(orphan)
    _assert_indexed_equals_scan(cat)
    assert "new" not in {r.id for r in cat.df().collect()}
    assert not [d for _, dirs, _ in os.walk(orphan) for d in dirs if d == "_postings"]

    cat.upsert("new", _entry(6))
    assert "new" in {
        r.id for r in text_index.catalog_hits(cat, _widget_query()).collect()
    }
    _assert_indexed_equals_scan(cat)
