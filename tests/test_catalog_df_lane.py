"""DataFrame-native bulk-upsert lane (catalog.bulk_upsert_df) — the
streaming foreachBatch write path: column-predicate validation parity with
schema.validate_entry, counted rejects, last-write-wins, read-your-writes,
and schema-level errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_catalog_spark.catalog import DatasetsCatalog
from data_catalog_spark.errors import InvalidEntryError
from data_catalog_spark.schema import validate_target_uri
from data_catalog_spark.text_index import catalog_hits

STREAM_SCHEMA = (
    "id string, title string, category string, dataSample string, "
    "format string, recordCount bigint, size bigint, sourceUri string, "
    "targetUri string, isPublic boolean, orgUUID string, creationTime string"
)
COLS = [
    "id", "title", "category", "dataSample", "format", "recordCount",
    "size", "sourceUri", "targetUri", "isPublic", "orgUUID", "creationTime",
]

ROW = {
    "id": "e1",
    "title": "a great title",
    "category": "health",
    "dataSample": "some sample",
    "format": "csv",
    "recordCount": 13,
    "size": 99999,
    "sourceUri": "some uri",
    "targetUri": "hdfs://6.6.6.6:8200/borker/hash/9213/00000_1",
    "isPublic": True,
    "orgUUID": "org02",
    "creationTime": "2015-02-13T13:00:00",
}


def _df(spark, rows):
    return spark.createDataFrame(
        [tuple(r.get(c) for c in COLS) for r in rows], STREAM_SCHEMA
    )


@pytest.fixture()
def cat(spark, tmp_path):
    c = DatasetsCatalog(spark, str(tmp_path / "datasets"))
    c.create_if_not_exists()
    return c


def test_merge_and_read_your_writes(spark, cat):
    n_ok, n_rej = cat.bulk_upsert_df(_df(spark, [ROW, {**ROW, "id": "e2"}]))
    assert (n_ok, n_rej) == (2, 0)
    assert cat.count() == 2
    got = cat.get("e1")
    assert got["title"] == ROW["title"]
    assert got["storeType"] is None  # not writable through ingest


def test_replaces_existing_whole_row(spark, cat):
    cat.bulk_upsert_df(_df(spark, [ROW]))
    n_ok, n_rej = cat.bulk_upsert_df(
        _df(spark, [{**ROW, "title": "replaced"}])
    )
    assert (n_ok, n_rej) == (1, 0)
    assert cat.count() == 1
    assert cat.get("e1")["title"] == "replaced"


def test_invalid_rows_counted_not_merged(spark, cat):
    rows = [
        ROW,
        {**ROW, "id": "bad1", "title": None},  # missing required
        {**ROW, "id": "bad2", "targetUri": "some_path"},  # no scheme
    ]
    n_ok, n_rej = cat.bulk_upsert_df(_df(spark, rows))
    assert (n_ok, n_rej) == (1, 2)
    assert {r["id"] for r in cat.df().select("id").collect()} == {"e1"}


def test_last_write_wins_within_batch(spark, cat):
    rows = [{**ROW, "title": f"v{i}"} for i in range(5)]
    n_ok, n_rej = cat.bulk_upsert_df(_df(spark, rows))
    assert (n_ok, n_rej) == (5, 0)  # row counts, like the sequential indexer
    assert cat.count() == 1
    assert cat.get("e1")["title"] == "v4"


def test_creation_time_defaulted(spark, cat):
    cat.bulk_upsert_df(
        _df(spark, [{**ROW, "creationTime": None},
                    {**ROW, "id": "e2", "creationTime": ""}])
    )
    for eid in ("e1", "e2"):
        ct = cat.get(eid)["creationTime"]
        assert ct and ct.startswith("20")  # ISO now() stamp


def test_creation_time_column_may_be_absent(spark, cat):
    """creationTime is the one optional writable field — a batch may omit
    the whole COLUMN, not just carry NULLs (transform_entry's missing-key
    case)."""
    assert cat.bulk_upsert_df(_df(spark, [ROW]).drop("creationTime")) == (1, 0)
    ct = cat.get("e1")["creationTime"]
    assert ct and ct.startswith("20")


def test_unknown_column_rejected(spark, cat):
    bad = _df(spark, [ROW]).withColumn("nosuchfield", F.lit(1))
    with pytest.raises(InvalidEntryError, match="unknown field"):
        cat.bulk_upsert_df(bad)


def test_missing_column_rejected(spark, cat):
    bad = _df(spark, [ROW]).drop("title")
    with pytest.raises(InvalidEntryError, match="missing required"):
        cat.bulk_upsert_df(bad)


def test_mistyped_column_rejected(spark, cat):
    bad = _df(spark, [ROW]).withColumn(
        "recordCount", F.col("recordCount").cast("string")
    )
    with pytest.raises(InvalidEntryError, match="recordCount"):
        cat.bulk_upsert_df(bad)


def test_null_id_row_is_rejected_not_merged(spark, cat):
    """A record missing its id is a REJECT: a committed NULL-id row would
    be unreachable (id joins never match NULL) and undeletable, and would
    surface as a phantom insert+delete pair in every diff()."""
    null_id = {**ROW, "id": None}
    assert cat.bulk_upsert_df(_df(spark, [ROW, null_id])) == (1, 1)
    ids = [r["id"] for r in cat.df().select("id").collect()]
    assert ids == ["e1"]  # the NULL-id row never reached the table


def test_integral_widening_allowed(spark, cat):
    ok = _df(spark, [ROW]).withColumn(
        "recordCount", F.col("recordCount").cast("int")
    )
    assert cat.bulk_upsert_df(ok) == (1, 0)
    assert cat.get("e1")["recordCount"] == 13


# urlparse-equivalence of the column-predicate targetUri rule: the regex
# lane must agree with schema.validate_target_uri (the python/Cerberus
# twin) on every shape the reference's tests exercise plus the parser
# corner cases found probing urlparse.
URI_CASES = [
    "hdfs://6.6.6.6:8200/borker/hash/9213/00000_1",
    "http://www.catalog.com/a",
    "//onet.pl/",
    "hdfs://onet.pl/",
    "http://",
    "some_path",
    "a:b/c",
    "host:80",
    "foo:123",
    "file:relative/path",
    "hdfs://x/y?q=1#frag",
    "hdfs://x/?only=query",
    "s3a://bucket/key",
    "1http://bad.scheme/x",
    "sch+me.v2://h/p",
    ":no-scheme/path",
    "scheme:/x",
    "scheme:#frag",
    # urlparse params split: uses_params schemes drop ';...' from the
    # LAST path segment before the path check; others keep it
    "http://host/;a",  # path '/' after split → invalid
    "HTTP://host/;a",  # scheme lowercased before the uses_params lookup
    "hdfs://host/;a",  # hdfs not in uses_params → path '/;a' → valid
    "http://host/a;p/b",  # ';' not in last segment → untouched, valid
    "http://host/x;p",  # split leaves '/x' → still valid
    "sip:x;y",  # no '/', split from first ';' → path 'x' → valid
    "mailto:a",  # single-char path: truthy and != '/' → valid
    "tel:;ext=1",  # split leaves '' → invalid
]


def test_uri_predicate_matches_python_validator(spark, cat):
    rows = [
        {**ROW, "id": f"u{i}", "targetUri": u} for i, u in enumerate(URI_CASES)
    ]
    n_ok, n_rej = cat.bulk_upsert_df(_df(spark, rows))
    expected_ok = {
        f"u{i}" for i, u in enumerate(URI_CASES) if validate_target_uri(u)
    }
    assert n_ok == len(expected_ok)
    assert n_rej == len(URI_CASES) - len(expected_ok)
    got = {r["id"] for r in cat.df().select("id").collect()}
    assert got == expected_ok


def test_indexed_bulk_upsert_df_searchable(spark, cat):
    marker_row = {**ROW, "title": "zanzibar quarterly report"}
    n_ok, n_rej = cat.bulk_upsert_df(_df(spark, [marker_row]))
    assert (n_ok, n_rej) == (1, 0)
    from data_catalog_spark.query import DataSetFiltering, compile_query

    cq = compile_query(
        {"query": "zanzibar", "size": 10}, [], DataSetFiltering.ONLY_PUBLIC, False
    )
    hits = catalog_hits(cat, cq).collect()
    assert [h["id"] for h in hits] == ["e1"]


def test_uri_predicate_fuzz_matches_python_validator(spark):
    """500 seeded pseudo-random URI-ish strings through BOTH lanes in one
    batch: the column predicate must agree with schema.validate_target_uri
    on every one.  Alphabet excludes '[' / ']' — urlparse raises ValueError
    on malformed IPv6 brackets (so does the reference's py2 urlparse:
    metadata_entry.py:82-86 would 500 the same way), which is outside the
    validator's boolean contract on both sides."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260815)
    alphabet = "abcXZ019:/?#.+-_~%@; "
    uris = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        for _ in range(420)
    ] + [
        "h:" + "".join(rng.choice("/ax?#") for _ in range(rng.randint(0, 6)))
        for _ in range(40)
    ] + [
        # concentrated params-split pressure: uses_params and not
        scheme + "".join(rng.choice("/a;x") for _ in range(rng.randint(0, 8)))
        for scheme in ("http:", "hdfs:", "sip:", "tel:", "s3a:")
        for _ in range(8)
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(uris)], "i int, targetUri string"
    )
    got = {
        r["i"]: bool(r["ok"])
        for r in df.select(
            "i", DatasetsCatalog._uri_ok_expr().alias("ok")
        ).collect()
    }
    for i, u in enumerate(uris):
        assert got[i] == validate_target_uri(u), (
            f"lane disagreement on {u!r}: spark={got[i]}"
        )


def test_uses_params_list_pinned_to_stdlib():
    """The frozen scheme list in the column predicate must track the
    stdlib list urlparse actually consults (minus the '' relative
    entry); a Python upgrade that changes uses_params fails here."""
    from urllib.parse import uses_params

    assert set(DatasetsCatalog._USES_PARAMS) == set(uses_params) - {""}
