"""Streaming ingest → searchable index, end-to-end (the ES write path).

The catalog's text index is derived from its own committed cells: each
cell's postings sidecar is built on the first indexed read that needs it
(text_index.catalog_hits), so search can never lag a commit.  This module
registers the full write-path pipeline as a benchmarked, oracle-checked
query so its cost is tracked round-over-round like the read path:

1. seed a fresh catalog with a deterministic slice of the derived
   ``datasets`` corpus and build every seed cell's sidecar — built ONCE
   per sf_dir content under the io.materialization_path cache and linked
   into each run's scratch dir, so the measured cost is the write path,
   not the fixed scaffolding,
2. replay one micro-batch of NEW entries from a JSONL drop directory
   through ``foreachBatch`` → ``DatasetsCatalog.bulk_upsert_df`` (the
   DataFrame-native merge: validation as column predicates, rejects
   counted, no driver materialization of the batch),
3. run an indexed search for a marker token only the streamed entries
   contain and return the hits page; it builds the sidecars of the cells
   the batch rewrote.

The DuckDB oracle reuses the sqlgen machinery: the expected table is the
same seed CTE UNION ALL the planted rows as literals, compiled through
``sqlgen.hits_sql`` — one semantic definition for batch search, indexed
search, and the streamed end-state (reference parity:
elastic_search.py's index-on-write contract).

Scale: the seed is a FIXED 512 entries at every SF — this query measures
the per-micro-batch write cost (validation, merge commit, postings of the
touched cells, postings probe), which at deployment is independent of
corpus size by design (merge plans are batch-bounded,
catalog.py:bulk_upsert_df; a commit rewrites, and a read then indexes,
only the cells the batch touched, text_index.cell_postings).  The
foreachBatch body never collects the batch: validation, merge and
indexing stay DataFrame plans end to end."""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from ..catalog import DatasetsCatalog
from ..datasets_source import DATASETS_FROM_PART_SQL, datasets_df
from ..io import ensure_materialized, link_tree, materialization_path
from ..operators.registry import register
from ..query import DataSetFiltering, compile_query
from ..query import sqlgen
from ..schema import COLUMN_ORDER
from ..text_index import catalog_hits, cell_postings

SEED_N = 512
BATCH_N = 64
MARKER = "galvanometer"  # absent from the TPC-H p_name vocabulary

_STREAM_SCHEMA = (
    "id string, title string, category string, dataSample string, "
    "format string, recordCount bigint, size bigint, sourceUri string, "
    "targetUri string, isPublic boolean, "
    "orgUUID string, creationTime string"
)


def _planted_rows() -> list[dict]:
    rows = []
    for i in range(BATCH_N):
        rows.append(
            {
                "id": f"stream-{i:02d}",
                "title": f"{MARKER} drift report {i:02d}",
                "category": "instruments",
                "dataSample": "id,reading,unit",
                "format": "csv" if i % 2 == 0 else "json",
                "recordCount": 100 + i,
                "size": 2048 + i,
                "sourceUri": f"http://www.catalog.com/{MARKER}/{i:02d}",
                "targetUri": (
                    f"hdfs://namenode:8200/warehouse/instruments/"
                    f"stream-{i:02d}/000000_1"
                ),
                "isPublic": i % 2 == 0,
                "orgUUID": f"org0{i % 3 + 1}",
                "creationTime": f"2015-03-{i % 28 + 1:02d}T{i % 24:02d}:00:00",
            }
        )
    return rows


def _entry_of(row: dict) -> dict:
    """Catalog entry body: the FILTERABLE fields only — id is the key and
    storeType is NOT an entry-body field (the reference's Cerberus schema
    rejects unknown keys; transform_entry defaults storeType to NULL), so
    every catalog-resident row carries storeType NULL regardless of what
    the derived fixture shows."""
    return {
        k: v
        for k, v in row.items()
        if k not in ("id", "storeType") and v is not None
    }


def _search_cq():
    return compile_query(
        {"query": MARKER, "size": 100}, [], DataSetFiltering.ONLY_PUBLIC, False
    )


# Scratch dirs of the PREVIOUS invocation, reclaimed on the next call (the
# returned hits page lazily reads the catalog table and its postings
# sidecars, so they must outlive the call itself — but a benchmark loop
# must not leak one table+checkpoint set per iteration) and swept at
# interpreter exit so the FINAL invocation's dirs don't outlive the process.  Serial
# invocation within one process is assumed — the same contract as the
# catalog's per-path mutation lock.
_PREV_RUN_DIRS: list[str] = []
atexit.register(
    lambda: [shutil.rmtree(d, ignore_errors=True) for d in _PREV_RUN_DIRS]
)


def _seed_cache(spark: SparkSession, sf_dir: str) -> str:
    """Build the 512-entry seeded catalog, with every cell's postings
    sidecar, ONCE per sf_dir content (io.materialization_path keys on the
    part.parquet stat, the datasets corpus' source) and cache it; each
    query invocation links the finished table instead of re-deriving and
    re-indexing the seed, so the benchmarked cost is the micro-batch write
    path."""
    # "-l2": seed layout version — bumped when the cached layout changes
    # (l1: cell-bin-packed commits; l2: postings sidecars inside the cells
    # instead of a separate index/ tree), so a stale seed artifact is
    # rebuilt instead of being linked forward forever
    path = materialization_path(
        sf_dir, f"ingest-seed-{SEED_N}-l2", "part.parquet"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        cat = DatasetsCatalog(spark, os.path.join(tmp, "table"))
        seed = [
            (r["id"], _entry_of(r))
            for r in (
                d.asDict()
                for d in datasets_df(spark, sf_dir)
                .where(f"CAST(id AS BIGINT) <= {SEED_N}")
                .collect()
            )
        ]
        cat.bulk_upsert(seed)
        cell_postings(cat, cat._latest_version())
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(path, build)


def stream_ingest_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    tbl = tempfile.mkdtemp(prefix="ingest-tbl-")
    src = tempfile.mkdtemp(prefix="ingest-src-")
    ckpt = tempfile.mkdtemp(prefix="ingest-ckpt-")
    _PREV_RUN_DIRS.extend([tbl, src, ckpt])

    seeded = _seed_cache(spark, sf_dir)
    link_tree(os.path.join(seeded, "table"), tbl)
    cat = DatasetsCatalog(spark, tbl)

    with open(os.path.join(src, "batch-0.jsonl"), "w") as f:
        for row in _planted_rows():
            f.write(json.dumps(row) + "\n")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        cat.bulk_upsert_df(batch_df)

    q = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .json(src)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog_hits(cat, _search_cq())


def _ingest_oracle() -> str:
    def lit(v) -> str:
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        return "'" + str(v).replace("'", "''") + "'"

    values = ",\n    ".join(
        "(" + ", ".join(lit(r.get(c)) for c in COLUMN_ORDER) + ")"
        for r in _planted_rows()
    )
    cols = ", ".join(COLUMN_ORDER)
    seed = f"{DATASETS_FROM_PART_SQL} WHERE p_partkey <= {SEED_N}"
    return (
        f"WITH datasets AS ({seed} UNION ALL "
        f"SELECT * FROM (VALUES\n    {values}\n) AS t({cols})) "
        f"{sqlgen.hits_sql(_search_cq())}"
    )


register(
    "stream_ingest_indexed_search",
    stream_ingest_indexed_search,
    _ingest_oracle(),
)


# -- ingest with a dirty batch: the reject lane, end to end ---------------------
#
# The admin bulk load's skip-invalid contract (elastic_admin.py:54-83)
# exercised through the STREAMING DataFrame lane: a micro-batch with
# planted invalid rows (missing required fields, malformed targetUri)
# flows through foreachBatch → bulk_upsert_df; the registered output is
# each planted row's observable disposition (merged into the catalog vs
# rejected by the column-predicate validator).  The oracle replays the
# same validation rules in DuckDB SQL over the planted literals — the
# cross-engine pin for the validation predicates themselves; the Spark
# side additionally proves the rejected rows never reach the committed
# table (the status is read back from the post-merge catalog, not from
# the validator).

# the WHATWG cleanup first, matching catalog._uri_ok_expr / py3 urlsplit
_DUCK_URI_CLEAN = (
    "regexp_replace(regexp_replace(targetUri, '[\\t\\n\\r]', '', 'g'), "
    "'^[\\x00-\\x20]+|[\\x00-\\x20]+$', '', 'g')"
)
# urlparse's params split, replicated like catalog._uri_ok_expr: for
# uses_params schemes, ';...' leaves the LAST path segment before the
# reference's path-truthiness check (metadata_entry.py:82-86).
_DUCK_URI_SCHEME = (
    f"lower(regexp_extract({_DUCK_URI_CLEAN}, "
    "'^([A-Za-z][A-Za-z0-9+.\\-]*):', 1))"
)
_DUCK_URI_RAWPATH = (
    f"regexp_extract({_DUCK_URI_CLEAN}, "
    "'^[A-Za-z][A-Za-z0-9+.\\-]*:(//[^/?#]*)?([^?#]*)', 2)"
)
_DUCK_USES_PARAMS = (
    "('ftp','hdl','prospero','http','imap','https','shttp','rtsp',"
    "'rtsps','rtspu','sip','sips','mms','sftp','tel')"
)
_DUCK_URI_PATH = (
    f"CASE WHEN {_DUCK_URI_SCHEME} IN {_DUCK_USES_PARAMS} "
    f"THEN regexp_replace({_DUCK_URI_RAWPATH}, ';[^/]*$', '') "
    f"ELSE {_DUCK_URI_RAWPATH} END"
)
_DUCK_URI_OK = (
    f"regexp_matches({_DUCK_URI_CLEAN}, '^[A-Za-z][A-Za-z0-9+.\\-]*:') AND "
    f"{_DUCK_URI_PATH} <> '' AND {_DUCK_URI_PATH} <> '/'"
)


def _dirty_rows() -> list[dict]:
    """BATCH_N planted rows, every other one invalid for a rotating
    reason (bad targetUri shapes / a NULL required field)."""
    rows = []
    for i in range(BATCH_N):
        row = {
            "id": f"dirty-{i:02d}",
            "title": f"ingest reject probe {i:02d}",
            "category": ["instruments", "health", "transport"][i % 3],
            "dataSample": "id,reading,unit",
            "format": "csv" if i % 2 == 0 else "json",
            "recordCount": 100 + i,
            "size": 2048 + i,
            "sourceUri": f"http://www.catalog.com/dirty/{i:02d}",
            "targetUri": f"hdfs://namenode:8200/warehouse/dirty/{i:02d}/0",
            "isPublic": i % 2 == 0,
            "orgUUID": f"org0{i % 3 + 1}",
            "creationTime": f"2015-04-{i % 28 + 1:02d}T{i % 24:02d}:00:00",
        }
        if i % 4 == 1:  # malformed targetUri, rotating shape
            row["targetUri"] = [
                "some_path", "http://", "hdfs://onet.pl/", "//host/p"
            ][(i // 4) % 4]
        elif i % 4 == 3:  # a required field NULL, rotating field
            row[["title", "orgUUID", "format", "sourceUri"][(i // 4) % 4]] = None
        rows.append(row)
    # urlparse edge pins — params split is scheme-conditional, and a
    # missing id is a reject (not an unreachable NULL-id phantom row):
    base = dict(rows[0])
    for suffix, overrides in [
        ("id-null", {"id": None}),  # rejected: id required in the DF lane
        # rejected: http is uses_params, ';a' leaves the last segment → '/'
        ("params-http", {"targetUri": "http://host/;a"}),
        # merged: hdfs is NOT uses_params, path stays '/;a'
        ("params-hdfs", {"targetUri": "hdfs://host/;a"}),
        # merged: single-char path is truthy and != '/'
        ("short-path", {"targetUri": "mailto:a"}),
    ]:
        row = dict(base, **overrides)
        if row.get("id") is not None:
            row["id"] = f"dirty-{suffix}"
        rows.append(row)
    return rows


def stream_ingest_rejects(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    tbl = tempfile.mkdtemp(prefix="ingest-rej-tbl-")
    src = tempfile.mkdtemp(prefix="ingest-rej-src-")
    ckpt = tempfile.mkdtemp(prefix="ingest-rej-ckpt-")
    _PREV_RUN_DIRS.extend([tbl, src, ckpt])

    seeded = _seed_cache(spark, sf_dir)
    link_tree(os.path.join(seeded, "table"), tbl)
    # no search: this query's contract is the VALIDATION lane + merge
    # visibility; the indexed-search write path is the separately
    # benchmarked stream_ingest_indexed_search
    cat = DatasetsCatalog(spark, tbl)

    with open(os.path.join(src, "batch-0.jsonl"), "w") as f:
        for row in _dirty_rows():
            f.write(json.dumps(row) + "\n")

    q = (
        spark.readStream.schema(_STREAM_SCHEMA)
        .json(src)
        .writeStream.foreachBatch(
            lambda batch_df, batch_id: cat.bulk_upsert_df(batch_df)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # VALUES literal, not createDataFrame(list): a pickled local relation
    # re-runs a Python-worker scan on every action over the returned frame
    planted = spark.sql(
        "SELECT id FROM (VALUES "
        + ", ".join(
            "(CAST(NULL AS STRING))" if r["id"] is None else f"('{r['id']}')"
            for r in _dirty_rows()
        )
        + ") AS t(id)"
    )
    merged_ids = cat.df().select("id")
    return (
        planted.join(
            merged_ids.withColumn("__in", F.lit(True)), "id", "left"
        )
        .select(
            "id",
            F.when(F.col("__in").isNotNull(), F.lit("merged"))
            .otherwise(F.lit("rejected"))
            .alias("status"),
        )
        .orderBy("id")
    )


def _rejects_oracle() -> str:
    def lit(v) -> str:
        if v is None:
            return "CAST(NULL AS VARCHAR)"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        return "'" + str(v).replace("'", "''") + "'"

    values = ",\n    ".join(
        "(" + ", ".join(lit(r.get(c)) for c in COLUMN_ORDER) + ")"
        for r in _dirty_rows()
    )
    cols = ", ".join(COLUMN_ORDER)
    required = [
        "id",  # DF-lane extra: a NULL id would be an unreachable row
        "title", "category", "dataSample", "format", "recordCount",
        "size", "sourceUri", "targetUri", "isPublic", "orgUUID",
    ]
    req = " AND ".join(f"{c} IS NOT NULL" for c in required)
    return f"""
WITH planted({cols}) AS (VALUES
    {values})
SELECT id,
       CASE WHEN {req} AND {_DUCK_URI_OK}
            THEN 'merged' ELSE 'rejected' END AS status
FROM planted ORDER BY id
"""


register("stream_ingest_rejects", stream_ingest_rejects, _rejects_oracle())
