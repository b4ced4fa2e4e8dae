"""Change-data-capture over the versioned catalog as a registered,
oracle-checked query.

``DatasetsCatalog.diff`` (catalog.py:423) is the Delta-CDF-shaped read —
full-outer join of two snapshots on id with a whole-row fingerprint —
but until now it was pinned by pytest only.  This query runs the whole
lifecycle end to end: copy the cached 512-entry seed, apply one
DataFrame-native micro-batch (8 genuine updates via an uppercased title,
1 byte-identical no-op re-upsert, 8 inserts) plus 1 delete, then return
``diff(v_seed)``.  The no-op row is the sharp edge: it re-commits the
identical row and must be ABSENT from the diff (fingerprint equality),
which a naive "everything in the batch is a change" implementation gets
wrong.

The DuckDB oracle derives the expected change set from the same derived
``datasets`` corpus, not from literals: an id planted for update appears
iff uppercasing its title actually changes it (title <> upper(title)),
exactly the engine's fingerprint semantics for a single-column rewrite.

Scale: the applied batch is bounded (17 rows) by construction; diff
itself is two snapshot scans + one full-outer join on id — a plain
distributed plan with no driver materialization (catalog.py:423-438).

Reference parity: the reference has no CDC surface; this is engine
infrastructure the 100 TB training-data pipeline needs (what changed
since the last crawl snapshot feeds the incremental dedup arms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import DatasetsCatalog
from ..datasets_source import DATASETS_FROM_PART_SQL
from ..query import DataSetFiltering, compile_query, sqlgen
from ..schema import COLUMN_ORDER
from .registry import register

CDC_UPD = [str(i) for i in range(1, 9)]  # planted title rewrite
CDC_NOOP = "9"  # re-upserted byte-identical — must NOT appear in the diff
CDC_DEL = "10"
CDC_INS = [f"cdc-{i:02d}" for i in range(8)]

_BATCH_COLS = [c for c in COLUMN_ORDER if c != "storeType"]


def _insert_row(i: int) -> dict:
    return {
        "id": CDC_INS[i],
        "title": f"cdc planted insert {i:02d}",
        "category": "instruments",
        "dataSample": "id,reading,unit",
        "format": "csv",
        "recordCount": 100 + i,
        "size": 2048 + i,
        "sourceUri": f"http://www.catalog.com/cdc/{i:02d}",
        "targetUri": f"hdfs://namenode:8200/warehouse/cdc/{i:02d}/0",
        "isPublic": i % 2 == 0,
        "orgUUID": f"org0{i % 3 + 1}",
        "creationTime": f"2015-05-{i + 1:02d}T00:00:00",
    }


def _apply_cdc_batch(
    spark: SparkSession, sf_dir: str
) -> tuple[DatasetsCatalog, int]:
    """Copy the cached seed into scratch, apply the planted batch (8
    updates, the no-op, 8 inserts) and the delete; return the catalog and
    the PRE-batch version — shared by the diff and time-travel queries."""
    import os
    import shutil
    import tempfile

    from ..streaming.ingest import _PREV_RUN_DIRS, _seed_cache

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    tbl = tempfile.mkdtemp(prefix="cdc-tbl-")
    _PREV_RUN_DIRS.append(tbl)
    from ..io import link_tree

    link_tree(os.path.join(_seed_cache(spark, sf_dir), "table"), tbl)
    cat = DatasetsCatalog(spark, tbl)
    v0 = cat._latest_version()

    # bounded collect: the 9 touched seed rows (update set + the no-op)
    seed_rows = {
        r["id"]: r.asDict()
        for r in cat.df().where(F.col("id").isin(CDC_UPD + [CDC_NOOP])).collect()
    }
    batch = []
    for rid in CDC_UPD + [CDC_NOOP]:
        d = dict(seed_rows[rid])
        if rid in CDC_UPD:
            d["title"] = d["title"].upper()
        batch.append(d)
    batch.extend(_insert_row(i) for i in range(len(CDC_INS)))
    # JVM-local VALUES relation, not createDataFrame(list-of-rows): the
    # latter parallelizes PICKLED rows, and every downstream action re-runs
    # a Python-worker scan over them (guide §4 — measured ~1.5 s per agg
    # for a 17-row frame before the lazy checkpoint materializes).  A SQL
    # literal analyzes once and never touches a Python worker.
    types = {"recordCount": "BIGINT", "size": "BIGINT", "isPublic": "BOOLEAN"}

    def lit(v, c: str) -> str:
        t = types.get(c, "STRING")
        if v is None:
            return f"CAST(NULL AS {t})"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f"CAST({v} AS BIGINT)"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    values = ",\n".join(
        "(" + ", ".join(lit(d.get(c), c) for c in _BATCH_COLS) + ")"
        for d in batch
    )
    bdf = spark.sql(
        f"SELECT * FROM (VALUES\n{values}) AS t({', '.join(_BATCH_COLS)})"
    )
    cat.bulk_upsert_df(bdf)
    cat.delete(CDC_DEL)
    return cat, v0


def catalog_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, change) between the seeded snapshot and the post-batch state:
    8 updates, 8 inserts, 1 delete; the no-op re-upsert stays invisible."""
    cat, v0 = _apply_cdc_batch(spark, sf_dir)
    return cat.diff(v0)


def _cdc_oracle() -> str:
    from ..streaming.ingest import SEED_N

    upd = ", ".join(f"'{i}'" for i in CDC_UPD)
    ins = ",\n    ".join(f"('{i}', 'insert')" for i in CDC_INS)
    seed = f"{DATASETS_FROM_PART_SQL} WHERE p_partkey <= {SEED_N}"
    return f"""
WITH datasets AS ({seed}),
expected AS (
  SELECT id, 'update' AS change FROM datasets
  WHERE id IN ({upd}) AND title <> upper(title)
  UNION ALL
  SELECT id, 'delete' AS change FROM datasets WHERE id = '{CDC_DEL}'
  UNION ALL
  SELECT * FROM (VALUES
    {ins}) AS t(id, change)
)
SELECT id, change FROM expected ORDER BY id
"""


register("catalog_cdc_diff", catalog_cdc_diff, _cdc_oracle())


# -- time-travel search: snapshot isolation, oracle-checkable --------------------
#
# Search at an older version (text_index.catalog_hits) is pytest-pinned;
# this registers the semantics through the gate: run the SAME mutating
# batch as catalog_cdc_diff, then evaluate a match-all ONLY_PUBLIC search
# AS OF the pre-batch snapshot.  The oracle is the hits page over the
# pristine seed ONLY — if the engine leaked any post-batch state into the
# time-travel read, the page would lose the deleted id '10' (public,
# sorts inside the first rows of the match-all page) and could gain the
# planted `cdc-*` inserts, and the value hash would miss.  Snapshot reads
# are plain scans of the version's manifest cells — time travel costs
# nothing at any scale (catalog.py df(version=)).


def _tt_cq():
    return compile_query(
        {"size": 100}, [], DataSetFiltering.ONLY_PUBLIC, False
    )


def catalog_time_travel_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import search

    cat, v0 = _apply_cdc_batch(spark, sf_dir)
    return search.hits(cat.df(version=v0), _tt_cq())


def _tt_oracle() -> str:
    from ..streaming.ingest import SEED_N

    # catalog-RESIDENT rows carry storeType NULL regardless of the derived
    # fixture (PUT cannot set it; transform_entry defaults it — see
    # ingest._entry_of): a match-all page surfaces seed rows, so the
    # oracle's seed must reflect the stored shape, not the raw fixture
    seed = (
        f"SELECT * REPLACE (CAST(NULL AS VARCHAR) AS storeType) FROM "
        f"({DATASETS_FROM_PART_SQL} WHERE p_partkey <= {SEED_N})"
    )
    return f"WITH datasets AS ({seed}) {sqlgen.hits_sql(_tt_cq())}"


register(
    "catalog_time_travel_search", catalog_time_travel_search, _tt_oracle()
)
