"""Inverted text index for catalog search — the write-time structure the
reference's backing store (Elasticsearch) actually builds for its analyzed
fields (data_catalog/configuration_const.py:21-84), re-expressed as a
postings parquet table.

The Spark search path (search.py) evaluates the three text clauses as
regex/contains over every visible row — correct, codegen'd, but O(corpus)
per query.  This module is the scale path: a write-once postings table

    (field, gram, id)

with three posting families:

- ``title``      → character TRIGRAMS of the lowered title.  The title
  clause is a *substring* match (T1 wildcard semantics), so token postings
  cannot serve it; char n-grams can — ``q ⊆ title`` implies every trigram
  of q appears in the title, so probing ALL query trigrams and keeping ids
  that matched every one yields a candidate superset (ES's own
  ngram-analyzer wildcard acceleration).
- ``dataSample`` → standard-analyzer tokens.  The boundary-delimited regex
  the scan path uses is exactly token-set intersection
  (analyzers.token_match_pattern's equivalence guarantee), so token
  postings are lossless for this clause.
- ``sourceUri``  → uri-analyzer tokens, same argument.
- ``title_stem`` → PORTER-STEMMED standard-analyzer tokens of the title —
  the write-time shape of ES's `english` analyzer (reference
  configuration_const.py:26-29).  Stemmed-token-set intersection is
  token-equality over this family, so the probe is lossless; stemming
  moves off the per-query scan path (the r4 1.83 s regression) onto the
  write path, which is where ES itself pays it.

Candidates from the three clause arms union, then the EXACT compiled
predicate + scoring re-runs on the semi-joined candidates — the index
accelerates, never decides, so results are bit-identical to the scan path
and the same DuckDB oracle checks both.

Scale notes (100 TB): the postings table is partitioned by ``field``
(partition pruning per clause) and the gram probe is an IN-list pushed to
the parquet scan (row-group skipping on gram min/max); at deployment scale
it would additionally be bucketed by gram so probe joins co-locate, and the
ALL-trigrams title probe would use only the k rarest query grams (df stats)
— the candidate-superset property survives any gram subset.  A hot-gram
posting list is O(corpus); the title probe's count-match keeps the work per
candidate bounded by the query length, and the standard df-cutoff guard
(dedup.MAX_SHINGLE_DF shape) applies if degenerate grams dominate.

Queries whose title probe is shorter than one trigram (len < 3) fall back
to the scan path for that clause only — documented, and exercised in tests.

The live catalog (catalog.py) keeps the same postings per committed cell:
each manifest cell gets a sidecar ``<cell dir>/_postings``, built from
the cell's own files on the first indexed read that needs it, and a
version's index is the union of its cells' sidecars (``cell_postings``,
``catalog_hits``).  A sidecar cannot go stale: a committed cell's files
never change, and a commit that changes a cell writes it to a new
snapshot dir, whose sidecar does not exist until a read builds it from
the new files.  So a write is searchable as soon as it commits, with no
index commit, lock, tombstone or reindex, and ``vacuum`` and ``drop``
remove a sidecar together with its cell.  The name starts with ``_``,
which the catalog's cell listing (``_cell_files``) and Spark's file
listing both skip, so no data read sees it.
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import partial, reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import analyzers, search
from .catalog import DatasetsCatalog
from .io import ensure_materialized, materialization_path
from .query.compiler import CompiledQuery

TITLE_GRAM = 3


def text_index_path(sf_dir: str) -> str:
    """Postings dir keyed by the source table's content stat — see
    io.materialization_path (datasets derive from part.parquet).  The
    kind carries an index-format version: v2 added the title_stem family,
    and a v1 dir on disk must not be reused (its probes would silently
    return zero candidates for stem queries)."""
    return materialization_path(sf_dir, "text-index-v2", "part.parquet")


def build_text_index(ds: DataFrame, path: str) -> None:
    """Write the postings table: one row per (field, gram, id), distinct.
    Map-only explode + a distinct per field — one shuffle on the slim
    (field, gram, id) triple; hive-partitioned by field."""
    _postings(ds).write.mode("overwrite").partitionBy("field").parquet(path)


def _postings(ds: DataFrame, *carry: str) -> DataFrame:
    """``build_text_index``'s rows: distinct (field, gram, id, *carry),
    where ``carry`` names columns of ``ds`` kept beside each posting (a
    batched sidecar build carries each row's cell)."""
    # the length filter also guards the sub-trigram title edge: Spark's
    # sequence(1, 0) is the DESCENDING [1, 0], so a title shorter than one
    # trigram would otherwise emit junk sub-length grams into the index
    trigrams = F.expr(
        f"array_distinct(filter(transform(sequence(1, greatest(length(lower(title)) - "
        f"{TITLE_GRAM - 1}, 1)), i -> substring(lower(title), i, {TITLE_GRAM})), "
        f"x -> length(x) = {TITLE_GRAM}))"
    )
    std_tokens = F.expr(
        f"array_distinct(filter(split(lower(dataSample), "
        f"'{analyzers.STANDARD_SPLIT}'), x -> x != ''))"
    )
    uri_stop = ", ".join(f"'{w}'" for w in sorted(analyzers.URI_STOPWORDS))
    uri_tokens = F.expr(
        f"array_distinct(filter(split(lower(sourceUri), '{analyzers.URI_SPLIT}'), "
        f"x -> x != '' AND NOT array_contains(array({uri_stop}), x)))"
    )
    title_tokens = (
        f"filter(split(lower(title), '{analyzers.STANDARD_SPLIT}'), x -> x != '')"
    )
    stem_tokens = F.expr(
        f"array_distinct({analyzers.spark_stem_transform(title_tokens)})"
    )
    parts = [
        ds.select(
            F.lit(field).alias("field"), F.explode(grams).alias("gram"), "id", *carry
        )
        for field, grams in (
            ("title", trigrams),
            ("dataSample", std_tokens),
            ("sourceUri", uri_tokens),
            ("title_stem", stem_tokens),
        )
    ]
    return reduce(DataFrame.unionByName, parts).distinct()


def text_candidates(
    spark: SparkSession, index_path, text: str, scan_df: DataFrame
) -> DataFrame:
    """1-column (id) candidate frame — a SUPERSET of the docs any of the
    three text clauses can match, from postings probes only (plus the
    documented short-query scan fallback for the title clause).
    ``index_path``: a postings dir, or a postings DataFrame (a catalog
    version's cell sidecars, ``cell_postings``)."""
    idx = (
        index_path
        if isinstance(index_path, DataFrame)
        else spark.read.parquet(index_path)
    )
    q = text.lower()
    arms: list[DataFrame] = []
    if len(q) >= TITLE_GRAM:
        grams = sorted({q[i : i + TITLE_GRAM] for i in range(len(q) - TITLE_GRAM + 1)})
        arms.append(
            idx.where((F.col("field") == "title") & F.col("gram").isin(grams))
            .groupBy("id")
            .agg(F.count_distinct("gram").alias("ng"))
            .where(F.col("ng") == len(grams))
            .select("id")
        )
    else:
        # sub-trigram probe: the index cannot serve a substring this short —
        # scan fallback for the title clause only
        arms.append(
            scan_df.where(F.lower(F.col("title")).contains(q)).select("id")
        )
    std = analyzers.standard_tokens(text)
    if std:
        arms.append(
            idx.where((F.col("field") == "dataSample") & F.col("gram").isin(std)).select("id")
        )
    uri = analyzers.uri_tokens(text)
    if uri:
        arms.append(
            idx.where((F.col("field") == "sourceUri") & F.col("gram").isin(uri)).select("id")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.distinct()


def indexed_hits(
    spark: SparkSession, ds: DataFrame, index_path, cq: CompiledQuery
) -> DataFrame:
    """The scan-path hits pipeline over the index-narrowed candidate set:
    semi-join candidates into the datasets scan, then re-apply the EXACT
    compiled predicate + scoring — identical output contract (and oracle)
    to ``search.hits`` on the full scan.  ``index_path`` is what
    ``text_candidates`` takes: a postings dir or a postings DataFrame."""
    if not cq.text:
        return search.hits(ds, cq)
    cand = text_candidates(spark, index_path, cq.text, ds)
    return search.hits(ds.join(cand, "id", "left_semi"), cq)


def stem_candidates(
    spark: SparkSession, index_path, stemmed_terms: list[str]
) -> DataFrame:
    """1-column (id) candidates for a stemmed-title match: ids with ANY
    posting in the title_stem family matching a probe term.  Because the
    family stores exactly the stemmed standard tokens, this probe is
    LOSSLESS for arrays_overlap(stemmed_tokens, probes) — the candidate
    set IS the answer set; the caller still re-applies the exact scan
    predicate on the semi-joined rows so the index can only ever
    accelerate, never decide."""
    idx = (
        index_path
        if isinstance(index_path, DataFrame)
        else spark.read.parquet(index_path)
    )
    return (
        idx.where((F.col("field") == "title_stem") & F.col("gram").isin(stemmed_terms))
        .select("id")
        .distinct()
    )


# -- the live catalog's index: one postings sidecar per committed cell --------

POSTINGS_DIR = "_postings"
POSTINGS_SCHEMA = "gram STRING, id STRING"  # a family's files; its dir names the field


def cell_postings(cat: DatasetsCatalog, version: int) -> DataFrame | None:
    """The text index of catalog ``version``: the union of its manifest
    cells' postings sidecars (``<cell dir>/_postings``).  Sidecars that do
    not exist yet are built first, all in one Spark write from the cells'
    own files, and each is published by ``io.ensure_materialized``.  None
    for a version with no manifest (a legacy snapshot), no cells or no
    postings at all; the caller then scans."""
    manifest = cat._manifest(version)
    if not manifest:
        return None
    cells = {
        os.path.join(cat._cell_dir(owner, cell), POSTINGS_DIR): (cell, owner)
        for cell, owner in sorted(manifest.items())
    }
    missing = {
        d: c
        for d, c in cells.items()
        if not os.path.exists(os.path.join(d, "_SUCCESS"))
    }
    if missing:
        # One write for every missing cell, laid out like the table (by
        # isPublic and org bucket), so each cell's part of it is the
        # cell's hive dir: the six cells a streamed batch rewrites took
        # 1.2-1.3 s so, against 4.3-4.5 s in one write each (4-core box).
        # Hashing the rows by cell first puts each cell in one task: the
        # postings' distinct needs no second shuffle, and each (cell,
        # field) is one file.
        keys = (cat.PARTITION_COL, cat.BUCKET_COL)
        rows = (
            cat._read_cells(dict(missing.values()))
            .withColumn(cat.BUCKET_COL, cat._bucket_expr())
            .repartition(*keys)
        )
        batch = f"{next(iter(missing))}.build-{uuid.uuid4().hex}"
        try:
            _postings(rows, *keys).write.mode("overwrite").partitionBy(
                *keys, "field"
            ).parquet(batch)
            for d, (cell, _) in missing.items():
                ensure_materialized(d, partial(_take_part, cat._hive_dir(batch, cell)))
        finally:
            shutil.rmtree(batch, ignore_errors=True)
    # One scan per family over every cell's field dir of it, the field a
    # literal (so a probe's field filter drops the other scans): Spark
    # infers partitions for one root per read, several partitioned roots
    # conflict, and a scan per sidecar per probe ran twice as long.  Spark
    # logs that it would ignore a path under ``_postings`` but reads it.
    families: dict[str, list[str]] = {}
    for d in cells:
        for name in sorted(os.listdir(d)):
            if name.startswith("field="):
                field = name.split("=", 1)[1]
                families.setdefault(field, []).append(os.path.join(d, name))
    if not families:
        return None
    read = cat.spark.read.schema(POSTINGS_SCHEMA)
    return reduce(
        DataFrame.unionByName,
        (
            read.parquet(*dirs).withColumn("field", F.lit(field))
            for field, dirs in sorted(families.items())
        ),
    )


def _take_part(part: str, tmp: str) -> None:
    """``ensure_materialized`` build step of a batched sidecar build: move
    the cell's part of the batch write (absent when its rows have no gram)
    to ``tmp`` and mark it complete."""
    if os.path.isdir(part):
        os.rename(part, tmp)
    else:
        os.makedirs(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def catalog_hits(
    cat: DatasetsCatalog, cq: CompiledQuery, version: int | None = None
) -> DataFrame:
    """Indexed hits page of ``cq`` over catalog ``cat`` as of ``version``
    (the latest when None): ``indexed_hits`` over that version's cell
    sidecars, equal to ``search.hits(cat.df(version), cq)``.  A write is
    searchable as soon as it commits, and time travel takes the same path
    as the latest version."""
    if version is None:
        cat.create_if_not_exists()
        version = cat._latest_version()
    ds = cat.df(version)
    postings = cell_postings(cat, version) if cq.text else None
    if postings is None:
        return search.hits(ds, cq)
    return indexed_hits(cat.spark, ds, postings, cq)
