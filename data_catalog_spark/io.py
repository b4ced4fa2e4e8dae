"""Table readers for the driver's parquet tables.

The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark's
vectorized reader rejects.  With ``spark.sql.legacy.parquet.nanosAsLong``
the column arrives as LongType nanoseconds; we convert with integer division
(``div`` — a double division would lose precision at 1e18) to microsecond
timestamps, matching what DuckDB produces when it truncates ns → µs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        _require_utc(spark)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # tz-naive parquet timestamps arrive as TIMESTAMP_NTZ; normalize to
    # session-tz (UTC) TIMESTAMP so epoch arithmetic (cast to double) works
    # and matches DuckDB's epoch() on the same wall-clock values.
    # Top-level fields only by design: the driver tables are flat (TESTDATA.md);
    # NTZ timestamps nested inside struct/array columns would need a recursive
    # rewrite (transform/withField) — add it if a nested-NTZ source appears.
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            _require_utc(spark)
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def _require_utc(spark: SparkSession) -> None:
    """The NTZ->TIMESTAMP cast reinterprets wall-clock values in the session
    timezone; only UTC matches DuckDB's epoch() on the same data.  Enforced
    ONLY when a conversion actually happens — timestamp-free tables must
    not fail on a non-UTC session where their results would be correct."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"timestamp normalization requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}); build the session via data_catalog_spark.session.get_spark"
        )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-layout partitioned parquet sink — the deployment layout for the
    catalog table (SURVEY §1.3: partition by low-cardinality security
    columns so the injected tenant/visibility predicate becomes partition
    PRUNING, i.e. untouched directories, not filtered rows).

    Partition columns must be low-cardinality (isPublic, format, orgUUID
    bucketed); high-cardinality partitioning creates the many-small-files
    problem this layout exists to avoid."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout; filters on partition columns prune at
    planning time (visible as PartitionFilters in the scan node)."""
    return spark.read.parquet(path)


def materialization_path(sf_dir: str, kind: str, source_file: str) -> str:
    """Write-once materialization dir (partitioned layouts, postings
    indexes) under a USER-OWNED 0700 cache root — never a predictable
    name in world-writable /tmp, where another local user could pre-create
    the dir and poison an index-driven semi-join with wrong data.  The key
    includes the SOURCE FILE's (mtime_ns, size) stat, so regenerated
    source data gets a fresh materialization instead of a stale one.
    Override the root with $SPARK_GRAFT_CACHE_DIR."""
    import hashlib
    import os

    root = os.environ.get(
        "SPARK_GRAFT_CACHE_DIR", os.path.expanduser("~/.cache/dcs-materialized")
    )
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(os.path.join(sf_dir, source_file))
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    return os.path.join(root, f"{kind}-{tag}")


def ensure_materialized(path: str, build_fn) -> str:
    """Race-safe write-once: build into a unique sibling dir, then one
    atomic rename into place.  Two concurrent builders never write the
    same files — the loser's rename fails (non-empty target) and its
    build is discarded; both return the same completed path."""
    import errno
    import os
    import shutil
    import uuid

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = f"{path}.build-{uuid.uuid4().hex}"
    try:
        build_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)  # never leak build dirs
        raise
    try:
        os.rename(tmp, path)
    except OSError as e:
        shutil.rmtree(tmp, ignore_errors=True)
        # ONLY a lost race (target appeared) is swallowed; a real rename
        # failure (permissions, I/O) must surface, not silently discard
        # the build and return a non-existent path
        if e.errno not in (errno.ENOTEMPTY, errno.EEXIST):
            raise
    return path


def process_scratch_table(df, tag: str):
    """Materialize a derived DataFrame as a written parquet table in a
    PROCESS-SCOPED scratch dir and return the read-back frame.

    This is the §5-correct home for large derived corpus state with
    multiple in-process consumers (signature tables, scored pair tables,
    kNN edges): a ``localCheckpoint`` pins the whole frame in executor
    STORAGE memory for the session's lifetime, which at 100 TB is a
    multi-GB block-manager liability; a written table is exactly the
    "signatures table" a deployment would keep, reads stream from disk /
    page cache, and consumer plans show an honest FileScan.

    Deliberately NOT content-addressed across processes (contrast
    persist.py): the dir embeds this process's pid and is removed at
    interpreter exit, so no bench/oracle invocation can ever read state a
    previous run computed — derived-state sharing stays within one
    process, the adjudicated memo discipline.  Callers memoize the
    returned handle with ``session_cache.derived``; the frame carries its
    directory (``_scratch_dir``), which the store removes when it
    releases the entry."""
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    global _PROC_SCRATCH
    if _PROC_SCRATCH is None or not os.path.isdir(_PROC_SCRATCH):
        _PROC_SCRATCH = tempfile.mkdtemp(prefix=f"dcs-proc-{os.getpid()}-")
        atexit.register(shutil.rmtree, _PROC_SCRATCH, ignore_errors=True)
    path = os.path.join(_PROC_SCRATCH, f"{tag}-{uuid.uuid4().hex[:12]}")
    df.write.parquet(path)
    out = df.sparkSession.read.parquet(path)
    out._scratch_dir = path
    return out


_PROC_SCRATCH = None


def link_tree(src: str, dst: str) -> None:
    """Populate a scratch copy of a write-once materialized directory via
    HARDLINKS instead of byte copies — a seeded catalog tree is hundreds
    of small files, and per-invocation copytree was pure syscall +
    page-cache churn on the benchmarked write paths.  Safe because the
    layouts linked here are append-only: catalog commits write NEW
    snapshot dirs, a cell's postings sidecar is a NEW dir renamed into
    place, and the only mutable file (the version pointer) is replaced
    via write-temp + atomic rename — a fresh inode, so the linked cache
    bytes are never rewritten through the scratch tree (deletes merely
    unlink).
    Falls back to a real copy per file when linking is unsupported (e.g.
    a cross-device scratch dir)."""
    import os
    import shutil

    def _link(s: str, d: str) -> None:
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)

    shutil.copytree(src, dst, dirs_exist_ok=True, copy_function=_link)


def compact_parquet(
    spark: SparkSession, path: str, target_files: int, sort_by: str | None = None
) -> int:
    """Small-file compaction — the table-maintenance op every streaming /
    micro-batch ingest needs: many tiny files degrade scan planning (one
    task per file) and parquet encoding.  Rewrites the directory to
    ``target_files`` files (optionally sorted for min/max-pruning
    friendliness) via an atomic swap; returns the resulting file count.

    At 100 TB this runs per-partition-directory (bounded working set), not
    whole-table; the copy-on-write swap is the same pattern as
    ``catalog._commit`` (a Delta/Iceberg OPTIMIZE stand-in)."""
    import os
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    writer = df.repartition(target_files)
    if sort_by:
        writer = writer.sortWithinPartitions(sort_by)
    tmp = tempfile.mkdtemp(dir=os.path.dirname(os.path.abspath(path)) or ".")
    out = os.path.join(tmp, "compacted")
    writer.write.mode("overwrite").parquet(out)
    old = path + ".old"
    os.rename(path, old)
    os.rename(out, path)
    shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)
    return len([f for f in os.listdir(path) if f.endswith(".parquet")])


def read_json_entries(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """S6's actual connector: JSON-lines ingest of metadata entries with the
    DECLARED entry schema (never inferSchema — SURVEY §1.2) in PERMISSIVE
    mode.  Rows that don't parse land in ``_corrupt_record`` and come back
    as the second frame (the rejects table of elastic_admin.py:54-83's
    "skip invalid rows" semantics); schema-valid rows come back first.

    Scale: the JSON source splits by line across executors; the declared
    schema means no inference pre-pass over the data (inference would be a
    full extra scan at 100 TB)."""
    from .schema import DATASETS_SCHEMA
    from pyspark.sql import types as T2

    schema = T2.StructType(
        DATASETS_SCHEMA.fields + [T2.StructField("_corrupt_record", T2.StringType())]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()  # one pass serves both splits (corrupt-record access rule)
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = raw.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, rejects


def write_json_entries(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines export — the reference's only interchange format
    (flask JSON in/out, metadata_entry.py:153)."""
    df.write.mode(mode).json(path)


def read_csv_table(spark: SparkSession, path: str, schema) -> tuple[DataFrame, DataFrame]:
    """CSV connector with declared schema + rejects capture, same contract
    as ``read_json_entries`` (header expected, PERMISSIVE parse)."""
    from pyspark.sql import types as T2

    full = T2.StructType(
        list(schema.fields) + [T2.StructField("_corrupt_record", T2.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    ).cache()
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = raw.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, rejects


def write_csv_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_xml_table(
    spark: SparkSession, path: str, schema, row_tag: str = "row"
) -> tuple[DataFrame, DataFrame]:
    """XML connector (Spark 4 native ``xml`` source — no external jar)
    with declared schema + rejects capture, the same contract as the
    JSONL/CSV connectors: rows under ``row_tag`` parse PERMISSIVE, rows
    whose content doesn't fit the declared schema come back in the
    rejects frame.  Scale: the XML source splits by rowTag boundaries
    across executors; the declared schema avoids the inference pre-pass."""
    from pyspark.sql import types as T2

    full = T2.StructType(
        list(schema.fields) + [T2.StructField("_corrupt_record", T2.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .format("xml")
        .load(path)
    ).cache()
    good = raw.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = raw.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, rejects


def write_xml_table(
    df: DataFrame, path: str, mode: str = "overwrite", row_tag: str = "row"
) -> None:
    df.write.mode(mode).option("rowTag", row_tag).format("xml").save(path)


def write_orc_table(
    df: DataFrame, path: str, mode: str = "overwrite", partition_cols: list[str] | None = None
) -> None:
    """ORC sink (zlib, the Spark default) — the columnar interchange format
    for Hive-era warehouses.  Same layout rules as the parquet sink:
    optional low-cardinality hive partitioning for pruning."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the footer schemas of every file in the
    directory (``mergeSchema``), so batches written before a column was
    added surface it as NULL.  This is the additive-evolution contract of
    a long-lived ingest directory; mergeSchema costs a footer read per
    file (metadata, not data), which is why it's an explicit opt-in here
    rather than the default read path."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_parquet_observed(
    df: DataFrame, path: str, metrics: dict[str, "F.Column"], mode: str = "overwrite"
) -> dict:
    """Parquet sink with piggybacked data-quality metrics via Spark's
    Observation API: the metric aggregates ride the write pass itself —
    ZERO extra scans, unlike a profile-then-write pipeline that reads the
    input twice.  This is the ingest-audit primitive (row counts, null
    counts, domain bounds) every production load wants at 100 TB, where a
    second scan is the difference between one pass and two.

    ``metrics`` maps metric name → aggregate Column; returns the observed
    values as a plain dict after the write commits."""
    from pyspark.sql import Observation

    obs = Observation("ingest")
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    observed.write.mode(mode).parquet(path)
    return obs.get


def read_orc_table(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source with an optionally DECLARED schema (same no-inference
    policy as JSON/CSV; ORC embeds its schema so `schema=None` is still a
    metadata read, not a data scan).  ORC scans get the same vectorized
    reader + predicate pushdown as parquet (`spark.sql.orc.filterPushdown`
    defaults on), so filters land in the file reader."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_clustered(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int = 8
) -> None:
    """Clustered layout for min/max data skipping: range-partition the
    rows across ``n_files`` files and sort within each by the same keys —
    every parquet row group then covers a narrow, non-overlapping slice
    of the cluster key domain, so a point/range predicate prunes whole
    files via footer statistics before any data I/O (the linear-key
    stand-in for OPTIMIZE ZORDER).  At 100 TB this is the difference
    between scanning the table and scanning the few files whose [min,max]
    intersect the predicate."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(bx: "F.Column", by: "F.Column", bits: int = 8) -> "F.Column":
    """Interleave the low ``bits`` of two bucket ids into a Z-curve (Morton)
    key: bit i of x lands at position 2i, bit i of y at 2i+1.  Pure int64
    bit algebra — codegen'd, no UDF."""
    from functools import reduce
    from operator import add

    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(add, terms)


def write_zordered(
    df: DataFrame,
    path: str,
    colx: str,
    coly: str,
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """TWO-dimensional data-skipping layout (the multi-column upgrade of
    ``write_clustered``): bucket both columns to ``bits``-bit grid cells by
    min/max linear scaling (one 1-row driver agg), order rows along the
    Z-curve over those cells, and range-partition files by the curve
    position.  Each file then covers a LOCALITY-PRESERVING rectangle-ish
    region of (x, y) space, so footer min/max stats prune files for
    predicates on EITHER column — a linear sort can only ever serve its
    leading column.  This is the OPTIMIZE ZORDER layout primitive; at
    100 TB it is what makes two-dimensional slicing (tenant × time,
    user × day) read a few files instead of the table."""
    stats = df.agg(
        F.min(colx).alias("nx"),
        F.max(colx).alias("xx"),
        F.min(coly).alias("ny"),
        F.max(coly).alias("xy"),
    ).first()
    cells = (1 << bits) - 1

    def bucket(c: str, lo, hi) -> "F.Column":
        if hi == lo:
            return F.lit(0).cast("long")
        return F.least(
            F.lit(cells).cast("long"),
            F.floor((F.col(c) - F.lit(lo)) / F.lit(hi - lo) * (cells + 1)).cast("long"),
        )

    z = zorder_key(bucket(colx, stats.nx, stats.xx), bucket(coly, stats.ny, stats.xy), bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
