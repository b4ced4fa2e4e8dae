"""Similarity search over the embeddings table (array<float> column).

- Brute-force cosine top-k: the exact baseline, oracle-checked.
- Embedding-cosine near-dup pairs: oracle-checked.
- Random-hyperplane LSH top-k: the scale path — bucketed candidate
  generation + exact re-rank (rows-only driver check; pytest measures
  recall vs brute force).

All vector math is JVM-side column algebra: ``zip_with`` + ``aggregate``
over double-cast arrays (no Python UDFs, no collect).  Floats are cast to
double BEFORE the dot product on both engines so accumulation is identical;
ranking uses the 6-dp-rounded score with vec_id tiebreak so ordering is
deterministic across engines.

Scale design (100 TB): brute force is a broadcast of the (small) query set
against a partitioned scan of the corpus — embarrassingly parallel, no
shuffle.  LSH adds a bucket-equality join: signatures are computed map-only,
candidates shuffle only on bucket keys.  The IVF upgrade (k-means coarse
quantizer) has the same plan shape — swap signature for nearest-centroid id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import read_table
from .registry import register
from .session_cache import derived

TOP_K = 10
N_QUERIES = 8  # vec_id < 8 are the query vectors
EMB_DUP_THRESHOLD = 0.4
LSH_PLANES = 4  # 16 buckets; multiprobe hamming<=1
_DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )


_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("nrm", F.expr("sqrt(" + _DOT.format(a="v", b="v") + ")"))


def _cos() -> F.Column:
    return F.expr(_DOT.format(a="a.v", b="b.v")) / (F.col("a.nrm") * F.col("b.nrm"))


# -- brute-force top-k -------------------------------------------------------


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, one pass over the
    corpus, per-query top-k via window on the rounded score."""
    e = _with_norm(_emb(spark, sf_dir))
    q = e.where(F.col("vec_id") < N_QUERIES)
    c = e.where(F.col("vec_id") >= N_QUERIES)
    scored = (
        F.broadcast(q).alias("a")
        .crossJoin(c.alias("b"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("nid"),
            F.round(_cos(), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


ANN_BRUTE_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      FROM n a JOIN n b ON b.vec_id >= {N_QUERIES}
      WHERE a.vec_id < {N_QUERIES}),
r AS (SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM s)
SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {TOP_K} ORDER BY qid, rank
"""


# -- attribute-filtered vector search ----------------------------------------


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: per query, exact cosine top-k restricted to
    corpus vectors sharing the query's ``label`` — the metadata-predicate
    ANN every retrieval stack needs ("neighbors within this category").

    Strategy = PRE-filter: the label equality is the JOIN KEY, so the scan
    touches only the matching label partition — never all-pairs followed
    by a filter.  Post-filtering an unfiltered ANN probe is the wrong plan
    for selective predicates (top-k fills with filtered-out neighbors and
    recall collapses); with a 10-label corpus the pre-filtered exact scan
    reads ~10% of the corpus per query, and at 100 TB the same plan rides
    label partition pruning."""
    e = _with_norm(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
            "label",
        )
    )
    q = e.where(F.col("vec_id") < N_QUERIES)
    c = e.where(F.col("vec_id") >= N_QUERIES)
    scored = (
        F.broadcast(q)
        .alias("a")
        .join(c.alias("b"), F.col("a.label") == F.col("b.label"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.label").alias("label"),
            F.col("b.vec_id").alias("nid"),
            F.round(_cos(), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "qid", "label", "nid", "cos", F.col("rank").cast("int").alias("rank")
        )
        .orderBy("qid", "rank")
    )


ANN_FILTERED_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                  label
           FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(list_dot_product(v, v)) AS nrm FROM e),
s AS (SELECT a.vec_id AS qid, b.label AS label, b.vec_id AS nid,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      FROM n a JOIN n b ON a.label = b.label AND b.vec_id >= {N_QUERIES}
      WHERE a.vec_id < {N_QUERIES}),
r AS (SELECT qid, label, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM s)
SELECT qid, label, nid, cos, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {TOP_K} ORDER BY qid, rank
"""

register("ann_filtered_topk", ann_filtered_topk, ANN_FILTERED_ORACLE)


# -- cosine near-dup pairs ---------------------------------------------------


# dedup_embedding_cosine is the all-pairs GROUND TRUTH — refuse to run it
# past validation scale instead of silently burning an O(n²) cross join
# (4× corpus → 12.7× time, measured in ARCHITECTURE §scaling).
EXACT_PAIRS_MAX_ROWS = 100_000


def _parquet_row_count(spark: SparkSession, path: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job (the guard
    check runs at query-construction time, so plan-only tooling like
    dump_plans/audit_joins must not trigger a scan).  Falls back to a
    Spark count for non-local/multi-file layouts."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        files = (
            [path]
            if os.path.isfile(path)
            else sorted(glob.glob(os.path.join(path, "*.parquet")))
        )
        if files:
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        pass
    return spark.read.parquet(path).count()


def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, *, max_rows: int = EXACT_PAIRS_MAX_ROWS
) -> DataFrame:
    """All pairs with rounded cosine ≥ threshold (a<b).  Exact; the
    threshold compares the *rounded* score on both engines so boundary
    behavior is identical.

    Role: the GROUND-TRUTH oracle for embedding near-dup (the recall
    denominator pytest measures against) — by construction an O(n²)
    non-equi self-join, so it is scoped to validation corpora and GUARDED:
    a corpus past ``max_rows`` raises instead of running (route scale
    corpora to ``dedup_embedding_lsh`` below — identical output contract,
    candidates from a band-key equality join instead of all pairs)."""
    n = _parquet_row_count(spark, f"{sf_dir}/embeddings.parquet")
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding_cosine is the all-pairs ground-truth oracle "
            f"(validation corpora only): corpus has {n} vectors > the "
            f"{max_rows}-row guard — use dedup_embedding_lsh for scale runs"
        )
    e = _with_norm(_emb(spark, sf_dir))
    # The streamed side of the nested-loop join inherits the parquet
    # file's partitioning — ONE task for a single-row-group local file,
    # which serializes all n²/2 cosine folds (measured 62 s for n=2000 at
    # sf0.1); spreading it across the executor threads first makes the
    # broadcast nested loop embarrassingly parallel (~3 s same corpus).
    left = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    return (
        left.alias("a")
        .join(F.broadcast(e).alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(_cos(), 6).alias("cos"),
        )
        .where(F.col("cos") >= EMB_DUP_THRESHOLD)
        .orderBy("va", "vb")
    )


EMB_DEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
SELECT a.vec_id AS va, b.vec_id AS vb,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {EMB_DUP_THRESHOLD}
ORDER BY va, vb
"""


# -- LSH-bucketed near-dup pairs (the scale path for dedup) ------------------

# Banded sign-LSH for PAIR generation (same amplification layout as MinHash
# banding): L bands of r hyperplane sign bits each; a pair is a candidate iff
# some band's bit-vectors are within Hamming 1 (multiprobe).  Exact rounded
# cosine is then computed ONLY inside candidate buckets.
#
# Parameter math (sign-LSH: P[bit agrees] = 1 - angle/pi):
#   tau = 0.4  -> p1 = 0.635;  random pair (cos~0) -> p2 = 0.5
#   band hit (r=8, Ham<=1) = p^8 + 8 p^7 (1-p): 0.148 @ tau vs 0.035 random
#   L=16 bands -> recall 1-(1-0.148)^16 ~ 0.92 (measured 0.95-0.97 at sf0.01)
# tau=0.4 sits in the SOFT part of the s-curve (rho = ln p1/ln p2 = 0.65, so
# candidate work scales ~n^1.65 — subquadratic, not free); at deployment
# near-dup thresholds (tau >= 0.8, p1 >= 0.8) the same banding prunes to
# ~1e-3 of pairs.  The planes are FIXED seeded literals, so the pipeline is
# fully SQL-expressible and the DuckDB oracle reproduces it exactly.
PAIR_BANDS = 16
PAIR_BAND_BITS = 8


def _pair_planes() -> np.ndarray:
    return np.random.default_rng(7).standard_normal(
        (PAIR_BANDS * PAIR_BAND_BITS, _DIM)
    )


def _plane_lit(plane: np.ndarray) -> str:
    return "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane) + ")"


# Fixed-point quantum for the sign-test dots: each term is
# floor(v_k · plane_k · 2^20) in int64, so the per-plane dot is an exact,
# order-independent INTEGER sum that numpy (vectorized, any summation
# order) and DuckDB (left-fold list_sum) compute bit-identically.  floor —
# not round/cast — because floor(double) is the one discretizer both
# engines agree on exactly (SQL round is half-away vs numpy's half-even;
# double→int casts truncate in Spark but round in DuckDB).  |terms| ≤
# 64·8·2^20 < 2^30, no overflow anywhere.
PAIR_Q = float(1 << 20)

_CODES_SCHEMA = "vec_id bigint, v array<double>, nrm double, codes array<bigint>"


def _band_bits(df: DataFrame, planes: np.ndarray) -> DataFrame:
    """Append a ``codes`` column — array of L per-band sign-bit codes over
    quantized plane dots, computed as ONE Arrow-batched numpy pass.

    History (measured at sf0.1): the float formulation as 128 flat
    64-term JVM column expressions spent ~4.3 s per run EXECUTING — a
    16k-node projection blows past whole-stage-codegen's method limits
    and falls back to interpreted evaluation — while HOF variants were
    10-40× worse still (interpreted lambdas + CollapseProject
    re-evaluation).  A vectorized einsum over the same literal planes is
    ~milliseconds and, with the fixed-point dot above, stays bit-identical
    to the SQL oracle (the kmeans/_micro_sum determinism recipe)."""
    pm = np.asarray(planes, dtype=np.float64)  # (L·r, dim)
    weights = (1 << np.arange(PAIR_BAND_BITS, dtype=np.int64))

    def run(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            out_codes = []
            vs_all = [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            for lo in range(0, n, 256):  # bound the (rows×planes×dim) cube
                vs = np.stack(vs_all[lo : lo + 256])
                terms = np.floor(
                    vs[:, None, :] * pm[None, :, :] * PAIR_Q
                ).astype(np.int64)
                dots = terms.sum(axis=2)  # exact int64, order-free
                bits = (dots > 0).astype(np.int64)
                codes = (
                    bits.reshape(len(vs), PAIR_BANDS, PAIR_BAND_BITS) * weights
                ).sum(axis=2)
                out_codes.extend(c.tolist() for c in codes)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "nrm": pdf["nrm"],
                    "codes": out_codes,
                }
            )

    return df.select("vec_id", "v", "nrm").mapInPandas(run, schema=_CODES_SCHEMA)


def _pair_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coded corpus IS the sign-LSH index: frozen seeded planes over
    fixed content give a deterministic code table, built once per corpus
    and reused by every probe.  The first invocation still builds it (the
    gate's one-shot run measures build+probe); repeat runs measure the
    probe path, which is what an LSH index deployment pays per batch."""

    def build() -> DataFrame:
        # the embeddings file is a single row group ⇒ a 1-task scan would
        # serialize all 128 plane dots per vector; spread vectors across
        # the executor threads first (a no-op on a properly partitioned
        # deployment input — same rationale as dedup_minhash's doc spread)
        emb = _emb(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        )
        return _band_bits(_with_norm(emb), _pair_planes()).localCheckpoint(
            eager=False
        )

    return derived(spark, sf_dir, "embeddings", "lsh-coded", build)


_PAIR_DOT_SCHEMA = "va bigint, vb bigint, dot double, na double, nb double"


def _arrow_pair_cos(cand: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
    """(va, vb, cos) for candidate pairs: attach both vectors (equality
    joins — AQE picks broadcast vs shuffle), then compute the dot product
    in ONE vectorized Arrow pass instead of the per-pair ``aggregate(
    zip_with(...))`` HOF.  Higher-order functions never enter whole-stage
    codegen — each candidate paid an interpreted 64-term fold (~¾ of this
    family's exec time at sf0.1, ~891k candidates from 2000 vectors) —
    while the numpy loop below folds dimension-by-dimension ACROSS rows:
    acc = ((0.0 + a0·b0) + a1·b1) + …, the same IEEE left-association per
    row as the HOF, so the dots are bit-identical.  Division and 6dp
    rounding stay JVM-side, unchanged from the HOF formulation (numpy's
    half-even round would NOT match SQL's half-up).  Only the five needed
    columns cross the boundary (guide §4.1).

    The candidate set is repartitioned to the executor thread count
    first: AQE coalesces the upstream distinct's output by BYTES (a few
    MB of (va, vb) ids → ~5 post-shuffle partitions), but the work per
    row downstream — two vector attaches + the Arrow transpose + the
    numpy fold — is CPU-heavy, so byte-sized partitions left ~27 of 32
    threads idle (measured: the 5-task scoring stage was 2.0 s of the
    entry's 3.3 s exec wall).  An explicit round-robin exchange of the
    skinny id pairs is cheap and scale-adaptive (defaultParallelism); it
    must NOT be keyed on (va, vb) — a hash repartition there is elided by
    Catalyst as redundant with the upstream distinct's exchange, whose
    ENSURE_REQUIREMENTS origin AQE then coalesces by bytes again
    (observed).  User-numbered round-robin survives both."""
    cand = cand.repartition(
        cand.sparkSession.sparkContext.defaultParallelism
    )
    joined = cand.join(
        a.select(
            F.col("vec_id").alias("va"),
            F.col("v").alias("av"),
            F.col("nrm").alias("na"),
        ),
        "va",
    ).join(
        b.select(
            F.col("vec_id").alias("vb"),
            F.col("v").alias("bv"),
            F.col("nrm").alias("nb"),
        ),
        "vb",
    ).select("va", "vb", "av", "na", "bv", "nb")

    def run(batches):
        import pyarrow as pa

        out_fields = pa.schema(
            [
                ("va", pa.int64()),
                ("vb", pa.int64()),
                ("dot", pa.float64()),
                ("na", pa.float64()),
                ("nb", pa.float64()),
            ]
        )
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            av = np.asarray(cols["av"].flatten(), dtype=np.float64).reshape(n, _DIM)
            bv = np.asarray(cols["bv"].flatten(), dtype=np.float64).reshape(n, _DIM)
            acc = np.zeros(n, dtype=np.float64)
            for k in range(_DIM):
                acc += av[:, k] * bv[:, k]
            yield pa.RecordBatch.from_arrays(
                [
                    cols["va"],
                    cols["vb"],
                    pa.array(acc, type=pa.float64()),
                    cols["na"],
                    cols["nb"],
                ],
                schema=out_fields,
            )

    return joined.mapInArrow(run, schema=_PAIR_DOT_SCHEMA).select(
        "va",
        "vb",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
    )


def _emb_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scored embedding near-dup pair frame, memoized per corpus and
    written as a scratch table — consumed by the emb_lsh recall-contract
    lane and embedding_dup_clusters."""
    from ..io import process_scratch_table

    return derived(
        spark,
        sf_dir,
        "embeddings",
        "emb-lsh-pairs",
        lambda: process_scratch_table(
            _emb_lsh_build(spark, sf_dir), "emb-lsh-pairs"
        ),
    )


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup pairs — the 100 TB replacement for the
    all-pairs ``dedup_embedding_cosine``: candidates come from a band-key
    EQUALITY self-join (probe side exploded to the Hamming-1 ball of each
    band's bits), never a cartesian product; the exact rounded cosine is
    evaluated only on candidates.  Deterministic (seeded plane literals) and
    fully oracle-checked; pytest measures recall vs the exact pairs.

    Batch analytics: the candidate join + Arrow cosine scoring run per
    invocation (r11 verdict — a memoized result frame made the bench
    measure cache reads).  Only the coded corpus (`_pair_coded` — the
    sign-LSH index itself, the r10-adjudicated code-table contract) is
    shared; the recall-contract and embedding_dup_clusters consumers
    share one scored copy through `_emb_lsh_pairs`."""
    return _emb_lsh_build(spark, sf_dir).orderBy("va", "vb")


def _emb_lsh_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _pair_coded(spark, sf_dir)
    masks = [0] + [1 << j for j in range(PAIR_BAND_BITS)]
    masks_lit = "array(" + ", ".join(f"CAST({m} AS BIGINT)" for m in masks) + ")"
    # Hamming-1 ball exploded on the PROBE side only (9 rows per band); the
    # build side stays at 1 row per band — same candidate set (a<b pairs
    # need only one direction probed), 9× less join input than two-sided.
    probes = (
        e.select("vec_id", F.posexplode("codes").alias("band", "bits"))
        .select(
            "vec_id",
            "band",
            F.explode(F.expr(f"transform({masks_lit}, m -> bits ^ m)")).alias("pb"),
        )
    )
    build = e.select("vec_id", F.posexplode("codes").alias("band", "bits"))
    cand = (
        probes.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.pb") == F.col("b.bits"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    slim = e.select("vec_id", "v", "nrm")
    return _arrow_pair_cos(cand, slim, slim).where(
        F.col("cos") >= EMB_DUP_THRESHOLD
    )


def _pair_lsh_cand_ctes(pair_pred: str) -> str:
    """The ``pm``…``cand`` CTE chain of the banded sign-LSH candidate
    pipeline in DuckDB — same plane literals, the same fixed-point sign
    dots (floor-quantized integer sums — see PAIR_Q), per-band bit
    packing, Hamming-1 probe explosion, candidate equality join.  Shared
    by the near-dup pair oracle (``pair_pred`` '<': one-sided pairs) and
    the kNN-graph oracle ('<>': directed per-node candidates)."""
    planes = _pair_planes()
    dim = planes.shape[1]
    band_exprs = []
    for band in range(PAIR_BANDS):
        terms = " + ".join(
            "(CASE WHEN list_sum([CAST(floor(v[k] * "
            f"pm[{band * PAIR_BAND_BITS + j + 1}][k] * {PAIR_Q!r}) AS BIGINT) "
            f"for k in range(1, {dim + 1})]) > 0 "
            f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
            for j in range(PAIR_BAND_BITS)
        )
        band_exprs.append(f"({terms}) AS b{band}")
    pm_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row) + "]"
            for row in planes
        )
        + "]"
    )
    masks = [0] + [1 << j for j in range(PAIR_BAND_BITS)]
    probe_arms = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {band} AS band, "
        f"unnest([{', '.join(f'xor(b{band}, {m})' for m in masks)}]) AS pb FROM sg"
        for band in range(PAIR_BANDS)
    )
    build_arms = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {band} AS band, b{band} AS bits FROM sg"
        for band in range(PAIR_BANDS)
    )
    return f"""pm(pm) AS (SELECT {pm_lit}),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sg AS MATERIALIZED (SELECT vec_id, v, nrm, {", ".join(band_exprs)}
                    FROM n CROSS JOIN pm),
probes AS (
  {probe_arms}),
build AS (
  {build_arms}),
cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         FROM probes a JOIN build b
           ON a.band = b.band AND a.pb = b.bits
          AND a.vec_id {pair_pred} b.vec_id)"""


def _pair_lsh_oracle() -> str:
    """DuckDB rendering of the identical banded near-dup pipeline: the
    shared candidate chain plus the exact rounded-cosine re-rank."""
    return f"""
WITH {_pair_lsh_cand_ctes('<')}
SELECT va, vb,
       round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cos
FROM cand JOIN sg sa ON va = sa.vec_id JOIN sg sb ON vb = sb.vec_id
WHERE round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
      >= {EMB_DUP_THRESHOLD}
ORDER BY va, vb
"""


register("dedup_embedding_lsh", dedup_embedding_lsh, _pair_lsh_oracle())


# -- approximate kNN graph over the embedding corpus --------------------------

KNN_GRAPH_K = 5  # neighbors kept per node


def _knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranked kNN edge set, memoized per corpus and written as a
    scratch table: the graph is derived curation state with two
    registered consumers (knn_graph_lsh, knn_density_outliers)."""
    from ..io import process_scratch_table

    return derived(
        spark,
        sf_dir,
        "embeddings",
        "knn-edges",
        lambda: process_scratch_table(
            _knn_graph_build(spark, sf_dir), "knn-edges"
        ),
    )


def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN GRAPH over the whole embedding corpus — the
    substrate of graph-based curation (NN-descent seeding, connectivity
    semantic dedup, kNN-density outlier pruning): for every vector, its
    top-k nearest candidates by exact rounded cosine, candidates drawn
    from the banded sign-LSH Hamming-1 probe (the same memoized coded
    corpus as dedup_embedding_lsh — never an all-pairs product).  Batch
    analytics: the graph builds per invocation (r11 verdict — no memoized
    result frames on plain batch entries); knn_density_outliers shares
    one built copy through `_knn_graph_edges`.  Directed
    edges: the probe runs BOTH directions (vec_id <> vec_id), then one
    partition-keyed window ranks per source node (cos desc, neighbor id
    tiebreak).  Nodes whose Hamming-1 ball collides with nothing are
    absent — at production band widths the collision-free share is the
    recall knob, measured for this family by ann_recall_contract.  Scale
    shape: explode is 9 rows/band on the probe side only, candidates are
    an equality join, the window is keyed on vec_id — no global sort, no
    unbounded frame."""
    return _knn_graph_build(spark, sf_dir).orderBy("vec_id", "rank")


def _knn_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _pair_coded(spark, sf_dir)
    masks = [0] + [1 << j for j in range(PAIR_BAND_BITS)]
    masks_lit = (
        "array(" + ", ".join(f"CAST({m} AS BIGINT)" for m in masks) + ")"
    )
    probes = e.select(
        "vec_id", F.posexplode("codes").alias("band", "bits")
    ).select(
        "vec_id",
        "band",
        F.explode(F.expr(f"transform({masks_lit}, m -> bits ^ m)")).alias(
            "pb"
        ),
    )
    build = e.select("vec_id", F.posexplode("codes").alias("band", "bits"))
    # The Hamming-ball candidate relation is SYMMETRIC (some band within
    # Hamming 1), so the directed candidate set is exactly the one-sided
    # (va < vb) set plus its mirror — generate and score each unordered
    # pair ONCE (half the candidate joins and half the cosine folds), then
    # mirror the scored rows.  Bit-identical: IEEE multiplication commutes
    # term-by-term and the fold order is unchanged, so dot(a,b) ≡ dot(b,a).
    cand = (
        probes.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.pb") == F.col("b.bits"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    slim = e.select("vec_id", "v", "nrm")
    half = _arrow_pair_cos(cand, slim, slim)
    # mirror with ONE map-only explode (a union of the same subtree would
    # re-execute the candidate join + scoring for each leg)
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("va").alias("va"), F.col("vb").alias("vb")
                ),
                F.struct(
                    F.col("vb").alias("va"), F.col("va").alias("vb")
                ),
            )
        ).alias("p"),
        "cos",
    ).select("p.va", "p.vb", "cos")
    w = Window.partitionBy("va").orderBy(F.col("cos").desc(), F.col("vb"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_GRAPH_K)
        .select(
            F.col("va").alias("vec_id"),
            F.col("vb").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            "cos",
        )
    )


def _knn_graph_oracle() -> str:
    """Shared banded candidate chain (directed) + per-node top-k window."""
    return f"""
WITH {_pair_lsh_cand_ctes('<>')},
scored AS (
  SELECT va, vb,
         round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cos
  FROM cand JOIN sg sa ON va = sa.vec_id JOIN sg sb ON vb = sb.vec_id),
ranked AS (
  SELECT va, vb, cos,
         row_number() OVER (PARTITION BY va ORDER BY cos DESC, vb) AS rank
  FROM scored)
SELECT va AS vec_id, vb AS neighbor_id, CAST(rank AS INTEGER) AS rank, cos
FROM ranked WHERE rank <= {KNN_GRAPH_K}
ORDER BY vec_id, rank
"""


register("knn_graph_lsh", knn_graph_lsh, _knn_graph_oracle())


KNN_OUTLIER_PAGE = 50


def knn_density_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN graph's curation consumer: the ``KNN_OUTLIER_PAGE`` least
    locally-dense vectors — density = mean cosine to the node's top-k
    neighbors; vectors whose Hamming-1 ball collided with NOTHING (no
    graph edges at all) are the most isolated and page first with
    n_neighbors = 0 and NULL density.  This is kNN-density outlier
    pruning: the page is the review queue of OOD/noisy/mislabeled
    candidates a curation pass inspects or drops.  One left join of the
    (tiny) per-node aggregate onto the corpus ids + a bounded top-page
    sort; density means fold the 6dp-rounded cosines through DECIMAL, so
    they are partition-order independent."""
    per_node = (
        _knn_graph_edges(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.round(
                (
                    F.sum(F.col("cos").cast("decimal(28,10)"))
                    / F.count(F.lit(1))
                ).cast("double"),
                6,
            ).alias("mean_cos"),
        )
    )
    return (
        _emb(spark, sf_dir)
        .select("vec_id")
        .join(F.broadcast(per_node), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0).cast("long")).alias(
                "n_neighbors"
            ),
            "mean_cos",
        )
        .orderBy(F.col("mean_cos").asc_nulls_first(), F.col("vec_id"))
        .limit(KNN_OUTLIER_PAGE)
    )


def _knn_outlier_oracle() -> str:
    return f"""
WITH g AS ({_knn_graph_oracle()}),
per_node AS (
  SELECT vec_id,
         CAST(count(*) AS BIGINT) AS n_neighbors,
         round(CAST(sum(CAST(cos AS DECIMAL(28,10))) / count(*) AS DOUBLE), 6)
             AS mean_cos
  FROM g GROUP BY vec_id)
SELECT e.vec_id,
       COALESCE(p.n_neighbors, 0) AS n_neighbors,
       p.mean_cos
FROM embeddings e LEFT JOIN per_node p USING (vec_id)
ORDER BY mean_cos ASC NULLS FIRST, vec_id
LIMIT {KNN_OUTLIER_PAGE}
"""


register("knn_density_outliers", knn_density_outliers, _knn_outlier_oracle())


# -- incremental embedding near-dup: new batch vs corpus -------------------------
#
# Completes the incremental-dedup symmetry: text (dedup.dedup_incremental),
# image (phash.media_phash_incremental), and now embeddings — the arm a
# crawl pipeline runs per batch ("is this new vector a near-dup of
# anything already kept?").  Probe side = the NEW slice only, ball-exploded
# to Hamming-1; the corpus side stays 1 row per band, so the join input is
# O(|new| · bands · 9) + O(|corpus| · bands) and the work per crawl is
# proportional to the batch, never the corpus-pair count.  Reuses the
# memoized code table (the LSH index) — at deployment the index is exactly
# the thing an incremental probe reads.

EMB_NEW_MOD = 5  # vec_id % 5 == 0 → "new batch" (picked so the slice
                 # actually bisects the sparse near-dup pair set at every
                 # test SF — the r7 %7 image-slice lesson)


def _probe_new_against_corpus(new: DataFrame, corpus: DataFrame) -> DataFrame:
    """(vec_id, match_id, cos): each NEW coded vector's lowest-id corpus
    match above EMB_DUP_THRESHOLD — the shared probe of the batch
    incremental arm and its streaming twin.  Both sides carry the
    ``_band_bits`` frame shape (vec_id, v, nrm, codes); only the new side
    ball-explodes."""
    masks = [0] + [1 << j for j in range(PAIR_BAND_BITS)]
    masks_lit = "array(" + ", ".join(f"CAST({m} AS BIGINT)" for m in masks) + ")"
    probes = (
        new.select("vec_id", F.posexplode("codes").alias("band", "bits"))
        .select(
            "vec_id",
            "band",
            F.explode(F.expr(f"transform({masks_lit}, m -> bits ^ m)")).alias("pb"),
        )
    )
    build = corpus.select("vec_id", F.posexplode("codes").alias("band", "bits"))
    cand = (
        probes.alias("a")
        .join(
            build.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.pb") == F.col("b.bits")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    scored = _arrow_pair_cos(
        cand,
        new.select("vec_id", "v", "nrm"),
        corpus.select("vec_id", "v", "nrm"),
    ).where(F.col("cos") >= EMB_DUP_THRESHOLD)
    best = scored.groupBy("va").agg(F.min("vb").alias("match_id"))
    return best.join(
        scored,
        (best.va == scored.va) & (best.match_id == scored.vb),
    ).select(best.va.alias("vec_id"), "match_id", "cos")


def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, match_id, cos) for new-batch vectors whose nearest
    banded-LSH corpus match clears EMB_DUP_THRESHOLD; match_id = lowest
    matching corpus id (the text arm's deterministic-representative
    rule), cos = that pair's exact rounded cosine."""
    e = _pair_coded(spark, sf_dir)
    return _probe_new_against_corpus(
        e.where(F.col("vec_id") % EMB_NEW_MOD == 0),
        e.where(F.col("vec_id") % EMB_NEW_MOD != 0),
    ).orderBy("vec_id")


def _emb_inc_oracle() -> str:
    """Same banded pipeline as ``_pair_lsh_oracle`` with the new/corpus
    split on the probe/build arms and a best-match (min corpus id)
    aggregation instead of the symmetric pair report."""
    planes = _pair_planes()
    dim = planes.shape[1]
    band_exprs = []
    for band in range(PAIR_BANDS):
        terms = " + ".join(
            "(CASE WHEN list_sum([CAST(floor(v[k] * "
            f"pm[{band * PAIR_BAND_BITS + j + 1}][k] * {PAIR_Q!r}) AS BIGINT) "
            f"for k in range(1, {dim + 1})]) > 0 "
            f"THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
            for j in range(PAIR_BAND_BITS)
        )
        band_exprs.append(f"({terms}) AS b{band}")
    pm_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in row) + "]"
            for row in planes
        )
        + "]"
    )
    masks = [0] + [1 << j for j in range(PAIR_BAND_BITS)]
    probe_arms = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {band} AS band, "
        f"unnest([{', '.join(f'xor(b{band}, {m})' for m in masks)}]) AS pb "
        f"FROM sg WHERE vec_id % {EMB_NEW_MOD} = 0"
        for band in range(PAIR_BANDS)
    )
    build_arms = "\n  UNION ALL\n  ".join(
        f"SELECT vec_id, {band} AS band, b{band} AS bits FROM sg "
        f"WHERE vec_id % {EMB_NEW_MOD} <> 0"
        for band in range(PAIR_BANDS)
    )
    return f"""
WITH pm(pm) AS (SELECT {pm_lit}),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sg AS MATERIALIZED (SELECT vec_id, v, nrm, {", ".join(band_exprs)}
                    FROM n CROSS JOIN pm),
probes AS (
  {probe_arms}),
build AS (
  {build_arms}),
cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
         FROM probes a JOIN build b
           ON a.band = b.band AND a.pb = b.bits),
scored AS (SELECT va, vb,
                  round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6) AS cos
           FROM cand JOIN sg sa ON va = sa.vec_id JOIN sg sb ON vb = sb.vec_id
           WHERE round(list_dot_product(sa.v, sb.v) / (sa.nrm * sb.nrm), 6)
                 >= {EMB_DUP_THRESHOLD}),
best AS (SELECT va, MIN(vb) AS match_id FROM scored GROUP BY va)
SELECT b.va AS vec_id, b.match_id, s.cos
FROM best b JOIN scored s ON b.va = s.va AND b.match_id = s.vb
ORDER BY vec_id
"""


register(
    "dedup_embedding_incremental",
    dedup_embedding_incremental,
    _emb_inc_oracle(),
)


# -- LSH-bucketed top-k (scale path) -----------------------------------------


def _hyperplanes() -> np.ndarray:
    return np.random.default_rng(42).standard_normal((LSH_PLANES, _DIM))


def _signature(df: DataFrame, planes: np.ndarray) -> DataFrame:
    """Pack sign(v·h_j) bits into an int bucket id — map-only.

    Each hyperplane is inlined as a literal array expression (a named temp
    column would resolve lazily to the last loop iteration)."""
    sig = None
    for j, plane in enumerate(planes):
        arr_sql = "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane) + ")"
        dot = F.expr(_DOT.format(a="v", b=arr_sql))
        bit = F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
        term = F.shiftleft(bit.cast("long"), j)
        sig = term if sig is None else (sig + term)
    return df.withColumn("sig", sig)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors whose hyperplane
    signature is within Hamming 1 of the query's (multiprobe), exact cosine
    re-rank inside the probed buckets.  The hyperplanes are FIXED literal
    constants (seeded numpy), so the whole pipeline is SQL-expressible and
    the DuckDB oracle reproduces it exactly; pytest additionally measures
    recall vs brute force."""
    planes = _hyperplanes()
    e = _signature(_with_norm(_emb(spark, sf_dir)), planes)
    q = e.where(F.col("vec_id") < N_QUERIES)
    c = e.where(F.col("vec_id") >= N_QUERIES)
    probes = F.array(
        F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_PLANES)]
    )
    qp = q.select("vec_id", "v", "nrm", F.explode(probes).alias("probe_sig"))
    cand = (
        F.broadcast(qp).alias("a")
        .join(c.alias("b"), F.col("a.probe_sig") == F.col("b.sig"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("nid"),
            F.round(_cos(), 6).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


# -- IVF top-k (clustered scale path) ----------------------------------------

IVF_CLUSTERS = 16
IVF_NPROBE = 4
IVF_ITERS = 3


def _kmeans_centroids(spark: SparkSession, e: DataFrame) -> list[list[float]]:
    """Deterministic Lloyd iterations: init = the lowest-id corpus vectors;
    per-dimension means are summed through DECIMAL so the result is
    independent of partition order (re-runs give identical centroids).

    TRAINING path only — invoked by scripts/train_ann_models.py, which
    freezes the result into operators/ann_models.py; the query pipelines
    consume the frozen literals (pretrain-on-a-sample is the standard
    billion-scale IVF deployment, and literals make the whole query
    SQL-expressible for the DuckDB oracle).  The model state (k×dim
    doubles) lives on the driver — that is the only collect; assignments
    stay distributed."""
    init = [
        [float(x) for x in r.v]
        for r in e.orderBy("vec_id").limit(IVF_CLUSTERS).collect()
    ]
    centroids = init
    for _ in range(IVF_ITERS):
        assigned = _assign_clusters(e, centroids)
        rows = (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,18)"))
                    / F.count(F.lit(1))
                )
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        new = {(r.cluster, r.pos): r.m for r in rows}
        centroids = [
            [new.get((c, p), centroids[c][p]) for p in range(_DIM)]
            for c in range(IVF_CLUSTERS)
        ]
    return centroids


def _centroids_sql(centroids: list[list[float]]) -> str:
    """Render the centroid matrix as ONE literal array-of-arrays; distances
    are then a `transform` loop — tiny codegen footprint vs unrolling k
    aggregates into nested CASE chains (which blew compile time up)."""
    rows = ", ".join(
        "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in cent) + ")"
        for cent in centroids
    )
    return f"array({rows})"


def _with_centroid_dists(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    dist_sql = (
        f"transform({_centroids_sql(centroids)}, "
        f"c -> aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return df.withColumn("dists", F.expr(dist_sql))


def _assign_clusters(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """argmin over squared centroid distances."""
    return (
        _with_centroid_dists(df, centroids)
        .withColumn(
            "cluster",
            F.expr("CAST(array_position(dists, array_min(dists)) - 1 AS INT)"),
        )
        .drop("dists")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: k-means coarse quantizer, probe the nprobe nearest clusters,
    exact re-rank within them.  Same plan shape as LSH (bucket-equality
    join) with a *learned* bucketing — the standard billion-scale layout.
    The quantizer is FROZEN model state (ann_models.IVF_CENTROIDS, trained
    once by scripts/train_ann_models.py), so the query is a pure
    literal-driven pipeline with a full DuckDB oracle; pytest additionally
    measures recall vs brute force."""
    from .ann_models import IVF_CENTROIDS as centroids

    e = _with_norm(_emb(spark, sf_dir))
    corpus = _assign_clusters(e.where(F.col("vec_id") >= N_QUERIES), centroids)
    queries = _assign_probes(
        e.where(F.col("vec_id") < N_QUERIES), centroids, IVF_NPROBE
    )
    return _ivf_serve(queries, corpus)


def _ivf_serve(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Probe-bucket equality join + exact re-rank — shared by the
    in-session IVF lane and the persisted-assignment reload lane.
    ``queries`` carries (vec_id, v, nrm, probe); ``corpus`` carries
    (vec_id, v, nrm, cluster)."""
    cand = (
        F.broadcast(queries).alias("a")
        .join(corpus.alias("b"), F.col("a.probe") == F.col("b.cluster"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("nid"),
            F.round(_cos(), 6).alias("cos"),
        )
        .distinct()
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


def ann_ivf_reload_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a PERSISTED inverted-list assignment — the fourth cell of
    the reload matrix (PQ code table, MinHash cluster labels, MinHash
    signature index, and now the IVF coarse assignment): the (vec_id,
    cluster) table is built once per corpus version, saved under a
    content key, loaded in a fresh ``newSession()`` (empty memo stores),
    and joined back to the full-precision vectors at serve time — exactly
    the deployment split, where the assignment lives with the index and
    the vectors stay in the source parquet.  The oracle is ann_ivf_topk's
    own: reload parity is hash-checked every round."""
    import os as _os

    from . import persist
    from .ann_models import IVF_CENTROIDS as centroids

    emb = _os.path.join(sf_dir, "embeddings.parquet")
    key = persist.content_key(
        [emb], f"ivf-frozen|{IVF_CLUSTERS}|{IVF_NPROBE}|{centroids!r}"
    )
    sib = spark.newSession()

    def build() -> DataFrame:
        e0 = _with_norm(_emb(spark, sf_dir))
        return _assign_clusters(
            e0.where(F.col("vec_id") >= N_QUERIES), centroids
        ).select("vec_id", "cluster")

    assigned = persist.build_or_load(sib, "ivf_assignments", key, build)
    e = _with_norm(_emb(sib, sf_dir))
    corpus = e.where(F.col("vec_id") >= N_QUERIES).join(assigned, "vec_id")
    queries = _assign_probes(
        e.where(F.col("vec_id") < N_QUERIES), centroids, IVF_NPROBE
    )
    return _ivf_serve(queries, corpus)


def _assign_probes(df: DataFrame, centroids: list[list[float]], nprobe: int) -> DataFrame:
    """Explode each query into its nprobe nearest cluster ids (sorted by
    distance with index tiebreak — deterministic)."""
    k = len(centroids)
    probes = (
        f"transform(slice(array_sort(zip_with(dists, sequence(0, {k - 1}), "
        f"(d, i) -> struct(d AS d, i AS c))), 1, {nprobe}), p -> CAST(p.c AS INT))"
    )
    return (
        _with_centroid_dists(df, centroids)
        .withColumn("probe", F.explode(F.expr(probes)))
        .drop("dists")
    )


# -- product quantization (compressed-domain scale path) ---------------------

PQ_M = 8          # subspaces (64 dims → 8 × 8-dim slices)
PQ_K = 16         # centroids per subspace codebook
PQ_ITERS = 2
# exact re-rank pool per query: ~3% of the corpus at this SF gives ~0.9
# recall@10; the compressed-domain pass prunes the other 97%
PQ_RERANK = 15 * TOP_K


def _pq_codebooks(spark: SparkSession, e: DataFrame) -> list[list[list[float]]]:
    """[m][j][d] codebooks — one deterministic Lloyd run per subspace,
    trained in a SINGLE distributed pass per iteration by exploding
    (subspace, slice) pairs; only the k×M×(dim/M) codebook floats ever
    reach the driver.  TRAINING path only — frozen into
    operators/ann_models.py by scripts/train_ann_models.py (see
    _kmeans_centroids)."""
    sub = _DIM // PQ_M
    init_rows = e.orderBy("vec_id").limit(PQ_K).collect()
    books = [
        [[float(x) for x in r.v[m * sub : (m + 1) * sub]] for r in init_rows]
        for m in range(PQ_M)
    ]
    slices = e.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> struct(m AS m, slice(v, m * {sub} + 1, {sub}) AS sv))"
            )
        ).alias("s"),
    ).select(F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    for _ in range(PQ_ITERS):
        cb_lit = "array(" + ", ".join(_centroids_sql(b) for b in books) + ")"
        assigned = slices.withColumn(
            "j",
            F.expr(
                f"CAST(array_position(transform(element_at({cb_lit}, m + 1), "
                f"c -> aggregate(zip_with(sv, c, (x, y) -> (x - y) * (x - y)), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)), "
                f"array_min(transform(element_at({cb_lit}, m + 1), "
                f"c -> aggregate(zip_with(sv, c, (x, y) -> (x - y) * (x - y)), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)))) - 1 AS INT)"
            ),
        )
        rows = (
            assigned.select("m", "j", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "j", "pos")
            .agg(
                (F.sum(F.col("val").cast("decimal(28,18)")) / F.count(F.lit(1)))
                .cast("double")
                .alias("c")
            )
            .collect()
        )
        new = {(r.m, r.j, r.pos): r.c for r in rows}
        books = [
            [
                [new.get((m, j, p), books[m][j][p]) for p in range(sub)]
                for j in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
    return books


def _pq_code_rows(rows: DataFrame, books) -> DataFrame:
    """Code the given normalized rows (vec_id, ..., vn) against ``books``:
    codes[m] = argmin_j ||slice_m − cb[m][j]||².  The per-subspace distance
    ARRAY is computed once per row and materialized behind a lazy
    localCheckpoint BARRIER before the argmin projection reads it —
    without the barrier CollapseProject inlines the whole distance
    transform into both argmin references and re-evaluates it per lambda
    reference (the interpreted-HOF re-evaluation trap, _band_bits'
    docstring; a 1-element transform binding measured 84 s vs 2.5 s).
    Measured: barrier 0.7 s vs flat-double-render 1.5 s per invocation at
    sf0.1.  Repartitions first: the local test parquet is a single row
    group → a 1-task scan that would compute every code on one core
    (no-op at deployment scale, where file splits provide parallelism).
    Work is proportional to |rows| — the full-corpus build and the
    incremental append (ann_pq_index_append) share this one coder."""
    spark = rows.sparkSession
    sub = _DIM // PQ_M
    cb_lit = "array(" + ", ".join(_centroids_sql(b) for b in books) + ")"
    sqd = (
        "aggregate(zip_with(slice(vn, m * {sub} + 1, {sub}), c, "
        "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ).format(sub=sub)
    dists_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"transform(element_at({cb_lit}, m + 1), c -> {sqd}))"
    )
    code_expr = (
        "transform(dists, d -> CAST(array_position(d, array_min(d)) - 1 AS INT))"
    )
    return (
        rows.repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("dists", F.expr(dists_expr))
        .localCheckpoint(eager=False)
        .withColumn("codes", F.expr(code_expr))
    )


def _unit_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # normalize first: on unit vectors L2² = 2 − 2·cos, so compressed-domain
    # L2 ordering IS cosine ordering (without this, varying norms make ADC
    # rank a different metric than the exact re-rank)
    return _with_norm(_emb(spark, sf_dir)).withColumn(
        "vn", F.expr("transform(v, x -> x / nrm)")
    )


def _pq_corpus(spark: SparkSession, sf_dir: str, books=None) -> DataFrame:
    """The coded corpus IS the PQ index: frozen (``books`` None) or
    content-memoized trained codebooks over fixed content give a
    deterministic code table, built once per corpus and codebook kind and
    reused by every probe.  Before r10 every invocation re-ran the
    K×M-centroid coding fold over the corpus (~2 s of the 2.4-2.8 s
    steady-state at sf0.1), so every run paid index-build cost a
    deployment pays once.  Corpus coding (dists barrier + argmin) lives
    in _pq_code_rows, shared with the incremental index append."""
    tag = "pq-codes|trained"
    if books is None:
        from .ann_models import PQ_CODEBOOKS as books

        tag = "pq-codes|frozen"
    return derived(
        spark,
        sf_dir,
        "embeddings",
        tag,
        lambda: _pq_code_rows(
            _unit_emb(spark, sf_dir).where(F.col("vec_id") >= N_QUERIES), books
        ),
    )


def _pq_parts(
    spark: SparkSession, sf_dir: str, books=None, codes: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the PQ pipeline's three relations: the normalized embedding
    table ``e``, the query subset, and the compressed-domain candidate
    ``pool`` (qid, nid survivors of the ADC rank cut).  Split out so tests
    can pin the pool's plan independently of the exact re-rank stage.
    ``books`` defaults to the frozen pretrained codebooks; the trained-
    in-run variant (ann_pq_trained_topk) passes its own.  ``codes``
    overrides the coded-corpus (vec_id, codes) relation — the persisted-
    index path (ann_pq_reload_topk) supplies the parquet-loaded code
    table here so the ADC scan runs off the reloaded artifact."""
    corpus = codes if codes is not None else _pq_corpus(spark, sf_dir, books)
    if books is None:
        from .ann_models import PQ_CODEBOOKS as books
    e = _unit_emb(spark, sf_dir)
    queries = e.where(F.col("vec_id") < N_QUERIES)
    return e, queries, _pq_pool_for(queries, corpus, books)


def _pq_pool_for(queries: DataFrame, corpus: DataFrame, books) -> DataFrame:
    """Compressed-domain candidate pool (qid, nid) for an arbitrary
    normalized query frame (vec_id, vn) against a coded corpus (vec_id,
    codes) — the ADC scan, factored so the streaming serve lane
    (streaming/ann.py) can run it per query micro-batch against the
    loaded index.

    Classic ADC lookup tables, built ONCE per query row on the broadcast
    side: lut[m][j] = ||q_slice_m − cb[m][j]||².  Per (query, corpus)
    pair the distance is then PQ_M table lookups instead of PQ_M
    interpreted zip_with folds over the raw slices — the same arithmetic
    in the same order (each lut entry IS that fold), so pool membership
    is bit-identical to the inlined form, ~8× cheaper per pair."""
    sub = _DIM // PQ_M
    cb_lit = "array(" + ", ".join(_centroids_sql(b) for b in books) + ")"
    sqd = (
        "aggregate(zip_with(slice({vec}, m * {sub} + 1, {sub}), c, "
        "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    lut_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        f"transform(element_at({cb_lit}, m + 1), c -> {sqd.format(vec='vn', sub=sub)}))"
    )
    q_lut = queries.select(
        "vec_id", F.expr(lut_expr).alias("lut")
    )
    adc = (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0.0 AS DOUBLE), (acc, m) -> acc + "
        f"element_at(element_at(a.lut, m + 1), element_at(b.codes, m + 1) + 1))"
    )
    w_adc = Window.partitionBy("qid").orderBy(F.col("approx_d"), F.col("nid"))
    # Compressed-domain pass: the crossJoin × window stage touches ONLY the
    # 8-byte code arrays — no full-precision vector is read, scored, or
    # shuffled here.  That is the entire point of the PQ layout: at 100 TB
    # the ADC scan streams the 32×-smaller code table, and exact cosines are
    # paid for just |queries|·PQ_RERANK survivors (re-rank join below), not
    # for 100% of the corpus as the pre-r5 shape did.
    return (
        F.broadcast(q_lut).alias("a")
        .crossJoin(corpus.select("vec_id", "codes").alias("b"))
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("nid"),
            F.expr(adc).alias("approx_d"),
        )
        .withColumn("arank", F.row_number().over(w_adc))
        .where(F.col("arank") <= PQ_RERANK)
        .select("qid", "nid")
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric distance + exact re-rank: corpus vectors compress to
    M one-byte codes (32× smaller than raw doubles — the memory-bound
    billion-scale layout); queries score candidates in the compressed
    domain (Σ per-subspace distance to the coded centroid), then ONLY the
    |queries|·PQ_RERANK survivors get the full-precision cosine via a
    broadcast join back to the vector table.  The codebooks are FROZEN
    model state (ann_models.PQ_CODEBOOKS, trained once by
    scripts/train_ann_models.py), so the query is literal-driven with a
    full DuckDB oracle; pytest additionally measures recall vs brute force
    and pins the pool plan to the compressed domain (no exact cosine, no
    cartesian re-rank)."""
    e, queries, pool = _pq_parts(spark, sf_dir)
    return _pq_exact_rerank(e, queries, pool)


def _pq_exact_rerank(e, queries, pool) -> DataFrame:
    # Exact re-rank: the survivor set is BOUNDED by construction
    # (|queries|·PQ_RERANK rows), so hand it back via a broadcast hash
    # join — the ADC job runs exactly once, inside the broadcast
    # exchange, and no survivor row touches the driver.  (The pre-r6
    # shape collected the pool into a local relation; an id IN-list was
    # measured SLOWER still — ≈+0.7 s of per-call In-list analysis for
    # 1200 literals.  At deployment scale the same shape holds: the
    # bounded pool broadcasts, the full-precision vector table streams.)
    exact = (
        e.where(F.col("vec_id") >= N_QUERIES).alias("b")
        .join(F.broadcast(pool).alias("p"), F.col("p.nid") == F.col("b.vec_id"))
        .join(
            F.broadcast(queries.select("vec_id", "v", "nrm")).alias("a"),
            F.col("p.qid") == F.col("a.vec_id"),
        )
        .select(
            F.col("p.qid").alias("qid"),
            F.col("p.nid").alias("nid"),
            F.round(_cos(), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("qid", "nid", "cos", F.col("rank").cast("int").alias("rank"))
        .orderBy("qid", "rank")
    )


# -- persisted PQ index: restart-survivable reload parity ----------------------
#
# The memoized coded corpus above (_pq_corpus) dies with the Spark
# application — a deployment restart pays the full corpus-coding pass
# again.  This entry exercises the REAL index lifecycle (r10 verdict ask
# #4): the code table is saved to parquet under a content key
# (persist.py), a FRESH SparkSession (newSession — empty memo stores,
# separate temp-view catalog) loads it back, and the search runs entirely
# off the reloaded artifact.  The oracle is ann_pq_topk's own: reload
# parity means hash-identical top-k, checked by the gate every round.
# At 100 TB this is the difference between "an index" and "a warm cache":
# the coding pass runs once per corpus version, and every later session —
# process restarts included — pays only the parquet scan of the 32×-
# smaller code table.


def pq_codes_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistable PQ index relation: (vec_id, codes) under the frozen
    codebooks — exactly what the ADC scan consumes.  Reuses the same
    memoized coded corpus the in-session path builds, so save-after-build
    costs one parquet write of the code table, not a second coding pass."""
    return _pq_corpus(spark, sf_dir).select("vec_id", "codes")


def ann_pq_reload_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build → save → load in a ``newSession()`` → top-k, hash-identical
    to ann_pq_topk (same oracle).  First invocation per corpus version
    persists the code table; every later invocation — including a new
    PROCESS — skips the coding pass and scans the artifact."""
    import os as _os

    from . import persist
    from .ann_models import PQ_CODEBOOKS as books

    emb = _os.path.join(sf_dir, "embeddings.parquet")
    # model token embeds every codebook float and the layout params, so
    # retraining or re-tuning invalidates the artifact by key change
    key = persist.content_key([emb], f"pq-frozen|{PQ_M}|{PQ_K}|{books!r}")
    sib = spark.newSession()  # fresh memo stores + temp-view catalog
    codes = persist.build_or_load(
        sib, "pq_codes", key, lambda: pq_codes_index(spark, sf_dir)
    )
    e, queries, pool = _pq_parts(sib, sf_dir, codes=codes)
    return _pq_exact_rerank(e, queries, pool)


def ann_pq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance — the growing-corpus lifecycle that
    separates an index from a one-shot build: the persisted code table
    covers the BASE corpus (``vec_id % EMB_NEW_MOD != 0``, the established
    new-batch convention of dedup_embedding_incremental); the arriving
    slice is coded with work proportional to |new| ONLY (the shared
    ``_pq_code_rows`` coder — never a corpus recode), unioned with the
    loaded base, and the combined table serves the ADC scan.  Per-row
    coding is deterministic, so base∪delta is bit-identical to the full
    rebuild — the oracle is ann_pq_topk's own, making 'append ≡ rebuild'
    a hash-checked gate row.  At 100 TB this is the daily operation:
    yesterday's code table is parquet, today's crawl codes in O(|new|),
    and the proof that nothing drifted is this entry staying green."""
    import os as _os

    from . import persist
    from .ann_models import PQ_CODEBOOKS as books

    emb = _os.path.join(sf_dir, "embeddings.parquet")
    key = persist.content_key(
        [emb], f"pq-frozen-base|{PQ_M}|{PQ_K}|mod{EMB_NEW_MOD}|{books!r}"
    )
    sib = spark.newSession()

    def build_base() -> DataFrame:
        e = _with_norm(_emb(spark, sf_dir)).withColumn(
            "vn", F.expr("transform(v, x -> x / nrm)")
        )
        base_rows = e.where(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") % EMB_NEW_MOD != 0)
        )
        return _pq_code_rows(base_rows, books).select("vec_id", "codes")

    base = persist.build_or_load(sib, "pq_codes_base", key, build_base)
    e_sib = _with_norm(_emb(sib, sf_dir)).withColumn(
        "vn", F.expr("transform(v, x -> x / nrm)")
    )
    fresh = _pq_code_rows(
        e_sib.where(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") % EMB_NEW_MOD == 0)
        ),
        books,
    ).select("vec_id", "codes")
    e, queries, pool = _pq_parts(sib, sf_dir, codes=base.unionByName(fresh))
    return _pq_exact_rerank(e, queries, pool)


# registered next to ann_pq_topk below (after _pq_oracle is defined)


# -- per-label vector stats --------------------------------------------------


def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label count and mean L2 norm — the sanity profile run before any
    ANN/cluster work (catches unnormalized or degenerate embedding groups).
    The norm is a per-row array fold (deterministic: same element order in
    both engines); the mean goes through DECIMAL so it is order-independent."""
    e = read_table(spark, sf_dir, "embeddings")
    nrm = F.expr(
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)))
            .alias("mean_norm"),
        )
        .select("label", "n_vectors", F.round("mean_norm", 6).alias("mean_norm"))
        .orderBy("label")
    )


EMB_STATS_ORACLE = """
WITH n AS (
  SELECT label,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       round(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
           AS mean_norm
FROM n GROUP BY label ORDER BY label
"""


def _duck_sq(vec: str, cvar: str, sub: int, off: str = "") -> str:
    """Rendered squared-L2 between a vector slice and a centroid — the same
    left-to-right element fold the Spark side's aggregate(zip_with(..))
    performs, so distances are bit-comparable across engines."""
    idx = f"{off}i" if not off else f"{off} + i"
    return (
        f"list_sum([({vec}[{idx}] - {cvar}[i]) * ({vec}[{idx}] - {cvar}[i]) "
        f"for i in range(1, {sub} + 1)])"
    )


def _ivf_oracle() -> str:
    """DuckDB rendering of the identical frozen-quantizer IVF pipeline:
    same centroid literals, argmin cluster assignment, (distance, index)
    probe ordering, bucket-equality candidates, exact rounded re-rank."""
    from .ann_models import IVF_CENTROIDS

    cents = (
        "["
        + ", ".join(
            "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c) + "]"
            for c in IVF_CENTROIDS
        )
        + "]"
    )
    dist = _duck_sq("v", "c", _DIM)
    return f"""
WITH ct AS (SELECT {cents} AS cents),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
d AS (SELECT vec_id, v, nrm,
             list_transform(cents, c -> {dist}) AS dists
      FROM n, ct),
corpus AS (SELECT vec_id, v, nrm,
                  list_position(dists, list_min(dists)) - 1 AS cluster
           FROM d WHERE vec_id >= {N_QUERIES}),
qp AS (SELECT vec_id, v, nrm, unnest(probes) AS probe FROM (
         SELECT vec_id, v, nrm,
                list_transform(list_slice(list_sort(
                  [{{'d': dists[j + 1], 'c': j}} for j in range(0, {IVF_CLUSTERS})]),
                  1, {IVF_NPROBE}), p -> p.c) AS probes
         FROM d WHERE vec_id < {N_QUERIES})),
cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid,
                round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         FROM qp a JOIN corpus b ON a.probe = b.cluster),
r AS (SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM cand)
SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {TOP_K} ORDER BY qid, rank
"""


_DUCK_PQ_PRELUDE = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
u AS (SELECT vec_id, v, nrm, list_transform(v, x -> x / nrm) AS vn FROM n)"""


def _pq_search_body() -> str:
    """The search half of the PQ oracle — expects CTEs ``u`` (normalized
    vectors) and ``cbt(cb)`` (the [m][j][d] codebooks) to be in scope, so
    the frozen-literal and trained-in-run variants share one definition."""
    sub = _DIM // PQ_M
    sq = _duck_sq("vn", "c", sub, off=f"m * {sub}")
    adc_inner = (
        f"list_sum([(a.vn[m * {sub} + i] - cb[m + 1][b.codes[m + 1] + 1][i]) * "
        f"(a.vn[m * {sub} + i] - cb[m + 1][b.codes[m + 1] + 1][i]) "
        f"for i in range(1, {sub} + 1)])"
    )
    return f"""corpus AS (SELECT vec_id, v, nrm, vn,
                  [list_position(list_transform(cb[m + 1], c -> {sq}),
                                 list_min(list_transform(cb[m + 1], c -> {sq}))) - 1
                   for m in range(0, {PQ_M})] AS codes
           FROM u, cbt WHERE vec_id >= {N_QUERIES}),
q AS (SELECT vec_id, v, nrm, vn FROM u WHERE vec_id < {N_QUERIES}),
pool AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                list_sum([{adc_inner} for m in range(0, {PQ_M})]) AS approx_d,
                round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
         FROM q a CROSS JOIN corpus b CROSS JOIN cbt),
ranked AS (SELECT qid, nid, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY approx_d, nid) AS arank
           FROM pool),
rr AS (SELECT qid, nid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
       FROM ranked WHERE arank <= {PQ_RERANK})
SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
FROM rr WHERE rank <= {TOP_K} ORDER BY qid, rank
"""


def _pq_oracle() -> str:
    """DuckDB rendering of the frozen-codebook PQ pipeline: per-subspace
    argmin codes, asymmetric compressed-domain distance, (approx_d, nid)
    re-rank pool cut, exact rounded-cosine final rank."""
    from .ann_models import PQ_CODEBOOKS

    cb = (
        "["
        + ", ".join(
            "["
            + ", ".join(
                "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in cent) + "]"
                for cent in book
            )
            + "]"
            for book in PQ_CODEBOOKS
        )
        + "]"
    )
    return f"""
WITH cbt AS (SELECT {cb} AS cb),{_DUCK_PQ_PRELUDE},
{_pq_search_body()}"""


register("ann_bruteforce_topk", ann_bruteforce_topk, ANN_BRUTE_ORACLE)
register("ann_pq_topk", ann_pq_topk, _pq_oracle())  # frozen codebooks
# reload parity: same oracle as ann_pq_topk — the persisted-index path
# must be hash-identical to the in-session path
register("ann_pq_reload_topk", ann_pq_reload_topk, _pq_oracle())
# append ≡ rebuild: the incrementally-maintained index (persisted base +
# O(|new|)-coded delta) must serve the identical top-k
register("ann_pq_index_append", ann_pq_index_append, _pq_oracle())
register("embedding_label_stats", embedding_label_stats, EMB_STATS_ORACLE)
register("dedup_embedding_cosine", dedup_embedding_cosine, EMB_DEDUP_ORACLE)
def _lsh_oracle() -> str:
    """DuckDB rendering of the identical LSH pipeline: the same plane
    literals, sign-bit packing, Hamming-1 multiprobe, and re-rank."""
    planes = _hyperplanes()
    sig_terms = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane)
        + f"]) > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    probe_list = ", ".join(
        ["sig"] + [f"xor(sig, {1 << j})" for j in range(LSH_PLANES)]
    )
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
sg AS (SELECT vec_id, v, nrm, {sig_terms} AS sig FROM n),
qp AS (SELECT vec_id, v, nrm, unnest([{probe_list}]) AS probe_sig
       FROM sg WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid,
         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
  FROM qp a JOIN sg b ON a.probe_sig = b.sig
  WHERE b.vec_id >= {N_QUERIES}),
r AS (SELECT qid, nid, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      FROM cand)
SELECT qid, nid, cos, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= {TOP_K} ORDER BY qid, rank
"""


register("ann_lsh_topk", ann_lsh_topk, _lsh_oracle())
register("ann_ivf_topk", ann_ivf_topk, _ivf_oracle())  # frozen quantizer
# persisted inverted-list assignment, served in a fresh session — same oracle
register("ann_ivf_reload_topk", ann_ivf_reload_topk, _ivf_oracle())


# -- semantic dedup (SemDeDup: cluster-partitioned cosine) --------------------

# Same τ as the all-pairs ground truth so pytest can measure exactly what
# the cluster partition costs in recall.
SEMDEDUP_TAU = EMB_DUP_THRESHOLD


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication"):
    k-means-partition the embedding space, then compare pairs ONLY within
    a cluster — cross-cluster pairs are never considered, which is the
    published trade: cost drops from O(n²) to Σ|cluster|² for a bounded,
    measured recall loss (pytest pins it against the all-pairs ground
    truth).  The partitioner is the FROZEN coarse quantizer
    (ann_models.IVF_CENTROIDS) so the whole pipeline is literal-driven
    and fully oracle-checkable.

    Keep-rule: a vector is REMOVED iff some LOWER-id cluster-mate has
    rounded cosine ≥ τ (deterministic one-sided rule — no iteration
    order, no transitive closure).  One row per removed vector with its
    keeper (the min matching lower id) and the number of similar
    lower-id mates.

    Scale: cluster assignment is map-only over centroid literals; the
    self-join's EQUALITY key is the cluster id, so it shuffles on
    clusters, never crosses them.  k=16 here (test corpus); at 100 TB the
    cluster count is the knob that bounds Σ|cluster|² — SemDeDup's paper
    uses ~100k clusters for the same reason, and the plan shape is
    unchanged."""
    from .ann_models import IVF_CENTROIDS as centroids

    e = _with_norm(_emb(spark, sf_dir))
    a = _assign_clusters(e, centroids)
    pairs = _semantic_pairs_pandas(
        a.select("vec_id", "cluster", "v", "nrm"), SEMDEDUP_TAU
    )
    return (
        pairs.groupBy("vec_id", "cluster")
        .agg(
            F.count(F.lit(1)).alias("n_similar"),
            F.min("lower_id").alias("keeper"),
        )
        .orderBy("vec_id")
    )


_RERANK_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("lower_id", T.LongType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


def _semantic_pairs_pandas(assigned: DataFrame, tau: float) -> DataFrame:
    """Per-cluster all-pairs cosine via applyInPandas — the true SemDeDup
    layout: each vector crosses the wire ONCE (its cluster's group), and
    the Σ|cluster|² pair arithmetic runs vectorized inside the group.
    Replaces the self-join + interpreted HOF dot, which (a) shipped both
    vectors per PAIR (~132 MB at sf0.1 vs ~2 MB here) and (b) evaluated
    the fold at ~18 µs/pair in the interpreter (measured 2.3 s for 129k
    pairs — >4× the join itself).  Bit-parity with the old plan and the
    DuckDB oracle is by construction:

    - pair dot = per-row ``cumsum[:, -1]`` over elementwise products —
      the same left-to-right float64 fold as the SQL
      ``aggregate(.., 0.0, (acc,x) -> acc+x)`` (0.0+x0 == x0 exactly);
      NOT a BLAS gemm, whose reduction order is unspecified;
    - division/multiplication order matches ``_cos`` exactly;
    - 6dp rounding is ``Decimal(repr(x)).quantize(HALF_UP)`` — Spark's
      ``round(double, 6)`` (the pandas_ops recipe) — applied only inside
      a generous tau margin (1e-6 > the half-up window), so the Decimal
      cost is survivors-sized.

    Parallelism is cluster-count-bounded (16 here; SemDeDup deployments
    use ~100k clusters, so group skew is the knob, same as the join)."""
    import numpy as np
    import pandas as pd

    CHUNK = 1 << 18  # pairs per product block: bounds the m×dim buffer

    def pair_chunks(n: int):
        """Upper-triangle index pairs in blocks of ≈CHUNK, generated
        LAZILY per anchor-row run — materializing the full triu_indices
        up front is O(n²) int64 before any chunking (r9 ADVICE: a 100k-
        vector cluster would allocate ~160 GB of indices and OOM the
        worker where the old self-join merely spilled).  Each block is
        at most CHUNK + n pairs."""
        i = 0
        while i < n - 1:
            rows, total = [], 0
            while i < n - 1 and total < CHUNK:
                rows.append(i)
                total += n - 1 - i
                i += 1
            ai = np.repeat(
                np.asarray(rows, dtype=np.int64),
                [n - 1 - r for r in rows],
            )
            bi = np.concatenate(
                [np.arange(r + 1, n, dtype=np.int64) for r in rows]
            )
            yield ai, bi

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("1e-6")
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "cluster": [], "lower_id": [], "cos": []}
            ).astype({"vec_id": "int64", "cluster": "int32",
                      "lower_id": "int64", "cos": "float64"})
        V = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        outs = []
        for a_idx, b_idx in pair_chunks(n):  # ids[a] < ids[b] (sorted)
            raw = np.cumsum(V[a_idx] * V[b_idx], axis=1)[:, -1] / (
                nrm[a_idx] * nrm[b_idx]
            )
            near = raw >= tau - 1e-6
            if not near.any():
                continue
            # repr(float(x)) not repr(x): numpy>=2 reprs scalars as
            # 'np.float64(…)', which Decimal rejects (r9 ADVICE); float()
            # keeps the shortest-repr round-trip bit-exactly.
            cos = np.array(
                [
                    float(Decimal(repr(float(x))).quantize(q6, rounding=ROUND_HALF_UP))
                    for x in raw[near]
                ]
            )
            keep = cos >= tau
            if keep.any():
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids[b_idx[near]][keep],
                            "cluster": pdf["cluster"].iloc[0],
                            "lower_id": ids[a_idx[near]][keep],
                            "cos": cos[keep],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame(
                {"vec_id": [], "cluster": [], "lower_id": [], "cos": []}
            ).astype({"vec_id": "int64", "cluster": "int32",
                      "lower_id": "int64", "cos": "float64"})
        return pd.concat(outs, ignore_index=True)

    return assigned.groupBy("cluster").applyInPandas(
        per_cluster, schema=_RERANK_SCHEMA
    )


def _semantic_oracle() -> str:
    """DuckDB rendering of the identical frozen-quantizer cluster-then-
    cosine pipeline (same centroid literals and argmin as _ivf_oracle)."""
    from .ann_models import IVF_CENTROIDS

    cents = (
        "["
        + ", ".join(
            "[" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c) + "]"
            for c in IVF_CENTROIDS
        )
        + "]"
    )
    dist = _duck_sq("v", "c", _DIM)
    return f"""
WITH ct AS (SELECT {cents} AS cents),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
d AS (SELECT vec_id, v, nrm, list_transform(cents, c -> {dist}) AS dists
      FROM n, ct),
c AS (SELECT vec_id, v, nrm,
             CAST(list_position(dists, list_min(dists)) - 1 AS INTEGER) AS cluster
      FROM d),
p AS (SELECT b.vec_id AS vec_id, b.cluster AS cluster, a.vec_id AS lower_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
      FROM c a JOIN c b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
            >= {SEMDEDUP_TAU})
SELECT vec_id, cluster, CAST(count(*) AS BIGINT) AS n_similar,
       min(lower_id) AS keeper
FROM p GROUP BY vec_id, cluster ORDER BY vec_id
"""


register("dedup_semantic", dedup_semantic, _semantic_oracle())


# -- hybrid retrieval: text + vector via reciprocal-rank fusion ---------------

RRF_K = 60  # standard RRF dampening constant
RRF_TOP = 20
RRF_CAND = 1000  # per-leg candidate-list depth (rank within top-RRF_CAND)
RRF_QID = 0  # the query vector; its tf-idf twin is tfidf.QUERY_TERMS


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the lexical (tf·idf) ranking and the dense
    (cosine) ranking with reciprocal-rank fusion —
    ``rrf = Σ 1/(K + rank_list)`` over the lists a doc appears in.  This
    is the standard shape of modern corpus search (sparse + dense, fused
    rank-side so the two score scales never need calibration).

    Both legs stay distributed: tf·idf is the postings pipeline
    (broadcast query terms), cosine is the broadcast-query brute-force
    scan; the fusion itself is a full-outer join of two slim (doc_id,
    rank) frames.  doc_id ≡ vec_id in the driver corpus."""
    from .tfidf import tfidf_scores

    return _hybrid_rrf(spark, sf_dir, tfidf_scores)


def hybrid_search_rrf_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid_search_rrf with the lexical leg upgraded to BM25 (the
    ranking ES itself converged to) — identical fusion, vector leg, and
    candidate-depth semantics; only the text-leg scorer differs."""
    from .tfidf import bm25_scores

    return _hybrid_rrf(spark, sf_dir, bm25_scores)


def _hybrid_rrf(spark: SparkSession, sf_dir: str, scorer) -> DataFrame:
    # Both legs rank the SAME universe: doc_id ≡ vec_id, and vec_ids
    # 0..N_QUERIES-1 are reserved as query vectors, so the text leg
    # excludes them too — otherwise those docs could never earn a vector
    # rank (halved rrf) and the query's own document could surface.
    docs = _docs_table(spark, sf_dir).where(F.col("doc_id") >= N_QUERIES)
    tscore = scorer(spark, docs).withColumnRenamed("score", "tscore")
    # Rank within the top-RRF_CAND candidates only: the cut is a
    # distributed TakeOrderedAndProject, so the global row_number runs on a
    # bounded frame (standard RRF fuses top-k lists, not full rankings).
    wt = Window.orderBy(F.col("tscore").desc(), F.col("doc_id"))
    text_ranked = (
        tscore.orderBy(F.col("tscore").desc(), F.col("doc_id"))
        .limit(RRF_CAND)
        .select("doc_id", F.row_number().over(wt).alias("trank"))
    )

    e = _with_norm(_emb(spark, sf_dir))
    qv = e.where(F.col("vec_id") == RRF_QID)
    corpus = e.where(F.col("vec_id") >= N_QUERIES)
    scored = (
        F.broadcast(qv).alias("a")
        .crossJoin(corpus.alias("b"))
        .select(F.col("b.vec_id").alias("doc_id"), F.round(_cos(), 6).alias("cos"))
    )
    wv = Window.orderBy(F.col("cos").desc(), F.col("doc_id"))
    vec_ranked = (
        scored.orderBy(F.col("cos").desc(), F.col("doc_id"))
        .limit(RRF_CAND)
        .select("doc_id", F.row_number().over(wv).alias("vrank"))
    )

    fused = (
        text_ranked.join(vec_ranked, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(RRF_K) + F.col("trank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("vrank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
            "trank",
            "vrank",
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(RRF_TOP)
    )
    return fused


def _docs_table(spark: SparkSession, sf_dir: str):
    from ..io import read_table

    return read_table(spark, sf_dir, "documents")


def _hybrid_oracle() -> str:
    tscore_cte = """
n AS (SELECT count(*) AS n_docs FROM corpus_docs),
tscore AS (
  SELECT doc_id, round(SUM(tf * ln((n_docs + 1) / (df + 1))), 6) AS tscore
  FROM matched JOIN df_t USING (term) CROSS JOIN n GROUP BY doc_id
)"""
    return _hybrid_oracle_with(tscore_cte)


def _hybrid_bm25_oracle() -> str:
    from .tfidf import DUCK_TOKENS, _bm25_weight_sql

    w = _bm25_weight_sql("n_docs", "total_tokens")
    tscore_cte = f"""
dl AS (SELECT doc_id, len({DUCK_TOKENS}) AS dl FROM corpus_docs),
n AS (SELECT count(*) AS n_docs, (SELECT SUM(dl) FROM dl) AS total_tokens
      FROM corpus_docs),
tscore AS (
  SELECT doc_id, round(SUM({w}), 6) AS tscore
  FROM matched JOIN df_t USING (term) JOIN dl USING (doc_id) CROSS JOIN n
  GROUP BY doc_id
)"""
    return _hybrid_oracle_with(tscore_cte)


def _hybrid_oracle_with(tscore_cte: str) -> str:
    """Shared DuckDB rendering of the RRF fusion; ``tscore_cte`` supplies
    the lexical leg (tf·idf or BM25) as CTEs ending in tscore(doc_id,
    tscore), with corpus_docs/matched/df_t in scope."""
    from .tfidf import DUCK_TOKENS, QUERY_TERMS

    terms = ", ".join(f"('{t}')" for t in QUERY_TERMS)
    return f"""
WITH corpus_docs AS (
  SELECT * FROM documents WHERE doc_id >= {N_QUERIES}
), postings AS (
  SELECT doc_id, unnest({DUCK_TOKENS}) AS term FROM corpus_docs
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM postings GROUP BY doc_id, term
), q(term) AS (VALUES {terms}),
matched AS (SELECT tf.* FROM tf JOIN q USING (term)),
df_t AS (SELECT term, count(DISTINCT doc_id) AS df FROM matched GROUP BY term),
{tscore_cte},
text_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY tscore DESC, doc_id) AS INTEGER) AS trank
  FROM tscore ORDER BY tscore DESC, doc_id LIMIT {RRF_CAND}
),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
nm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cs AS (SELECT b.vec_id AS doc_id,
              round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
       FROM nm a JOIN nm b ON b.vec_id >= {N_QUERIES}
       WHERE a.vec_id = {RRF_QID}),
vec_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER) AS vrank
  FROM cs ORDER BY cos DESC, doc_id LIMIT {RRF_CAND}
)
SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
       round(COALESCE(1.0 / ({RRF_K} + t.trank), 0)
             + COALESCE(1.0 / ({RRF_K} + v.vrank), 0), 6) AS rrf,
       t.trank, v.vrank
FROM text_ranked t FULL OUTER JOIN vec_ranked v ON t.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id
LIMIT {RRF_TOP}
"""


register("hybrid_search_rrf", hybrid_search_rrf, _hybrid_oracle())
register("hybrid_search_rrf_bm25", hybrid_search_rrf_bm25, _hybrid_bm25_oracle())


# -- cluster quality (Davies-Bouldin over labels) -----------------------------


def embedding_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: member count, within-cluster scatter (mean L2 distance to
    the label centroid) and the Davies-Bouldin term
    ``max_{j≠i} (s_i + s_j) / d(c_i, c_j)`` — the standard internal
    clustering metric, computed as pure DataFrame algebra.

    Plan: ONE posexplode pass builds per-(label, dim) DECIMAL-exact means
    (the centroid table is |labels|×dim rows — broadcastable); vectors join
    their centroid back for the scatter agg; the pairwise DB matrix is
    |labels|² rows of driver-free column math.  Centroid components are
    rounded to 9dp before any distance so both engines fold identical
    inputs in identical (dim) order."""
    e = read_table(spark, sf_dir, "embeddings")
    dims = (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.round(
                (
                    F.sum(F.col("x").cast("decimal(28,10)")) / F.count(F.lit(1))
                ).cast("double"),
                9,
            ).alias("m")
        )
    )
    # centroids feeds the scatter join AND both sides of the pairwise DB
    # matrix; scatter feeds a/b and the final join — materialize both tiny
    # frames once (same pattern as q21's lines / minhash's sig).
    centroids = dims.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, m))), s -> s.m)").alias("c")
    ).localCheckpoint(eager=False)
    dist = (
        "sqrt(aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - y) * "
        "(CAST(x AS DOUBLE) - y)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    scatter = (
        e.join(F.broadcast(centroids), "label")
        .select("label", F.expr(dist.format(a="embedding", b="c")).alias("d"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                (F.sum(F.col("d").cast("decimal(28,10)")) / F.count(F.lit(1))).cast(
                    "double"
                ),
                6,
            ).alias("scatter"),
        )
    ).localCheckpoint(eager=False)
    a = scatter.join(centroids, "label").select(
        F.col("label").alias("la"), F.col("scatter").alias("sa"), F.col("c").alias("ca")
    )
    b = scatter.join(centroids, "label").select(
        F.col("label").alias("lb"), F.col("scatter").alias("sb"), F.col("c").alias("cb")
    )
    pair_dist = F.expr(
        "sqrt(aggregate(zip_with(ca, cb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )
    db = (
        a.join(b, F.col("la") != F.col("lb"))
        .select("la", "sa", ((F.col("sa") + F.col("sb")) / pair_dist).alias("term"))
        .groupBy("la", "sa")
        .agg(F.round(F.max("term"), 6).alias("db_index"))
    )
    return (
        scatter.join(db, scatter.label == db.la)
        .select("label", "n_vectors", "scatter", "db_index")
        .orderBy("label")
    )


CLUSTER_QUALITY_ORACLE = """
WITH dims AS (
  SELECT label, i - 1 AS dim,
         round(CAST(sum(CAST(embedding[i] AS DECIMAL(28,10))) / count(*)
                    AS DOUBLE), 9) AS m
  FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
  GROUP BY label, dim
),
centroids AS (
  SELECT label, list(m ORDER BY dim) AS c FROM dims GROUP BY label
),
scatter AS (
  SELECT e.label,
         CAST(count(*) AS BIGINT) AS n_vectors,
         round(CAST(sum(CAST(
             sqrt(list_sum([(CAST(e.embedding[i] AS DOUBLE) - ct.c[i])
                            * (CAST(e.embedding[i] AS DOUBLE) - ct.c[i])
                            for i in range(1, len(ct.c) + 1)]))
           AS DECIMAL(28,10))) / count(*) AS DOUBLE), 6) AS scatter
  FROM embeddings e JOIN centroids ct USING (label)
  GROUP BY e.label
),
db AS (
  SELECT a.label, a.scatter AS sa,
         round(max((a.scatter + b.scatter) /
             sqrt(list_sum([(ca.c[i] - cb.c[i]) * (ca.c[i] - cb.c[i])
                            for i in range(1, len(ca.c) + 1)]))), 6) AS db_index
  FROM scatter a JOIN centroids ca ON a.label = ca.label
  JOIN scatter b ON a.label <> b.label
  JOIN centroids cb ON b.label = cb.label
  GROUP BY a.label, a.scatter
)
SELECT s.label, s.n_vectors, s.scatter, d.db_index
FROM scatter s JOIN db d ON s.label = d.label
ORDER BY s.label
"""


register("embedding_cluster_quality", embedding_cluster_quality, CLUSTER_QUALITY_ORACLE)
