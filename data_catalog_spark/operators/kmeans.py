"""In-engine k-means training (Lloyd's algorithm) as a registered,
oracle-checked operator.

The IVF / PQ / SemDeDup quantizers consume FROZEN centroid literals
(operators/ann_models.py, generated offline by scripts/train_ann_models.py).
``kmeans_train`` promotes the training itself to a first-class engine
operator: every Lloyd iteration is one distributed Spark aggregation;
the driver holds only the k×dim model state between iterations (the same
control-only loop shape as corpus._connected_components).  The DuckDB
oracle REPLAYS the identical iterations, so the gate checks the trained
model, not just the code path.

Cross-engine determinism (the part that makes a trained model
hash-checkable at all):

- **Fixed-point sums, not decimal casts of raw doubles.**  Each summed
  value is first quantized to integer microunits — ``round(x * 1e6)`` is
  half-away-from-zero in BOTH engines — and summed as DECIMAL(38,0)
  (exact, order-independent, no overflow at any realistic scale; a
  bigint would overflow near 1e19 at 100 TB).  Casting a raw double to
  DECIMAL(28,18) instead would hit the scale-18 rounding *tie* for any
  value with exactly 19 fractional bits (~1.5% of random floats), where
  Spark's HALF_UP and another engine's HALF_EVEN can disagree.
- **One double division at the end**: centroid = (sum / n) / 1e6 in IEEE
  double on both sides, so every iteration's centroids are bitwise equal,
  distances (same zip-with fold order; see the list-comprehension parity
  note in the module docstring of similarity.py) are bitwise equal, and
  argmin assignments are identical.
- Ties in argmin resolve to the LOWEST cluster index on both engines
  (array_position / list_position return the first match).

Scale design (100 TB): each iteration = one map-side-combined groupBy on
(cluster, pos) producing k·dim rows — the shuffle is model-sized, not
data-sized; assignment is a map-only pass against broadcast centroid
literals.  Reference parity: the reference has no in-engine training; this
is part of the LLM-pipeline surface (IVF coarse-quantizer training).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register
from .session_cache import derived
from .similarity import _emb

K_TRAIN = 8
TRAIN_ITERS = 4
_DIM = 64
_Q = 1_000_000.0  # microunit fixed-point quantum

_VIEW_SEQ = itertools.count()


def _uview(df: DataFrame, prefix: str) -> str:
    """Register ``df`` under a per-call UNIQUE temp view name (fixed names
    like ``__km_e`` would let interleaved operators silently read each
    other's views in one session)."""
    name = f"{prefix}_{next(_VIEW_SEQ)}"
    df.createOrReplaceTempView(name)
    return name


def _shared_emb(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """The (vec_id, v) embeddings frame behind one lazy localCheckpoint,
    plus its registered view name — shared by the training surfaces.
    Session-scoped like every ``derived`` value: temp views live in a
    session's catalog, so a sibling ``spark.newSession()`` builds (and
    registers) its own entry."""

    def build() -> tuple[DataFrame, str]:
        e = _emb(spark, sf_dir).localCheckpoint(eager=False)
        return e, _uview(e, "__km_e")

    return derived(spark, sf_dir, "embeddings", "km-emb", build)


def _trained_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The coarse k=8 Lloyd model over the embeddings corpus, trained once
    per corpus content and session, and shared by kmeans_train +
    ann_ivf_trained_topk; a regenerated embeddings.parquet retrains."""
    return derived(
        spark,
        sf_dir,
        "embeddings",
        "km-coarse",
        lambda: _lloyd_centroids(spark, _shared_emb(spark, sf_dir)[1]),
    )


def _micro_sum(col: str) -> F.Column:
    """Exact, order-independent sum of round(col · 1e6) microunits."""
    return F.sum(
        F.round(F.col(col) * F.lit(_Q)).cast("decimal(38,0)")
    )


def _dists_sql(cents: list[list[float]]) -> str:
    from .similarity import _centroids_sql

    return (
        f"transform({_centroids_sql(cents)}, "
        f"c -> aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
    )


def _lloyd_centroids(spark: SparkSession, view: str = "__km_e") -> list[list[float]]:
    """One analyzed statement per Lloyd iteration over the (vec_id, v)
    ``view`` — callers must register it explicitly (passing the name keeps
    a forgotten registration an immediate analysis error instead of
    silently training on whatever a previous query left behind).
    DataFrame-composed iterations spent ~0.5 s/round in eager re-analysis
    — the dedup two-statement finding applied to a loop."""
    init = [
        [float(x) for x in r.v]
        for r in spark.sql(
            f"SELECT v FROM {view} ORDER BY vec_id LIMIT {K_TRAIN}"
        ).collect()
    ]
    cents = init
    for _ in range(TRAIN_ITERS):
        rows = spark.sql(
            f"""
WITH a AS (SELECT v, {_dists_sql(cents)} AS dists FROM {view}),
s AS (SELECT CAST(array_position(dists, array_min(dists)) - 1 AS INT)
             AS cluster,
             posexplode(v) AS (pos, val)
      FROM a)
SELECT cluster, pos,
       sum(CAST(round(val * {_Q!r}) AS DECIMAL(38,0))) AS s,
       count(1) AS n
FROM s GROUP BY cluster, pos
"""
        ).collect()
        new = {(r.cluster, r.pos): float(r.s) / float(r.n) / _Q for r in rows}
        cents = [
            [new.get((c, p), cents[c][p]) for p in range(_DIM)]
            for c in range(K_TRAIN)
        ]
    return cents


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train k=8 / 4-iteration Lloyd's over the embeddings table and emit
    the model: one row per (cluster, pos) with the centroid component plus
    the cluster's final point count and inertia (sum of squared distance
    of members to their centroid, in the same microunit fixed point).
    The model comes from ``_trained_centroids`` — trained once per corpus
    content, shared with ann_ivf_trained_topk."""
    _, view = _shared_emb(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    stats = spark.sql(
        f"""
WITH a AS (SELECT {_dists_sql(cents)} AS dists FROM {view})
SELECT CAST(array_position(dists, array_min(dists)) - 1 AS INT) AS cluster,
       CAST(count(1) AS BIGINT) AS n_points,
       CAST(sum(CAST(round(array_min(dists) * {_Q!r}) AS DECIMAL(38,0)))
            AS DOUBLE) / {_Q!r} AS inertia
FROM a GROUP BY 1
"""
    )
    cent_rows = [
        (c, p, cents[c][p]) for c in range(K_TRAIN) for p in range(_DIM)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, "cluster int, pos int, centroid double"
    )
    return (
        cent_df.join(F.broadcast(stats), "cluster")
        .select("cluster", "pos", "centroid", "n_points", "inertia")
        .orderBy("cluster", "pos")
    )


def _train_ctes() -> str:
    """The DuckDB Lloyd-replay CTE chain: ``e`` (double vectors) through
    ``c{TRAIN_ITERS}`` (the trained centroid list-of-lists).  Shared by
    the kmeans_train oracle and the trained-quantizer ANN oracle."""
    dist = "list_sum([(v[k] - c[k]) * (v[k] - c[k]) for k in range(1, 65)])"
    parts = [
        "e AS (SELECT vec_id,"
        " [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),",
        f"c0 AS (SELECT list(v ORDER BY vec_id) AS cents FROM"
        f" (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {K_TRAIN})),",
    ]
    for i in range(1, TRAIN_ITERS + 1):
        parts.append(
            f"""a{i} AS (
  SELECT vec_id, v, [{dist} for c in cents] AS dists
  FROM e CROSS JOIN c{i - 1}),
s{i} AS (
  SELECT CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cluster,
         unnest(v) AS val, unnest(range(0, {_DIM})) AS pos
  FROM a{i}),
m{i} AS (
  SELECT cluster, pos,
         CAST(SUM(CAST(round(val * {_Q}) AS DECIMAL(38,0))) AS DOUBLE)
           / COUNT(*) / {_Q} AS val
  FROM s{i} GROUP BY cluster, pos),
cv{i} AS (SELECT cluster, list(val ORDER BY pos) AS cv
          FROM m{i} GROUP BY cluster),
c{i} AS (
  SELECT list(COALESCE(cv, prev) ORDER BY cl) AS cents FROM (
    SELECT r.cl AS cl,
           (SELECT cv FROM cv{i} WHERE cv{i}.cluster = r.cl) AS cv,
           c{i - 1}.cents[r.cl + 1] AS prev
    FROM range(0, {K_TRAIN}) r(cl) CROSS JOIN c{i - 1})),"""
        )
    # the last round's part ends with a trailing comma — strip it so the
    # chain composes cleanly with whatever CTE the consumer appends
    chain = "\n".join(parts)
    return chain.rstrip().rstrip(",")


def _kmeans_oracle() -> str:
    dist = "list_sum([(v[k] - c[k]) * (v[k] - c[k]) for k in range(1, 65)])"
    n = TRAIN_ITERS
    return f"""WITH {_train_ctes()},
af AS (
  SELECT [{dist} for c in cents] AS dists
  FROM e CROSS JOIN c{n}),
stats AS (
  SELECT CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(round(list_min(dists) * {_Q}) AS DECIMAL(38,0)))
              AS DOUBLE) / {_Q} AS inertia
  FROM af GROUP BY 1),
flat AS (
  SELECT r.cl AS cluster, p.pos AS pos,
         c{n}.cents[r.cl + 1][p.pos + 1] AS centroid
  FROM range(0, {K_TRAIN}) r(cl)
  CROSS JOIN range(0, {_DIM}) p(pos) CROSS JOIN c{n})
SELECT f.cluster, f.pos, f.centroid, s.n_points, s.inertia
FROM flat f JOIN stats s USING (cluster)
ORDER BY cluster, pos"""


KMEANS_ORACLE = _kmeans_oracle()

register("kmeans_train", kmeans_train, KMEANS_ORACLE)


# -- trained-quantizer IVF: the full train→index→query pipeline ----------------
#
# ann_ivf_topk's coarse quantizer is FROZEN model state (the standard
# pretrain-on-a-sample deployment); this variant closes the loop by
# training the quantizer IN the query — Lloyd's above, then the identical
# IVF search (cluster-assign the corpus, probe the nprobe nearest
# centroids per query, exact rounded-cosine re-rank inside the probed
# buckets).  One oracle checks the whole train→index→query composition.

IVF_TRAINED_NPROBE = 2  # of K_TRAIN=8 clusters — same ~25% scan fraction
                        # as the frozen 4-of-16 pipeline


def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine neighbors through an IVF index whose coarse quantizer
    is trained by ``_lloyd_centroids`` in the same run."""
    from pyspark.sql import Window

    from .similarity import (
        N_QUERIES,
        TOP_K,
        _assign_clusters,
        _assign_probes,
        _cos,
        _with_norm,
    )

    e0, _ = _shared_emb(spark, sf_dir)
    cents = _trained_centroids(spark, sf_dir)
    e = _with_norm(e0)
    corpus = _assign_clusters(e.where(F.col("vec_id") >= N_QUERIES), cents)
    queries = _assign_probes(
        e.where(F.col("vec_id") < N_QUERIES), cents, IVF_TRAINED_NPROBE
    )
    cand = (
        F.broadcast(queries)
        .alias("a")
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


def _ivf_trained_oracle() -> str:
    from .similarity import N_QUERIES, TOP_K, _duck_sq

    n = TRAIN_ITERS
    dist = _duck_sq("v", "c", _DIM)
    return f"""
WITH {_train_ctes()},
nn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
d AS (SELECT vec_id, v, nrm,
             list_transform(cents, c -> {dist}) AS dists
      FROM nn CROSS JOIN c{n}),
corpus AS (SELECT vec_id, v, nrm,
                  list_position(dists, list_min(dists)) - 1 AS cluster
           FROM d WHERE vec_id >= {N_QUERIES}),
qp AS (SELECT vec_id, v, nrm, unnest(probes) AS probe FROM (
         SELECT vec_id, v, nrm,
                list_transform(list_slice(list_sort(
                  [{{'d': dists[j + 1], 'c': j}} for j in range(0, {K_TRAIN})]),
                  1, {IVF_TRAINED_NPROBE}), p -> p.c) AS probes
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


register("ann_ivf_trained_topk", ann_ivf_trained_topk, _ivf_trained_oracle())


# -- trained-codebook PQ: compressed-domain search on in-run-trained books ------
#
# The PQ twin of ann_ivf_trained_topk: per-subspace Lloyd's (microunit
# fixed-point means, so the DuckDB oracle replays training bit-for-bit)
# followed by the standard PQ search — code assignment, per-query ADC
# lookup tables, compressed-domain rank cut, exact re-rank on the bounded
# survivor pool (the search half is SHARED with the frozen-literal
# ann_pq_topk: _pq_parts/_pq_exact_rerank take the books as a parameter).

PQ_TRAIN_ITERS = 2  # matches the frozen pipeline's PQ_ITERS


def _pq_codebooks_micro(
    spark: SparkSession, corpus_view: str, sl_view: str
) -> list[list[list[float]]]:
    """[m][j][d] codebooks trained over the registered corpus/slice views
    with one analyzed statement per iteration; means are microunit-exact."""
    from .similarity import PQ_K, PQ_M, _centroids_sql

    sub = _DIM // PQ_M
    init = spark.sql(
        f"SELECT vn FROM {corpus_view} ORDER BY vec_id LIMIT {PQ_K}"
    ).collect()
    books = [
        [[float(x) for x in r.vn[m * sub : (m + 1) * sub]] for r in init]
        for m in range(PQ_M)
    ]
    for _ in range(PQ_TRAIN_ITERS):
        cb_lit = "array(" + ", ".join(_centroids_sql(b) for b in books) + ")"
        rows = spark.sql(
            f"""
WITH a AS (SELECT m, sv,
  transform(element_at({cb_lit}, m + 1),
            c -> aggregate(zip_with(sv, c, (x, y) -> (x - y) * (x - y)),
                           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) AS dists
  FROM {sl_view}),
s AS (SELECT m, CAST(array_position(dists, array_min(dists)) - 1 AS INT) AS j,
             posexplode(sv) AS (pos, val)
      FROM a)
SELECT m, j, pos,
       sum(CAST(round(val * {_Q!r}) AS DECIMAL(38,0))) AS s,
       count(1) AS n
FROM s GROUP BY m, j, pos
"""
        ).collect()
        new = {
            (r.m, r.j, r.pos): float(r.s) / float(r.n) / _Q for r in rows
        }
        books = [
            [
                [new.get((m, j, p), books[m][j][p]) for p in range(sub)]
                for j in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
    return books


def _trained_codebooks(
    spark: SparkSession, sf_dir: str
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks, trained once per corpus content and
    session (as ``_trained_centroids``)."""
    from .similarity import N_QUERIES, PQ_M, _with_norm

    def train() -> list[list[list[float]]]:
        sub = _DIM // PQ_M
        e0, _ = _shared_emb(spark, sf_dir)
        corpus = (
            _with_norm(e0)
            .withColumn("vn", F.expr("transform(v, x -> x / nrm)"))
            .where(F.col("vec_id") >= N_QUERIES)
            .select("vec_id", "vn")
            .localCheckpoint(eager=False)
        )
        corpus_view = _uview(corpus, "__pq_corpus")
        sl = spark.sql(
            f"""
SELECT vec_id, s.m AS m, s.sv AS sv FROM (
  SELECT vec_id,
         explode(transform(sequence(0, {PQ_M - 1}),
                 m -> struct(m AS m, slice(vn, m * {sub} + 1, {sub}) AS sv))) AS s
  FROM {corpus_view})
"""
        ).localCheckpoint(eager=False)
        sl_view = _uview(sl, "__pq_sl")
        return _pq_codebooks_micro(spark, corpus_view, sl_view)

    return derived(spark, sf_dir, "embeddings", "km-pq-books", train)


def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k whose codebooks are trained by per-subspace Lloyd's in the
    same run — train→compress→search, one oracle (the training half comes
    from ``_trained_codebooks``, shared across invocations; the embeddings
    checkpoint is shared with the IVF twin and kmeans_train)."""
    from .similarity import _pq_exact_rerank, _pq_parts

    books = _trained_codebooks(spark, sf_dir)
    e, queries, pool = _pq_parts(spark, sf_dir, books=books)
    return _pq_exact_rerank(e, queries, pool)


def _pq_trained_oracle() -> str:
    from .similarity import (
        N_QUERIES,
        PQ_K,
        PQ_M,
        _DUCK_PQ_PRELUDE,
        _pq_search_body,
    )

    sub = _DIM // PQ_M
    parts = [
        f"WITH{_DUCK_PQ_PRELUDE},",
        f"""sl AS (SELECT vec_id, m, vn[m * {sub} + 1 : m * {sub} + {sub}] AS sv
      FROM u CROSS JOIN range(0, {PQ_M}) r(m)
      WHERE vec_id >= {N_QUERIES}),
b0 AS (SELECT m, list(sv ORDER BY vec_id) AS book FROM sl
       WHERE vec_id IN (SELECT vec_id FROM u WHERE vec_id >= {N_QUERIES}
                        ORDER BY vec_id LIMIT {PQ_K})
       GROUP BY m),""",
    ]
    dist = (
        f"list_sum([(sv[k] - c[k]) * (sv[k] - c[k]) "
        f"for k in range(1, {sub + 1})])"
    )
    for i in range(1, PQ_TRAIN_ITERS + 1):
        parts.append(
            f"""pa{i} AS (
  SELECT sl.m AS m, sv, [{dist} for c in book] AS dists
  FROM sl JOIN b{i - 1} USING (m)),
ps{i} AS (
  SELECT m, CAST(list_position(dists, list_min(dists)) - 1 AS INT) AS j,
         unnest(sv) AS val, unnest(range(0, {sub})) AS pos
  FROM pa{i}),
pm{i} AS (
  SELECT m, j, pos,
         CAST(SUM(CAST(round(val * {_Q}) AS DECIMAL(38,0))) AS DOUBLE)
           / COUNT(*) / {_Q} AS val
  FROM ps{i} GROUP BY 1, 2, 3),
b{i} AS MATERIALIZED (
  SELECT m, list(COALESCE(cv, prev) ORDER BY j) AS book FROM (
    SELECT gm.m AS m, gj.j AS j,
           (SELECT list(val ORDER BY pos) FROM pm{i}
            WHERE pm{i}.m = gm.m AND pm{i}.j = gj.j) AS cv,
           (SELECT book[gj.j + 1] FROM b{i - 1}
            WHERE b{i - 1}.m = gm.m) AS prev
    FROM range(0, {PQ_M}) gm(m) CROSS JOIN range(0, {PQ_K}) gj(j))
  GROUP BY m),"""
        )
    parts.append(
        f"cbt AS (SELECT list(book ORDER BY m) AS cb FROM b{PQ_TRAIN_ITERS}),"
    )
    parts.append(_pq_search_body())
    return "\n".join(parts)


register("ann_pq_trained_topk", ann_pq_trained_topk, _pq_trained_oracle())
