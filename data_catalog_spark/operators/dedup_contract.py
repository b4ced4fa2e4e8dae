"""Dedup recall contract: the accuracy floor of every approximate
near-dup lane as a hash-checked registry ROW, not just a pytest assertion
— the dedup twin of ann_recall_contract (same r10-verdict pattern: the
approximate lanes' oracles prove each lane computes WHAT IT SAYS; this
row proves what it says is any GOOD, so a silent recall degradation flips
a value-hash gate row red instead of only a test).

Per lane, recall (and precision, reported) against the lane's exact
ground truth:

  - minhash  vs exact n-gram Jaccard pairs (τ=0.5): recall ≥ 0.90
    (k=64 signatures, 16 bands × 4 rows — the s-curve at τ=0.5 gives
    P[collide] ≈ 0.96; tests/test_dedup.py:61 measured 0.9+/0.8+)
  - simhash  vs exact n-gram Jaccard pairs: recall ≥ 0.50 (60-bit
    fingerprints, Hamming ≤ 3 — a DIFFERENT similarity (token-multiset
    angle), so overlap with shingle-Jaccard truth is structurally
    partial and the floor is a sanity bound, not an s-curve statement;
    measured 0.82 / 0.52 / 0.73 at sf0.001/0.01/0.1 — deterministic per
    corpus, so the binding sf0.01 value is stable.  The pytest floor
    (tests/test_dedup.py:74, 0.6) is calibrated at sf0.001 only)
  - emb_lsh  vs exact embedding-cosine pairs (τ=0.4): recall ≥ 0.85
    (16 bands × 8 bits, Hamming-1 multiprobe; s-curve predicts ~0.92,
    measured 0.94 — tests/test_similarity.py:89)

Every lane and its ground truth are deterministic (portable md5 hashing,
seeded plane literals, rounded scores), so the counts and ratios are
bit-stable and the row hash-compares exactly.

100 TB shape: the contract is one full-outer equality join per lane over
PAIR sets (already bounded by the lanes' own banding caps and the
Jaccard df-guard) and a 1-row aggregate — nothing here re-expands a
corpus-sized relation; the lane frames are localCheckpoint'd so the
composed plan never inlines three dedup pipelines into one tree (the
repeated-scan lint rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dedup, similarity
from .registry import register
from .session_cache import derived

# lane -> (recall floor, exact-truth builder, approx builder, id cols)
LANE_FLOORS: dict[str, float] = {
    "emb_lsh": 0.85,
    "minhash": 0.90,
    "simhash": 0.50,
}

_FRAME_BUILDERS = {
    "jaccard_exact": lambda s, d: dedup.dedup_ngram_jaccard(s, d).select(
        F.col("da").alias("a"), F.col("db").alias("b")
    ),
    "minhash": lambda s, d: dedup.dedup_minhash(s, d).select(
        F.col("da").alias("a"), F.col("db").alias("b")
    ),
    "simhash": lambda s, d: dedup.dedup_simhash(s, d).select(
        F.col("da").alias("a"), F.col("db").alias("b")
    ),
    "cosine_exact": lambda s, d: similarity.dedup_embedding_cosine(
        s, d
    ).select(F.col("va").alias("a"), F.col("vb").alias("b")),
    # the scored emb-LSH frame is already session-memoized on its own
    # (similarity._emb_lsh_pairs, shared with embedding_dup_clusters) —
    # consume that copy rather than re-running the entry's per-invocation
    # build a second time
    "emb_lsh": lambda s, d: similarity._emb_lsh_pairs(s, d).select(
        F.col("va").alias("a"), F.col("vb").alias("b")
    ),
}


def _pairs(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The ``kind`` pair table, memoized per corpus and written as a
    scratch table: the contract reads PAIR TABLES, exactly what a
    production dedup run materializes before acting on them.  Keyed per
    frame kind, NOT per lane, so minhash and simhash share ONE
    exact-Jaccard build."""
    from ..io import process_scratch_table

    table = "embeddings" if kind in ("cosine_exact", "emb_lsh") else "documents"
    return derived(
        spark,
        sf_dir,
        table,
        f"pairs|{kind}",
        lambda: process_scratch_table(
            _FRAME_BUILDERS[kind](spark, sf_dir), f"pairs-{kind}"
        ),
    )


def _lane_pair_frames(
    spark: SparkSession, sf_dir: str, lane: str
) -> tuple[DataFrame, DataFrame]:
    if lane == "emb_lsh":
        return _pairs(spark, sf_dir, "cosine_exact"), _pairs(
            spark, sf_dir, "emb_lsh"
        )
    return _pairs(spark, sf_dir, "jaccard_exact"), _pairs(spark, sf_dir, lane)


def dedup_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per approximate dedup lane: exact/approx/hit pair counts,
    recall and precision vs the lane's ground truth, the recall floor,
    and the pass flag."""
    out = None
    for lane in sorted(LANE_FLOORS):
        exact, approx = _lane_pair_frames(spark, sf_dir, lane)
        ex = exact.withColumn("e", F.lit(1))  # frames checkpointed in _pairs
        ap = approx.withColumn("p", F.lit(1))
        j = ex.join(ap, ["a", "b"], "full").select(
            F.coalesce("e", F.lit(0)).alias("e"),
            F.coalesce("p", F.lit(0)).alias("p"),
        )
        row = (
            j.agg(
                F.sum("e").cast("long").alias("n_exact"),
                F.sum("p").cast("long").alias("n_approx"),
                F.sum(F.col("e") * F.col("p")).cast("long").alias("n_hit"),
            )
            .select(
                F.lit(lane).alias("lane"),
                "n_exact",
                "n_approx",
                "n_hit",
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_exact"), 6
                ).alias("recall"),
                F.round(
                    F.col("n_hit").cast("double") / F.col("n_approx"), 6
                ).alias("precision"),
                F.lit(float(LANE_FLOORS[lane])).alias("floor_recall"),
            )
            .withColumn(
                "meets_floor", F.col("recall") >= F.col("floor_recall")
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("lane")


def _lane_oracle_pair_sql(lane: str) -> tuple[str, str]:
    """(exact pairs SQL, approx pairs SQL) with columns (a, b)."""
    if lane == "emb_lsh":
        exact = (
            f"SELECT va AS a, vb AS b FROM ({similarity.EMB_DEDUP_ORACLE}) x"
        )
        approx = (
            f"SELECT va AS a, vb AS b FROM ({similarity._pair_lsh_oracle()}) y"
        )
        return exact, approx
    exact = (
        f"SELECT da AS a, db AS b FROM ({dedup.JACCARD_PAIRS_BODY}) x"
    )
    arm = (
        dedup._minhash_oracle() if lane == "minhash" else dedup._simhash_oracle()
    )
    return exact, f"SELECT da AS a, db AS b FROM ({arm}) y"


def _dedup_contract_oracle() -> str:
    arms = []
    for lane in sorted(LANE_FLOORS):
        exact, approx = _lane_oracle_pair_sql(lane)
        floor = LANE_FLOORS[lane]
        arms.append(
            f"""
SELECT '{lane}' AS lane, n_exact, n_approx, n_hit,
       round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall,
       round(CAST(n_hit AS DOUBLE) / n_approx, 6) AS precision,
       CAST({floor} AS DOUBLE) AS floor_recall,
       round(CAST(n_hit AS DOUBLE) / n_exact, 6)
         >= CAST({floor} AS DOUBLE) AS meets_floor
FROM (
  SELECT CAST(sum(e) AS BIGINT) AS n_exact,
         CAST(sum(p) AS BIGINT) AS n_approx,
         CAST(sum(e * p) AS BIGINT) AS n_hit
  FROM (
    SELECT COALESCE(x.e, 0) AS e, COALESCE(y.p, 0) AS p
    FROM (SELECT a, b, 1 AS e FROM ({exact}) ex_{lane}) x
    FULL JOIN (SELECT a, b, 1 AS p FROM ({approx}) ap_{lane}) y
      USING (a, b)
  ) flags_{lane}
) agg_{lane}"""
        )
    body = "\nUNION ALL\n".join(arms)
    return f"SELECT * FROM ({body}) u ORDER BY lane"


register("dedup_recall_contract", dedup_recall_contract, _dedup_contract_oracle())
