"""ANN recall contract: the accuracy floor of every approximate lane as a
hash-checked registry ROW, not just a pytest assertion.

r10 verdict ask #3: recall vs brute force was pinned only in pytest
(tests/test_similarity.py, tests/test_quantization.py), so a code change
that silently degraded recall would keep every oracle green — the
approximate lanes' oracles check that the lane computes WHAT IT SAYS,
not that what it says is any good.  The sketch entries (sketches.py
accuracy contracts, r8-r9) showed the better pattern: make the accuracy
statement itself a query with a DuckDB oracle, so the driver's value-hash
gate turns red the moment a lane's recall drops below its floor.

Per lane (lsh / ivf / pq / int8): recall@10 against the exact
brute-force top-k, per query, then mean + min across the query batch,
compared to the lane's floor.  The floors restate the pytest bounds:

  - lsh  ≥ 0.30 mean  (4-plane multiprobe scans ~5/16 of the corpus on
    UNIFORM RANDOM vectors — near-orthogonal, so recall barely above the
    scanned fraction is the correct ceiling; real clustered embeddings
    climb with no code change — test_similarity.py:42)
  - ivf  ≥ 0.25 mean  (= IVF_NPROBE/IVF_CLUSTERS, the scanned fraction —
    test_similarity.py:56)
  - pq   ≥ 0.60 mean  (ADC over 8×16 codebooks + exact re-rank of the
    PQ_RERANK pool — test_similarity.py:130)
  - int8 ≥ 0.80 MIN per query (scalar quantization is near-lossless —
    test_quantization.py:32; min is the stronger statement, so the floor
    binds on min_recall_at_10 for this lane)

Every lane's top-k and the brute-force reference are deterministic
(frozen planes / centroids / codebooks, rounded scores, id tiebreaks), so
the recalls are bit-stable and the row hash-compares exactly.

100 TB shape: the contract adds ONE broadcast-sized join per lane — each
lane's top-k (|queries| × k rows) against the brute-force top-k (same
size).  The lane queries themselves carry their own scale designs; their
frames are localCheckpoint'd here so the composed plan never re-expands
five ANN pipelines into one tree (the repeated-scan lint rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register
from . import similarity
from . import quantization
from .session_cache import derived

# (floor value, which statistic it binds on) per lane — see module docstring
LANE_FLOORS: dict[str, tuple[float, str]] = {
    "int8": (0.80, "min"),
    "ivf": (0.25, "mean"),
    "lsh": (0.30, "mean"),
    "pq": (0.60, "mean"),
}

_LANE_FNS = {
    "int8": quantization.ann_int8_topk,
    "ivf": similarity.ann_ivf_topk,
    "lsh": similarity.ann_lsh_topk,
    "pq": similarity.ann_pq_topk,
}

def _lane_topk(spark: SparkSession, sf_dir: str, lane: str) -> DataFrame:
    """The lane's checkpointed (qid, nid) top-k frame, memoized per
    corpus: the contract reads RESULT tables, so within one session (a
    bench process, repeated gate reads) each lane's top-k materializes
    once and every later read serves the rows."""
    fn = similarity.ann_bruteforce_topk if lane == "brute" else _LANE_FNS[lane]
    return derived(
        spark,
        sf_dir,
        "embeddings",
        f"topk|{lane}",
        lambda: fn(spark, sf_dir).select("qid", "nid").localCheckpoint(
            eager=False
        ),
    )


def ann_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per approximate ANN lane: query count, mean/min recall@10
    vs brute force, the lane's floor, and the pass flag.  A future change
    that silently degrades any lane's recall flips ``meets_floor`` and the
    gate row goes red."""
    brute = _lane_topk(spark, sf_dir, "brute")
    out = None
    for lane in sorted(LANE_FLOORS):
        floor, stat = LANE_FLOORS[lane]
        approx = _lane_topk(spark, sf_dir, lane).withColumn("hit", F.lit(1))
        per_q = (
            brute.join(approx, ["qid", "nid"], "left")
            .groupBy("qid")
            .agg(
                (
                    F.coalesce(F.sum("hit"), F.lit(0))
                    / F.count(F.lit(1)).cast("double")
                ).alias("r")
            )
        )
        bound = F.col("min_recall_at_10") if stat == "min" else F.col(
            "mean_recall_at_10"
        )
        row = per_q.agg(
            F.lit(lane).alias("lane"),
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(F.avg("r"), 6).alias("mean_recall_at_10"),
            F.round(F.min("r"), 6).alias("min_recall_at_10"),
            F.lit(float(floor)).alias("floor_recall"),
            F.lit(stat).alias("floor_on"),
        ).withColumn("meets_floor", bound >= F.col("floor_recall"))
        out = row if out is None else out.unionAll(row)
    return out.orderBy("lane")


def _lane_oracle_sql(lane: str) -> str:
    if lane == "int8":
        return quantization._int8_ann_oracle()
    if lane == "ivf":
        return similarity._ivf_oracle()
    if lane == "lsh":
        return similarity._lsh_oracle()
    return similarity._pq_oracle()


def _recall_contract_oracle() -> str:
    arms = []
    for lane in sorted(LANE_FLOORS):
        floor, stat = LANE_FLOORS[lane]
        bound = "min_recall_at_10" if stat == "min" else "mean_recall_at_10"
        arms.append(
            f"""
SELECT lane, n_queries, mean_recall_at_10, min_recall_at_10, floor_recall,
       floor_on, {bound} >= floor_recall AS meets_floor
FROM (
  SELECT '{lane}' AS lane,
         CAST(count(*) AS BIGINT) AS n_queries,
         round(avg(r), 6) AS mean_recall_at_10,
         round(min(r), 6) AS min_recall_at_10,
         CAST({floor} AS DOUBLE) AS floor_recall,
         '{stat}' AS floor_on
  FROM (
    SELECT b.qid, CAST(count(a.nid) AS DOUBLE) / count(*) AS r
    FROM ({similarity.ANN_BRUTE_ORACLE}) b
    LEFT JOIN ({_lane_oracle_sql(lane)}) a USING (qid, nid)
    GROUP BY b.qid
  ) perq_{lane}
) agg_{lane}"""
        )
    body = "\nUNION ALL\n".join(arms)
    return f"SELECT * FROM ({body}) u ORDER BY lane"


register("ann_recall_contract", ann_recall_contract, _recall_contract_oracle())
