"""Streaming dup-cluster maintenance — the always-on form of
``dedup_clusters_incremental`` (operators/corpus.py).

A dedup service does not see "the day's batch" at once: documents arrive
in micro-batches, and the resolved cluster labels must stay current
after each one.  This entry runs that loop: the persisted MinHash
signature index and old-corpus cluster labels load once (the same
parquet artifacts the batch lanes build), then each arriving micro-batch

  1. computes signatures for ITS docs only (O(|batch|)),
  2. extends the accumulated signature table and probes the capped band
     buckets for pairs touching THIS batch,
  3. folds the pairs into the label state with one large-star/small-star
     closure over (state star edges ∪ batch pairs) — old connectivity
     enters as depth-1 star edges, so each merge costs O(|batch pairs| +
     |labels|), never corpus-pair work.

Star contraction preserves components exactly, and every new-involving
pair is generated by the batch that completes it (a cross-batch pair
appears when its LATER endpoint arrives and probes the accumulated
table), so after the last batch the labels equal the one-shot
incremental merge — and the driver checks exactly that: this entry
shares ``dedup_clusters_incremental``'s double-recursive-closure oracle,
making "stream ≡ batch" a hash-checked gate row (the cluster analog of
stream_ann_pq_serve / stream_contamination_gate).  The same documented
cap caveat applies: banding caps are the only state that can shift
already-emitted pairs, and they never bind at the test SFs.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import register

_DOC_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _clst_stage_cache(spark: SparkSession, sf_dir: str) -> str:
    """Stage the incoming slice's two micro-batch files ONCE per
    documents content (the _frontier_stage_cache / _seed_cache
    discipline): each invocation streams the cached files with a FRESH
    checkpoint, so the benchmarked cost is the probe+merge loop, not two
    coalesce(1) staging writes per run."""
    from ..io import ensure_materialized, materialization_path, read_table
    from ..operators.dedup import NEW_BATCH_MOD

    path = materialization_path(
        sf_dir, f"cluststream-src-{NEW_BATCH_MOD}", "documents.parquet"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        new = read_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % NEW_BATCH_MOD == 0
        )
        for i, half in enumerate(
            (new.where(F.col("doc_id") % (2 * NEW_BATCH_MOD) == 0),
             new.where(F.col("doc_id") % (2 * NEW_BATCH_MOD) != 0))
        ):
            part = os.path.join(tmp, f"_b{i}")
            half.coalesce(1).write.parquet(part)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(part, f),
                        os.path.join(tmp, f"batch-{i}.parquet"),
                    )
            shutil.rmtree(part)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    return ensure_materialized(path, build)


def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import _connected_components, mh_old_state
    from ..operators.dedup import mh_signatures, pairs_from_sig_view
    from .ingest import _PREV_RUN_DIRS

    while _PREV_RUN_DIRS:
        shutil.rmtree(_PREV_RUN_DIRS.pop(), ignore_errors=True)
    stage = _clst_stage_cache(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="cluststream-ckpt-")
    _PREV_RUN_DIRS.append(ckpt)

    # the persisted index and old labels load once per corpus content;
    # the stream, per-batch probes, merges, and the result computation
    # run per invocation with a fresh checkpoint dir
    loaded = mh_old_state(spark, sf_dir)
    sib = loaded["sib"]
    # mutable service state: resolved labels + the accumulated signatures
    # (the merge REASSIGNS these to new frames; the memoized loaded frames
    # are never mutated, so every invocation starts from the same state)
    state = {"labels": loaded["labels"], "sigs": loaded["sigs"]}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands frames owned by a CLONE of the starting
        # session; temp views are per-session, so every view this merge
        # reads must be registered on batch-session-owned frames and the
        # SQL analyzed in that same session (bs).  Cross-session frames
        # (the carried state) enter through the DataFrame API only.
        bs = batch_df.sparkSession
        batch_df.createOrReplaceTempView("__clst_batch_docs")
        # lazy checkpoints: the probe's first job materializes bsig + sigs
        # in-line; each eager=True here was a separate driver roundtrip,
        # and driver gap — not task time — dominates this entry's wall.
        bsig = mh_signatures(bs, "__clst_batch_docs").localCheckpoint(
            eager=False
        )
        sigs = bsig.unionByName(state["sigs"]).localCheckpoint(eager=False)
        sigs.createOrReplaceTempView("__clst_sig")
        bsig.select("doc_id").createOrReplaceTempView("__clst_batch_ids")
        pairs = pairs_from_sig_view(
            bs,
            "__clst_sig",
            pred=(
                "da IN (SELECT doc_id FROM __clst_batch_ids) "
                "OR db IN (SELECT doc_id FROM __clst_batch_ids)"
            ),
        )
        star = state["labels"].where(
            F.col("doc_id") != F.col("cluster_id")
        ).select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("b"))
        edges = pairs.select(
            F.col("da").alias("a"), F.col("db").alias("b")
        ).unionByName(star)
        state["labels"] = (
            _connected_components(edges)
            .select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        state["sigs"] = sigs

    q = (
        sib.readStream.schema(_DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    labels = state["labels"]
    # sizes via a cluster-keyed window: one exchange on cluster_id instead
    # of a groupBy shuffle PLUS a join back (value-identical; the window
    # is partitioned, never global)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return (
        labels.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


def _stream_clusters_oracle() -> str:
    from ..operators.dedup import incremental_clusters_oracle

    return incremental_clusters_oracle()


register(
    "stream_cluster_maintenance",
    stream_cluster_maintenance,
    _stream_clusters_oracle(),
)
