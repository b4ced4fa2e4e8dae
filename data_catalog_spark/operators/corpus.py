"""Training-corpus preparation — the end-to-end pipeline a pre-training
data build runs over the documents table, composed from the text/dedup
substrate:

1. ``corpus_training_filter``: quality gate ∧ language gate ∧ token-budget
   gate ∧ exact-dedup keeper — ONE pass over the corpus (tokenize once,
   every gate reads the same token array), the shape that matters at
   100 TB where each extra pass is a full re-scan.
2. ``dup_clusters``: resolve transitive near-dup groups (A~B, B~C ⇒
   {A,B,C} one cluster, keep min doc_id) — iterative min-label propagation
   (Pregel-style) on the exact-Jaccard pair graph, oracle-checked against
   a recursive-CTE transitive closure in DuckDB.

Scale notes: label propagation shuffles on the node key each round;
``localCheckpoint`` truncates the growing lineage (the classic iterative-
DataFrame failure mode).  Rounds = graph diameter, which for dedup
clusters is tiny (dups cluster tightly); the loop is also capped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import read_table
from .dedup import (
    JACCARD_PAIRS_BODY,
    minhash_pairs_ctes,
)
from .session_cache import derived
from .registry import register
from .text import (
    BPE_PATTERN,
    DUCK_TOKENS,
    LANG_MARKERS,
    SPARK_TOKENS,
    _BPE_SQL,
    _LANG_ORDER,
    _STOPWORDS,
    duck_stop_count,
    spark_stop_count,
)

MIN_SUBWORD_TOKENS = 10
MAX_SUBWORD_TOKENS = 5000


def corpus_training_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents that survive every gate, with the stats that justified
    keeping them.  Single tokenize, single scan, one window for the
    exact-dup keeper."""
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    others = [
        ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) for lang in ("de", "es", "fr")
    ]
    d = (
        read_table(spark, sf_dir, "documents")
        .withColumn("t", F.expr(SPARK_TOKENS))
        .withColumn("n_tokens", F.expr("size(t)").cast("long"))
        .withColumn(
            "n_subword_tokens",
            F.expr(f'size(regexp_extract_all(text, "{BPE_PATTERN}", 0))').cast("long"),
        )
        .withColumn(
            "alpha_ratio",
            F.round(
                F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length("text"), 6
            ),
        )
        .withColumn(
            "stop_ratio",
            F.round(
                F.expr(spark_stop_count(_STOPWORDS)) / F.col("n_tokens"), 6
            ),
        )
        .withColumn("s_en", F.expr(f"size(array_intersect(t, array({en})))"))
        .withColumn(
            "s_other",
            F.greatest(
                *[F.expr(f"size(array_intersect(t, array({a})))") for a in others]
            ),
        )
        .withColumn("fp", F.md5(F.expr("concat_ws(' ', t)")))
        .withColumn("keeper", F.min("doc_id").over(Window.partitionBy("fp")))
    )
    return (
        d.where(
            (F.col("n_tokens") >= 5)
            & (F.col("alpha_ratio") >= 0.6)
            & (F.col("stop_ratio") <= 0.5)
            & (F.col("s_en") > 0)
            & (F.col("s_en") >= F.col("s_other"))
            & F.col("n_subword_tokens").between(MIN_SUBWORD_TOKENS, MAX_SUBWORD_TOKENS)
            & (F.col("doc_id") == F.col("keeper"))
        )
        .select("doc_id", "n_subword_tokens", "alpha_ratio", "stop_ratio")
        .orderBy("doc_id")
    )


def _corpus_filter_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    others = ", ".join(
        f"len(list_intersect(t, [{', '.join(repr(w) for w in LANG_MARKERS[lang])}]))"
        for lang in ("de", "es", "fr")
    )
    return f"""
WITH d AS (
  SELECT doc_id, text, {DUCK_TOKENS} AS t FROM documents
), m AS (
  SELECT doc_id, text, t,
         len(t) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
             AS n_subword_tokens,
         round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text), 6)
             AS alpha_ratio,
         round({duck_stop_count(_STOPWORDS)} / len(t), 6)
             AS stop_ratio,
         len(list_intersect(t, [{en}])) AS s_en,
         greatest({others}) AS s_other,
         min(doc_id) OVER (PARTITION BY md5(array_to_string(t, ' '))) AS keeper
  FROM d
)
SELECT doc_id, n_subword_tokens, alpha_ratio, stop_ratio
FROM m
WHERE n_tokens >= 5 AND alpha_ratio >= 0.6 AND stop_ratio <= 0.5
  AND s_en > 0 AND s_en >= s_other
  AND n_subword_tokens BETWEEN {MIN_SUBWORD_TOKENS} AND {MAX_SUBWORD_TOKENS}
  AND doc_id = keeper
ORDER BY doc_id
"""


# -- dup-cluster resolution (iterative connected components) -----------------

# Runaway bound on large-star/small-star rounds.  The alternating
# algorithm converges in O(log n) rounds in practice (O(log^2 n) proven),
# so 50 covers any graph that fits on disk — r10's min-label loop needed
# O(graph DIAMETER) rounds, which a chain-shaped near-dup component
# (common in URL/boilerplate graphs) blows through at crawl scale.
MAX_CC_ROUNDS = 50

# Large-star (Kiveris et al. 2014, "Connected Components in MapReduce and
# Beyond"): for every node u, point all STRICTLY LARGER neighbors at the
# minimum of u's closed neighborhood.  One partition-keyed window (shuffle
# on u), no join; DISTINCT collapses multi-edges so the edge set stays
# bounded by the input.
_LARGE_STAR_SQL = """
WITH bi AS (SELECT a AS u, b AS v FROM __cc_edges
            UNION ALL SELECT b AS u, a AS v FROM __cc_edges),
w AS (SELECT u, v, least(u, min(v) OVER (PARTITION BY u)) AS m FROM bi)
SELECT DISTINCT v AS a, m AS b FROM w WHERE v > u
"""

# Small-star: direct every edge large→small, then for every node u point
# all (smaller) neighbors — and u itself — at the minimum neighbor.
# Same shape: one partition-keyed window, no join.
_SMALL_STAR_SQL = """
WITH d AS (SELECT greatest(a, b) AS u, least(a, b) AS v
           FROM __cc_edges WHERE a <> b),
w AS (SELECT u, v, min(v) OVER (PARTITION BY u) AS m FROM d)
SELECT DISTINCT a, b FROM (
  SELECT v AS a, m AS b FROM w WHERE v <> m
  UNION ALL
  SELECT u AS a, m AS b FROM w
) s
"""


def _connected_components(edges: DataFrame) -> DataFrame:
    """(node, label) with label = min node reachable through the undirected
    pair graph.  Alternating large-star/small-star (Kiveris et al. 2014):
    each round is TWO analyzed spark.sql statements — one partition-keyed
    window shuffle each, never a join — and contracts every component
    toward a star rooted at its minimum node in O(log n) rounds, not the
    O(diameter) rounds of r10's min-label propagation (a 10k-node chain
    converges in ~15 rounds here vs 10k there; pinned by
    tests/test_corpus.py chain stress).  localCheckpoint truncates the
    iterative lineage so plan size stays O(1) in rounds; convergence is
    edge-set stability (two scalar counts on the already-checkpointed
    frame).  ``edges`` must have columns (a, b), one row per pair (either
    or both directions; self-loops and duplicates are tolerated)."""
    spark = edges.sparkSession
    # normalize: undirected edge set, one (greater, lesser) row per pair.
    # All checkpoints here are LAZY (eager=False): the per-round scalar
    # stats statement that loop control needs is the materializing job,
    # so each round costs ONE job — on near-star inputs (the incremental /
    # streaming merges) driver job-submission gap dominates wall time.
    #
    # Loop control IS the star-forest test (r12): a height-1 forest in
    # which no node is both a source and a root is the fixpoint of both
    # star operations, the star ops preserve connectivity, and the
    # component minimum can never point anywhere (nothing smaller exists)
    # — so (n == count-distinct-sources AND chain == 0) certifies the
    # exact min-labeled closure directly.  The previous loop detected
    # edge-set STABILITY (count + exceptAll) and then verified the star
    # forest separately: one full extra large-star/small-star round plus
    # two extra driver-blocking jobs per call, on every one of the six
    # CC consumers' critical paths.
    cur = (
        edges.where(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    _STAR_STATS_SQL = """
SELECT count(*) AS n, count(DISTINCT a) AS na,
       (SELECT count(*) FROM __cc_star x JOIN __cc_star y ON x.b = y.a)
         AS chain
FROM __cc_star"""
    converged = False
    for _ in range(MAX_CC_ROUNDS + 1):
        cur.createOrReplaceTempView("__cc_star")
        stats = spark.sql(_STAR_STATS_SQL).first()
        if stats.n == 0 or (stats.n == stats.na and stats.chain == 0):
            converged = True
            break
        # large-star's only consumer is small-star in the SAME round, so it
        # is not checkpointed at all: the round's plan is two chained
        # window shuffles, and the small-star checkpoint truncates lineage.
        cur.createOrReplaceTempView("__cc_edges")
        spark.sql(_LARGE_STAR_SQL).createOrReplaceTempView("__cc_edges")
        cur = spark.sql(_SMALL_STAR_SQL).localCheckpoint(eager=False)
    if not converged:
        # A graph that somehow fails to reach a star forest would
        # otherwise return SILENTLY split clusters (and diverge from the
        # oracles' exact recursive closure).  Fail loudly — the cap is a
        # runaway bound, not an approximation knob.
        raise RuntimeError(
            f"connected components did not converge in {MAX_CC_ROUNDS} "
            "large-star/small-star rounds — raise MAX_CC_ROUNDS"
        )
    return cur.select(
        F.col("a").alias("node"), F.col("b").alias("label")
    ).unionAll(
        cur.select(F.col("b").alias("node"), F.col("b").alias("label")).distinct()
    )


# pair generators feeding the transitive closure, by method name — routed
# through dedup_contract's session-memoized pair tables so one bench
# process computes each expensive pair scan ONCE across every consumer
# (recall contract, LSH tuning, leakage audit, cluster labels)
def _lane_pairs(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    from .dedup_contract import _pairs

    return _pairs(spark, sf_dir, kind).select(
        F.col("a").alias("da"), F.col("b").alias("db")
    )


_PAIR_LANES = {
    "jaccard": lambda spark, sf_dir: _lane_pairs(spark, sf_dir, "jaccard_exact"),
    "minhash": lambda spark, sf_dir: _lane_pairs(spark, sf_dir, "minhash"),
}


def _cluster_labels(spark: SparkSession, sf_dir: str, method: str) -> DataFrame:
    """Memoized (doc_id, cluster_id) closure over the ``method`` pair
    graph; cluster_id = min doc_id reachable.  The pair scan and label
    propagation run once per corpus; every consumer (the registered
    queries, dedup_keep_best's apply stage, re-runs in one bench process)
    reads the materialized labels."""

    def build() -> DataFrame:
        edges = _PAIR_LANES[method](spark, sf_dir).select(
            F.col("da").alias("a"), F.col("db").alias("b")
        )
        return (
            _connected_components(edges)
            .select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )

    return derived(spark, sf_dir, "documents", f"clusters|{method}", build)


def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a near-dup pair; cluster_id =
    min doc_id reachable through the Jaccard pair graph."""
    return _cluster_labels(spark, sf_dir, "jaccard").orderBy("doc_id")


# The recursive transitive-closure CTE chain, shared by every oracle that
# consumes resolved dup clusters (quality_model._keep_best_oracle composes
# it with the frozen-model logit CTEs).
DUP_CLUSTERS_CTES = f"""
jacc AS (SELECT da, db FROM ({JACCARD_PAIRS_BODY}) j),
edges AS MATERIALIZED (SELECT da AS a, db AS b FROM jacc
                       UNION SELECT db, da FROM jacc),
reach AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
  FROM reach GROUP BY a
)"""

DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {DUP_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id
"""


register("corpus_training_filter", corpus_training_filter, _corpus_filter_oracle())
register("dup_clusters", dup_clusters, DUP_CLUSTERS_ORACLE)


# -- full duplicate clusters over the MinHash-LSH pair graph ------------------
#
# Every dedup lane reports one-sided lower-id KEEPER pairs; curation also
# wants the full duplicate CLUSTER (transitive closure: A~B, B~C ⇒
# {A,B,C}) for keep-best and reporting.  dup_clusters above resolves the
# exact n-gram-Jaccard graph; this entry resolves the MINHASH-LSH graph —
# the pair generator that actually runs at 100 TB (banded equality joins,
# bucket caps, never all-pairs), so its closure is the one a production
# keep-best consumes.  Same iterative min-label propagation (bounded
# rounds, checkpoint-truncated lineage, no GraphFrames), same recursive-
# CTE oracle shape.

MH_CLUSTER_CTES = f"""{minhash_pairs_ctes()},
mh_edges AS MATERIALIZED (SELECT da AS a, db AS b FROM mh_pairs
             UNION SELECT db, da FROM mh_pairs),
mh_reach AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM mh_edges) n
  UNION
  SELECT r.a, e.b FROM mh_reach r JOIN mh_edges e ON r.b = e.a
),
mh_clusters AS (
  SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
  FROM mh_reach GROUP BY a
)"""

MH_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {MH_CLUSTER_CTES},
mh_sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
             FROM mh_clusters GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM mh_clusters c JOIN mh_sizes s USING (cluster_id)
ORDER BY doc_id
"""


def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) for every doc in a MinHash
    near-dup pair; cluster_id = min doc_id reachable through the pair
    graph.  The cluster-size join costs one aggregation over the (tiny)
    label frame — labels themselves are memoized per corpus content."""
    labels = _cluster_labels(spark, sf_dir, "minhash")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    ).orderBy("doc_id")


register("dedup_cluster_components", dedup_cluster_components, MH_COMPONENTS_ORACLE)


def dedup_clusters_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-label lifecycle (r10 verdict ask #4): resolve the MinHash
    dup-cluster labels (memoized build), save them to parquet under a
    content key, reload in a fresh ``newSession()`` (empty memo stores),
    and serve the same (doc_id, cluster_id, cluster_size) report off the
    artifact — hash-identical to dedup_cluster_components (same oracle).
    At 100 TB the label table is the curation-critical derived state you
    least want to recompute per restart: the pair scan + star rounds run
    once per corpus version, every later session pays one parquet scan."""
    import os

    from . import persist
    from .dedup import DEDUP_MINHASH_ORACLE

    docs = os.path.join(sf_dir, "documents.parquet")
    # model token = the minhash pair lane's rendered oracle: it embeds k,
    # bands, the hash coefficients and caps, so any re-tune re-keys
    key = persist.content_key([docs], f"mh-clusters|{DEDUP_MINHASH_ORACLE}")
    sib = spark.newSession()
    labels = persist.build_or_load(
        sib,
        "mh_cluster_labels",
        key,
        lambda: _cluster_labels(spark, sf_dir, "minhash"),
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    ).orderBy("doc_id")


register("dedup_clusters_reload", dedup_clusters_reload, MH_COMPONENTS_ORACLE)


def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dup-CLUSTER maintenance — the third index-maintenance
    lane (ann_pq_index_append = vector index append, dedup_incremental_indexed
    = pair probe, this = resolved labels): the nightly batch UPDATES the
    persisted cluster state instead of re-resolving the corpus.

    State as of the last index build (docs with doc_id % NEW_BATCH_MOD != 0):
    the persisted MinHash signature index (the SAME parquet artifact
    dedup_incremental_indexed builds — one index serves both lanes) and the
    persisted OLD cluster labels (components of the old-corpus pair graph,
    built once per corpus version).  The incoming batch computes signatures
    for NEW docs only, probes the combined band table for pairs touching a
    new doc, and runs connected components over (old-label star edges ∪ new
    pairs).  The star edges contract every old cluster to depth 1 — old
    connectivity enters as |old docs in clusters| edges, never as the old
    PAIR graph — so the merge costs O(|new pairs| + |old labels|),
    independent of corpus pair count; on append, clusters only ever merge.

    Semantics (stated exactly by the oracle's double recursive closure):
    merged labels = components of (old-state pair graph ∪ new-involving
    pairs at combined banding) — the state-as-of-index-time contract an
    always-on dedup service implements.  Equality with the full rebuild
    (dedup_cluster_components) additionally holds whenever the append keeps
    band buckets under MAX_BAND_BUCKET (caps are the only banding state
    that can shift old-old pairs); pinned at test SF by
    tests/test_corpus.py.

    The merged labels memoize per corpus content: the probe + star-merge
    run once per corpus version and batch, repeat reads in one session
    serve the materialized frame."""
    return derived(
        spark,
        sf_dir,
        "documents",
        "clusters|incremental-merge",
        lambda: _incremental_merge(spark, sf_dir),
    ).orderBy("doc_id")


def mh_old_state(spark: SparkSession, sf_dir: str) -> dict:
    """The loaded MinHash service state, once per corpus content: the
    persisted signature index projected to its sig columns (``sigs``),
    the resolved old-corpus cluster labels (``labels``), both behind a
    lazy localCheckpoint, and the sibling session (``sib``) that owns
    them.  Shared by dedup_clusters_incremental and
    stream_cluster_maintenance; without the memo every invocation
    re-read both parquet artifacts and re-copied the full signature table
    into executor blocks before the first probe."""

    def load() -> dict:
        from . import persist
        from .dedup import (
            MINHASH_K,
            build_mh_sig_index,
            mh_sig_index_identity,
            pairs_from_sig_view,
        )

        docs_path, key = mh_sig_index_identity(sf_dir)
        sib = spark.newSession()
        idx = persist.build_or_load(
            sib, "mh_sig_index", key, lambda: build_mh_sig_index(spark, sf_dir)
        )
        sigcols = ["doc_id"] + [f"h{i}" for i in range(MINHASH_K)]

        def build_old_labels() -> DataFrame:
            idx.select(*sigcols).localCheckpoint(
                eager=True
            ).createOrReplaceTempView("__mh_old_sig")
            pairs = pairs_from_sig_view(sib, "__mh_old_sig")
            return _connected_components(
                pairs.select(F.col("da").alias("a"), F.col("db").alias("b"))
            ).select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )

        old_key = persist.content_key(
            [docs_path], f"mh-cluster-labels-old|{key}"
        )
        labels = persist.build_or_load(
            sib, "mh_cluster_labels_old", old_key, build_old_labels
        )
        return {
            "sib": sib,
            "labels": labels.localCheckpoint(eager=False),
            "sigs": idx.select(*sigcols).localCheckpoint(eager=False),
        }

    return derived(spark, sf_dir, "documents", "mh-old-state", load)


def _incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import NEW_BATCH_MOD, mh_signatures, pairs_from_sig_view

    loaded = mh_old_state(spark, sf_dir)
    sib = loaded["sib"]
    # per-batch work starts here: new-slice signatures only
    read_table(sib, sf_dir, "documents").where(
        F.col("doc_id") % NEW_BATCH_MOD == 0
    ).createOrReplaceTempView("__ccinc_new")
    new_sig = mh_signatures(sib, "__ccinc_new")
    new_sig.unionByName(loaded["sigs"]).localCheckpoint(
        eager=True
    ).createOrReplaceTempView("__ccinc_sig")
    new_pairs = pairs_from_sig_view(
        sib,
        "__ccinc_sig",
        pred=f"da % {NEW_BATCH_MOD} = 0 OR db % {NEW_BATCH_MOD} = 0",
    )
    star = loaded["labels"].where(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("b"))
    edges = new_pairs.select(
        F.col("da").alias("a"), F.col("db").alias("b")
    ).unionByName(star)
    labels = _connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .localCheckpoint(eager=False)
    )


def _incremental_clusters_oracle() -> str:
    from .dedup import incremental_clusters_oracle

    return incremental_clusters_oracle()


register(
    "dedup_clusters_incremental",
    dedup_clusters_incremental,
    _incremental_clusters_oracle(),
)


def _source_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, kept_docs, kept_tokens) under the
    MinHash cluster-keeper rule — one documents scan + one broadcast
    join against the memoized label frame; shared by the dedup
    mixture-shift report and the post-dedup UniMax budgets."""
    labels = _cluster_labels(spark, sf_dir, "minhash")
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr(f"size({SPARK_TOKENS})").cast("long").alias("n_tok"),
    )
    kept = (
        F.col("cluster_id").isNull()
        | (F.col("cluster_id") == F.col("doc_id"))
    ).cast("long")
    return (
        d.join(F.broadcast(labels), "doc_id", "left")
        .withColumn("kept", kept)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("kept").alias("kept_docs"),
            F.sum(F.col("kept") * F.col("n_tok")).alias("kept_tokens"),
        )
        .localCheckpoint(eager=False)  # feeds scalar aggs AND the reports
    )


def source_dedup_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What MinHash dedup does to the training MIXTURE: per source, docs
    and whitespace tokens before vs after cluster-keeper dedup (keep = the
    min-id representative of each dup cluster, docs in no cluster kept),
    plus the token-share shift — the artifact a mixture designer reads
    next to doremi_source_weights / source_temperature_mix, because dedup
    is not mixture-neutral: duplicate-heavy sources lose share and every
    downstream weight computed on pre-dedup counts is silently wrong.
    Plan: one documents scan (token counts), one broadcast join against
    the memoized (tiny) label frame, one agg keyed on source; the two
    corpus totals are a 1-row scalar collect (bounded), so no global
    window enters the plan."""
    agg = _source_dedup_agg(spark, sf_dir)
    tot = agg.agg(F.sum("n_tokens"), F.sum("kept_tokens")).first()
    tt, kt = float(tot[0]), float(tot[1])
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "kept_docs",
        "kept_tokens",
        F.round(F.col("n_tokens") / F.lit(tt), 6).alias("share_before"),
        F.round(F.col("kept_tokens") / F.lit(kt), 6).alias("share_after"),
        F.round(
            F.col("kept_tokens") / F.lit(kt) - F.col("n_tokens") / F.lit(tt),
            6,
        ).alias("share_shift"),
    ).orderBy("source")


# the per-source dedup aggregate as DuckDB CTEs (ends in ``a``) — spliced
# into both the mixture-shift oracle and the post-dedup UniMax oracle
_SOURCE_DEDUP_AGG_CTES = f"""d AS (SELECT doc_id, source,
             CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tok
      FROM documents),
j AS (SELECT d.doc_id, d.source, d.n_tok, c.cluster_id
      FROM d LEFT JOIN mh_clusters c USING (doc_id)),
a AS (SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN cluster_id IS NULL OR cluster_id = doc_id
                           THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
             CAST(sum(CASE WHEN cluster_id IS NULL OR cluster_id = doc_id
                           THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
      FROM j GROUP BY source)"""

SOURCE_DEDUP_EFFECT_ORACLE = f"""
WITH RECURSIVE {MH_CLUSTER_CTES},
{_SOURCE_DEDUP_AGG_CTES},
t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt,
             CAST(sum(kept_tokens) AS DOUBLE) AS kt
      FROM a)
SELECT source, n_docs, n_tokens, kept_docs, kept_tokens,
       round(n_tokens / tt, 6) AS share_before,
       round(kept_tokens / kt, 6) AS share_after,
       round(kept_tokens / kt - n_tokens / tt, 6) AS share_shift
FROM a CROSS JOIN t ORDER BY source
"""


register("source_dedup_effect", source_dedup_effect, SOURCE_DEDUP_EFFECT_ORACLE)


def source_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-side distribution-drift monitor — the documents twin of
    embedding_drift_report (drift.py), run on the same base-vs-incoming
    split the dedup index lanes use (doc_id % NEW_BATCH_MOD): per source,
    doc counts and corpus-share shift between the slices, plus each
    slice's mean doc length and stopword ratio — a crawl whose share mass
    moves across sources, whose docs shorten, or whose stopword ratio
    drops (markup/boilerplate creep) is flagged before it enters the
    training mix.  One documents scan, one agg keyed on source, 1-row
    scalar collect for the share denominators; every per-slice statistic
    is a ratio of exact integer sums, so cross-engine parity is exact."""
    from .dedup import NEW_BATCH_MOD

    d = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", F.expr(SPARK_TOKENS).alias("t")
        )
        .select(
            "source",
            (F.col("doc_id") % NEW_BATCH_MOD == 0).alias("is_new"),
            F.size("t").cast("long").alias("n_tok"),
            F.expr(
                f"CAST({spark_stop_count(_STOPWORDS)} AS BIGINT)"
            ).alias("n_stop"),
        )
    )

    def csum(pred: F.Column, col) -> F.Column:
        return F.sum(F.when(pred, col).otherwise(F.lit(0))).cast("long")

    base, new = ~F.col("is_new"), F.col("is_new")
    agg = (
        d.groupBy("source")
        .agg(
            csum(base, F.lit(1)).alias("n_base"),
            csum(new, F.lit(1)).alias("n_new"),
            csum(base, F.col("n_tok")).alias("tok_base"),
            csum(new, F.col("n_tok")).alias("tok_new"),
            csum(base, F.col("n_stop")).alias("stop_base"),
            csum(new, F.col("n_stop")).alias("stop_new"),
        )
        .localCheckpoint(eager=False)  # feeds the scalar agg AND the report
    )
    tot = agg.agg(F.sum("n_base"), F.sum("n_new")).first()
    tb, tn = float(tot[0]), float(tot[1])

    def ratio(num: str, den: str) -> F.Column:
        return F.when(
            F.col(den) > 0,
            F.round(F.col(num).cast("double") / F.col(den), 6),
        )

    return agg.select(
        "source",
        "n_base",
        "n_new",
        F.round(F.col("n_base") / F.lit(tb), 6).alias("share_base"),
        F.round(F.col("n_new") / F.lit(tn), 6).alias("share_new"),
        F.round(
            F.col("n_new") / F.lit(tn) - F.col("n_base") / F.lit(tb), 6
        ).alias("share_shift"),
        ratio("tok_base", "n_base").alias("mean_tokens_base"),
        ratio("tok_new", "n_new").alias("mean_tokens_new"),
        ratio("stop_base", "tok_base").alias("stop_ratio_base"),
        ratio("stop_new", "tok_new").alias("stop_ratio_new"),
    ).orderBy("source")


def _source_drift_oracle() -> str:
    from .dedup import NEW_BATCH_MOD

    m = NEW_BATCH_MOD

    def csum(pred: str, col: str) -> str:
        return f"CAST(sum(CASE WHEN {pred} THEN {col} ELSE 0 END) AS BIGINT)"

    def ratio(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 "
            f"THEN round(CAST({num} AS DOUBLE) / {den}, 6) END"
        )

    return f"""
WITH d AS (SELECT source, doc_id % {m} = 0 AS is_new, {DUCK_TOKENS} AS t
           FROM documents),
x AS (SELECT source, is_new,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST({duck_stop_count(_STOPWORDS)} AS BIGINT) AS n_stop
      FROM d),
g AS (SELECT source,
             {csum('NOT is_new', '1')} AS n_base,
             {csum('is_new', '1')} AS n_new,
             {csum('NOT is_new', 'n_tok')} AS tok_base,
             {csum('is_new', 'n_tok')} AS tok_new,
             {csum('NOT is_new', 'n_stop')} AS stop_base,
             {csum('is_new', 'n_stop')} AS stop_new
      FROM x GROUP BY source),
t AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb,
             CAST(sum(n_new) AS DOUBLE) AS tn FROM g)
SELECT source, n_base, n_new,
       round(n_base / tb, 6) AS share_base,
       round(n_new / tn, 6) AS share_new,
       round(n_new / tn - n_base / tb, 6) AS share_shift,
       {ratio('tok_base', 'n_base')} AS mean_tokens_base,
       {ratio('tok_new', 'n_new')} AS mean_tokens_new,
       {ratio('stop_base', 'tok_base')} AS stop_ratio_base,
       {ratio('stop_new', 'tok_new')} AS stop_ratio_new
FROM g CROSS JOIN t ORDER BY source
"""


register("source_drift_report", source_drift_report, _source_drift_oracle())


# -- UniMax water-filling source budgets ---------------------------------------
#
# The third mixture-design lane beside source_temperature_mix (power-law
# reweight) and doremi_source_weights (reference-model reweight): UniMax
# (Chung et al. 2023) allocates a fixed token budget B fairly across
# sources WITHOUT upsampling — small sources are fully funded, large
# sources split the remainder equally.  Closed form: the water level λ
# solves Σ min(s_i, λ) = B; on the ascending size curve λ lies in the
# segment [s_{k-1}, s_k] where λ_k = (B − Σ_{j<k} s_j) / (n − k + 1)
# first satisfies the segment bounds, and alloc_i = min(s_i, λ).

UNIMAX_BUDGET_FRAC = 0.5  # <1 so the level always binds (rationing)


def _unimax_level(s: DataFrame, col: str) -> tuple[int, float]:
    """(budget, water level λ) for the size frame ``s`` under
    ``UNIMAX_BUDGET_FRAC``: λ solves Σ min(s_i, λ) = budget, found in
    closed form on the ascending size curve (window + lag over the
    |sources|-row frame, exact integer arithmetic until the division).
    Shared by the raw-counts and post-dedup budget entries."""
    import math

    total = int(s.agg(F.sum(col)).first()[0])
    budget = int(math.floor(total * UNIMAX_BUDGET_FRAC))
    n = s.count()
    w = Window.orderBy(F.col(col), F.col("source"))
    lev = (
        s.withColumn("k", F.row_number().over(w))
        .withColumn(
            "cum_excl",
            F.coalesce(
                F.sum(col).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("prev_s", F.lag(col).over(w))
        .withColumn(
            "lam",
            (F.lit(budget) - F.col("cum_excl"))
            / (F.lit(n) - F.col("k") + 1).cast("double"),
        )
        .where(
            (F.col("lam") <= F.col(col))
            & (F.col("prev_s").isNull() | (F.col("lam") >= F.col("prev_s")))
        )
        .orderBy("k")
        .first()
    )
    return budget, float(lev.lam)


def unimax_source_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: token count, the UniMax allocation under a budget of
    ``UNIMAX_BUDGET_FRAC``·total tokens, the mixture weight, and the
    resulting epochs (≤ 1 by construction — UniMax never upsamples).

    Scale shape: corpus-proportional work is ONE token-count aggregate
    keyed on source; the water-level search is a window + lag over the
    |sources|-row frame (model-sized, the source_temperature_mix
    adjudication class) and a 1-row scalar collect; the level itself is
    exact integer arithmetic until the final division."""
    s = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.expr(f"size({SPARK_TOKENS})").cast("long").alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("n_tokens"))
        .localCheckpoint(eager=False)  # feeds the scalar, the level, the report
    )
    budget, lam = _unimax_level(s, "n_tokens")
    alloc = F.least(F.col("n_tokens").cast("double"), F.lit(lam))
    return s.select(
        "source",
        "n_tokens",
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(alloc / F.lit(float(budget)), 6).alias("weight"),
        F.round(alloc / F.col("n_tokens"), 6).alias("epochs"),
    ).orderBy("source")


def _unimax_oracle() -> str:
    return f"""
WITH s AS (SELECT source, CAST(sum(len({DUCK_TOKENS})) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n,
             CAST(floor(CAST(sum(n_tokens) AS BIGINT)
                        * {UNIMAX_BUDGET_FRAC}) AS BIGINT) AS budget
      FROM s),
curve AS (
  SELECT s.*, t.n, t.budget,
         row_number() OVER (ORDER BY n_tokens, source) AS k,
         COALESCE(sum(n_tokens) OVER (ORDER BY n_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl,
         lag(n_tokens) OVER (ORDER BY n_tokens, source) AS prev_s
  FROM s, t),
lev AS (
  SELECT (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) AS lam
  FROM curve
  WHERE (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) <= n_tokens
    AND (prev_s IS NULL
         OR (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) >= prev_s)
  ORDER BY k LIMIT 1)
SELECT source, n_tokens,
       round(least(CAST(n_tokens AS DOUBLE), lam), 6) AS alloc_tokens,
       round(least(CAST(n_tokens AS DOUBLE), lam) / CAST(budget AS DOUBLE), 6)
           AS weight,
       round(least(CAST(n_tokens AS DOUBLE), lam) / n_tokens, 6) AS epochs
FROM s CROSS JOIN lev CROSS JOIN t ORDER BY source
"""


register("unimax_source_budgets", unimax_source_budgets, _unimax_oracle())


def unimax_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The executable form of 'dedup BEFORE mixture': UniMax budgets
    computed twice over the same sources — on raw token counts (the
    naive pipeline order) and on post-dedup kept tokens (the correct
    one) — with the per-source weight shift made explicit.  A
    duplicate-heavy source soaks up budget it cannot fill with unique
    text; the shift column is exactly the mixture error a pipeline
    silently trains with when it weights before deduplicating.

    Plan: one shared per-source aggregate (the memoized cluster labels +
    one documents scan, via _source_dedup_agg), two |sources|-row
    water-level searches, map-only arithmetic for the report."""
    agg = _source_dedup_agg(spark, sf_dir)
    b_n, lam_n = _unimax_level(agg, "n_tokens")
    b_d, lam_d = _unimax_level(agg, "kept_tokens")
    w_naive = F.least(
        F.col("n_tokens").cast("double"), F.lit(lam_n)
    ) / F.lit(float(b_n))
    w_dedup = F.least(
        F.col("kept_tokens").cast("double"), F.lit(lam_d)
    ) / F.lit(float(b_d))
    return agg.select(
        "source",
        "n_tokens",
        "kept_tokens",
        F.round(w_naive, 6).alias("weight_naive"),
        F.round(w_dedup, 6).alias("weight_dedup"),
        F.round(w_dedup - w_naive, 6).alias("weight_shift"),
    ).orderBy("source")


def _unimax_after_dedup_oracle() -> str:
    frac = UNIMAX_BUDGET_FRAC

    def curve_lev(tag: str, col: str) -> str:
        return f"""t{tag} AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(floor(sum({col}) * {frac}) AS BIGINT) AS budget FROM a),
curve{tag} AS (
  SELECT a.source, a.{col} AS s, t{tag}.n, t{tag}.budget,
         row_number() OVER (ORDER BY a.{col}, a.source) AS k,
         COALESCE(sum(a.{col}) OVER (ORDER BY a.{col}, a.source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl,
         lag(a.{col}) OVER (ORDER BY a.{col}, a.source) AS prev_s
  FROM a, t{tag}),
lev{tag} AS (
  SELECT (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) AS lam,
         CAST(budget AS DOUBLE) AS budget
  FROM curve{tag}
  WHERE (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) <= s
    AND (prev_s IS NULL
         OR (budget - cum_excl) / CAST(n - k + 1 AS DOUBLE) >= prev_s)
  ORDER BY k LIMIT 1)"""

    wn = "least(CAST(n_tokens AS DOUBLE), levN.lam) / levN.budget"
    wd = "least(CAST(kept_tokens AS DOUBLE), levD.lam) / levD.budget"
    return f"""
WITH RECURSIVE {MH_CLUSTER_CTES},
{_SOURCE_DEDUP_AGG_CTES},
{curve_lev('N', 'n_tokens')},
{curve_lev('D', 'kept_tokens')}
SELECT source, n_tokens, kept_tokens,
       round({wn}, 6) AS weight_naive,
       round({wd}, 6) AS weight_dedup,
       round({wd} - {wn}, 6) AS weight_shift
FROM a CROSS JOIN levN CROSS JOIN levD ORDER BY source
"""


register("unimax_after_dedup", unimax_after_dedup, _unimax_after_dedup_oracle())


# -- leakage-free split assignment ---------------------------------------------
#
# split_leakage_audit (similarity.py) MEASURES the damage a naive
# hash-by-doc split suffers (near-dup twins straddling train/test —
# benchmark inflation); this operator is the FIX every training pipeline
# applies: assign splits by hashing the DUP-CLUSTER id, not the doc id,
# so every member of a near-dup cluster lands in the same split by
# construction.  Composition: the memoized MinHash cluster labels (the
# 100 TB pair generator) + a deterministic md5 bucket on the cluster
# representative; docs in no dup pair form singleton clusters
# (cluster_id = doc_id).  80/10/10 on md5 buckets — deterministic,
# engine-portable, and re-runnable (the assignment is a pure function of
# content + cluster structure, so a re-crawl reassigns identically
# except where the dup graph itself changed).

SPLIT_BUCKETS = (80, 90)  # <80 train, <90 valid, else test (of 100)


def split_assign_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, split) for every document: split =
    md5-bucket of the cluster representative — cluster-atomic by
    construction (the leakage-free property pytest pins: no cluster
    straddles splits)."""
    labels = _cluster_labels(spark, sf_dir, "minhash")
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    assigned = (
        docs.join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .withColumn(
            "bucket",
            F.expr(
                "CAST(conv(substring(md5(CAST(cluster_id AS STRING)), 1, 4),"
                " 16, 10) AS BIGINT) % 100"
            ),
        )
        .withColumn(
            "split",
            F.when(F.col("bucket") < SPLIT_BUCKETS[0], F.lit("train"))
            .when(F.col("bucket") < SPLIT_BUCKETS[1], F.lit("valid"))
            .otherwise(F.lit("test")),
        )
    )
    return assigned.select("doc_id", "cluster_id", "split").orderBy("doc_id")


SPLIT_ASSIGN_ORACLE = f"""
WITH RECURSIVE {MH_CLUSTER_CTES},
assigned AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN mh_clusters c USING (doc_id)
), bucketed AS (
  SELECT doc_id, cluster_id,
         ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4))::BIGINT % 100
             AS bucket
  FROM assigned
)
SELECT doc_id, cluster_id,
       CASE WHEN bucket < {SPLIT_BUCKETS[0]} THEN 'train'
            WHEN bucket < {SPLIT_BUCKETS[1]} THEN 'valid'
            ELSE 'test' END AS split
FROM bucketed ORDER BY doc_id
"""


register("split_assign_leakage_free", split_assign_leakage_free, SPLIT_ASSIGN_ORACLE)


# -- set algebra over document selections -------------------------------------


def docs_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT of two corpus selections (English docs vs
    docs from source 'src0'), reported as per-operator cardinalities.  Uses
    Spark's native set operators (distinct-semantics union/intersect/
    exceptAll→distinct): each is one shuffle on doc_id; the three 1-row
    aggregates union into a single result frame.  (SURVEY §2.6 notes the
    reference has none of these — north-star breadth.)"""
    # one corpus scan: membership flags per doc, checkpointed — the three
    # set operators each referenced a AND b, which inlined SIX parquet
    # scans of documents into one plan (r10 repeated-scan lint)
    flags = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("in_a"),
            (F.col("source") == "src0").alias("in_b"),
        )
        .where(F.col("in_a") | F.col("in_b"))
        .localCheckpoint(eager=False)
    )
    a = flags.where("in_a").select("doc_id")
    b = flags.where("in_b").select("doc_id")
    rows = [
        a.union(b).distinct().groupBy().agg(
            F.lit("union").alias("op"), F.count(F.lit(1)).alias("n")
        ),
        a.intersect(b).groupBy().agg(
            F.lit("intersect").alias("op"), F.count(F.lit(1)).alias("n")
        ),
        a.distinct().exceptAll(b.distinct()).groupBy().agg(
            F.lit("except").alias("op"), F.count(F.lit(1)).alias("n")
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.orderBy("op")


SET_OPS_ORACLE = """
WITH a AS (SELECT doc_id FROM documents WHERE lang = 'en'),
     b AS (SELECT doc_id FROM documents WHERE source = 'src0')
SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT doc_id FROM a UNION SELECT doc_id FROM b)
UNION ALL
SELECT 'intersect', CAST(COUNT(*) AS BIGINT)
FROM (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b)
UNION ALL
SELECT 'except', CAST(COUNT(*) AS BIGINT)
FROM (SELECT doc_id FROM a EXCEPT SELECT doc_id FROM b)
ORDER BY op
"""


register("docs_set_ops", docs_set_ops, SET_OPS_ORACLE)


# -- URL canonicalization + dedup ---------------------------------------------

# Ordered canonicalization chain — the web-pipeline pre-fetch dedup stage
# (crawl frontiers and CommonCrawl-style corpora dedup on the canonical URL
# BEFORE any content hashing: one regex pass vs downloading the duplicate).
# Each rule is a portable regexp (Java regex ∩ RE2, no backrefs):
#   1. strip the scheme            http://x  -> x
#   2. strip a leading www.        www.x     -> x
#   3. strip query + fragment      x?a=1#f   -> x
#   4. strip one trailing slash    x/        -> x
_URL_CANON_RULES = [
    (r"^[a-z][a-z0-9+.-]*://", ""),
    (r"^www\.", ""),
    (r"[?#].*$", ""),
    (r"/$", ""),
]


def _canon_sql(var: str) -> str:
    """Nested regexp_replace chain (identical text in Spark and DuckDB —
    sequential application, NOT first-match-wins: every rule always runs)."""
    out = f"lower({var})"
    for pat, rep in _URL_CANON_RULES:
        out = f"regexp_replace({out}, '{pat}', '{rep}')"
    return out


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup over the catalog's sourceUri: lowercase, strip
    scheme / www. / query+fragment / trailing slash, then ONE hash-groupBy
    on the canonical form — keeper = min id, like dedup_exact.  Scale: the
    canonicalization is map-only column algebra; the groupBy is one shuffle
    on a short string key (at crawl scale, the canonical URL is also the
    natural partitioning key for the fetch queue)."""
    from ..datasets_source import datasets_df

    canon = F.expr(_canon_sql("sourceUri"))
    return (
        datasets_df(spark, sf_dir)
        .select(F.col("id").cast("bigint").alias("id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_urls"))
        .where(F.col("n_urls") > 1)
        .orderBy("canonical_url")
    )


def _url_dedup_oracle() -> str:
    from ..datasets_source import ORACLE_DATASETS_CTE

    return f"""{ORACLE_DATASETS_CTE}
SELECT {_canon_sql('sourceUri')} AS canonical_url,
       CAST(MIN(CAST(id AS BIGINT)) AS BIGINT) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_urls
FROM datasets
GROUP BY canonical_url HAVING COUNT(*) > 1
ORDER BY canonical_url
"""


register("url_dedup", url_dedup, _url_dedup_oracle())


# -- cross-source contamination matrix ----------------------------------------


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources ship identical documents: exact content fingerprint
    (md5 of the normalized token stream, same as dedup_exact) → distinct
    (source, fp) → fp-equality self-join over source pairs (sa < sb) →
    count per pair.  The corpus-composition audit run before mixing
    sources into a training set (a high overlap count means the mixture
    over-weights that shared content).  Scale: |sources| is small but the
    fp table is corpus-sized — the join is on the 32-hex fp key (one
    shuffle), never all-pairs of docs; output is |sources|² rows."""
    from .text import SPARK_TOKENS

    fps = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.md5(F.expr(f"concat_ws(' ', {SPARK_TOKENS})")).alias("fp"),
        )
        .distinct()
    )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
        .orderBy("source_a", "source_b")
    )


def _source_overlap_oracle() -> str:
    from .text import DUCK_TOKENS

    return f"""
WITH fps AS (
  SELECT DISTINCT source, md5(array_to_string({DUCK_TOKENS}, ' ')) AS fp
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_docs
FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


register("source_overlap_matrix", source_overlap_matrix, _source_overlap_oracle())


# -- embedding near-dup clusters ----------------------------------------------


def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH-bucketed embedding near-dup pairs:
    (vec_id, cluster_id) with cluster_id = min reachable vec_id — composing
    the scale-path pair generator (similarity.dedup_embedding_lsh) with the
    same min-label-propagation machinery the Jaccard clusters use.  This is
    the keeper-selection input for semantic dedup: keep cluster_id, drop
    the rest.  Consumes the session-memoized scored pair frame
    (`_emb_lsh_pairs` — the shared-derived-table contract); the
    dedup_embedding_lsh ENTRY itself recomputes per invocation."""
    from .similarity import _emb_lsh_pairs

    edges = _emb_lsh_pairs(spark, sf_dir).select(
        F.col("va").alias("a"), F.col("vb").alias("b")
    )
    return _connected_components(edges).select(
        F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
    ).orderBy("vec_id")


def _embedding_clusters_oracle() -> str:
    from .similarity import _pair_lsh_oracle

    return f"""
WITH RECURSIVE
pairs AS (SELECT va, vb FROM ({_pair_lsh_oracle()}) p),
edges AS (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs),
reach AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges) n
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS vec_id, CAST(min(b) AS BIGINT) AS cluster_id
FROM reach GROUP BY a ORDER BY vec_id
"""


register("embedding_dup_clusters", embedding_dup_clusters, _embedding_clusters_oracle())


# -- end-to-end training-corpus pipeline --------------------------------------


def training_corpus_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep DAG in one declarative plan: quality/lang/
    dedup gates (corpus_training_filter) ∘ benchmark decontamination
    (anti-join on the 8-gram hit list) ∘ deterministic hash split, reduced
    to a per-split doc/token budget.  Each stage is the already-tested
    operator — composition is plain DataFrame algebra, so Catalyst fuses
    the whole thing into one job with no intermediate materialisation."""
    from .traindata import docs_decontaminate, docs_train_split

    kept = corpus_training_filter(spark, sf_dir)
    contaminated = docs_decontaminate(spark, sf_dir).select("doc_id")
    split = docs_train_split(spark, sf_dir).select("doc_id", "split")
    return (
        # benchmark membership (doc_id % 50 == 0) is excluded by
        # construction — decontamination flags only NON-benchmark docs
        # sharing grams, so without this the eval set itself would leak
        # into the corpus verbatim
        kept.where(F.col("doc_id") % 50 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .join(split, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_subword_tokens").alias("n_subword_tokens"),
        )
        .orderBy("split")
    )


def _e2e_oracle() -> str:
    from .traindata import DECONTAMINATE_ORACLE, SPLIT_ORACLE

    return f"""
WITH kept AS ({_corpus_filter_oracle()}),
cont AS ({DECONTAMINATE_ORACLE}),
sp AS ({SPLIT_ORACLE})
SELECT sp.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(kept.n_subword_tokens) AS BIGINT) AS n_subword_tokens
FROM kept
JOIN sp ON kept.doc_id = sp.doc_id
LEFT JOIN cont ON kept.doc_id = cont.doc_id
WHERE cont.doc_id IS NULL AND kept.doc_id % 50 <> 0
GROUP BY sp.split ORDER BY sp.split
"""


register("training_corpus_e2e", training_corpus_e2e, _e2e_oracle())


# -- token-budget mixture construction ----------------------------------------
#
# The final step of corpus assembly: each source contributes AT MOST a token
# budget to the training mixture (Pile/Dolma-style mixture weights expressed
# as absolute token counts).  Selection order within a source is a
# deterministic content hash — reproducible at any parallelism, no
# quality-rank feedback loop — and a doc is kept while the RUNNING token
# total (inclusive) is within budget, so the mixture overshoots by at most
# one document per source (the standard greedy-prefix contract).

SOURCE_TOKEN_BUDGET = 800  # subword tokens per source (bites from sf0.01 up)

_MIX_ORDER = "substring(md5(CAST(doc_id AS STRING)), 1, 8)"
_DUCK_MIX_ORDER = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"


def source_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-prefix token-budget selection per source: one window cumsum
    over the deterministic per-source order, keep while the inclusive
    running total ≤ budget.  Single shuffle on the source key; the cumsum
    is a running frame (no per-group collect), so a mega-source streams
    through its partition."""
    w = (
        Window.partitionBy("source")
        .orderBy(F.expr(_MIX_ORDER), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = read_table(spark, sf_dir, "documents").withColumn(
        "n_subword_tokens",
        F.expr(f'size(regexp_extract_all(text, "{BPE_PATTERN}", 0))').cast("long"),
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_subword_tokens").over(w))
        .where(F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET)
        .select("doc_id", "source", "n_subword_tokens", "cum_tokens")
        .orderBy("doc_id")
    )


MIX_ORACLE = f"""
SELECT doc_id, source, n_subword_tokens, cum_tokens
FROM (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT)
             AS n_subword_tokens,
         CAST(SUM(CAST(len(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}')) AS BIGINT))
              OVER (PARTITION BY source
                    ORDER BY {_DUCK_MIX_ORDER}, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens
  FROM documents
)
WHERE cum_tokens <= {SOURCE_TOKEN_BUDGET}
ORDER BY doc_id
"""


register("source_token_budget_mix", source_token_budget_mix, MIX_ORACLE)


# -- temperature-scaled mixture weights ------------------------------------------
#
# The OTHER standard mixing rule (T5 / multilingual-LM style): sampling
# share w_i ∝ (token share)^α with α < 1, which upweights small sources
# relative to their natural share.  Reported per source: the natural and
# temperature shares, the implied epochs over the source (target tokens /
# available tokens — >1 means the small source repeats), and how many docs
# a single-pass deterministic hash-resample at rate min(1, epochs) keeps.
#
# Scale shape: one map-side-combined aggregation to the per-source token
# totals (a handful of rows — model-sized), shares computed over that tiny
# frame with a window, then ONE map-only pass applies the rate via the
# portable md5 hash fraction — no shuffle of the corpus itself beyond the
# source rollup, and the resample decision is reproducible at any
# parallelism (content hash, not rand()).

MIX_ALPHA = 0.7


def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, nat_share, temp_share, epochs,
    n_sampled): temperature-α mixture weights over sources plus the
    deterministic doc-level resample count at rate min(1, epochs)."""
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("__tmix_docs")
    return spark.sql(
        f"""
WITH d AS (SELECT doc_id, source,
                  CAST(size({SPARK_TOKENS}) AS BIGINT) AS n_tok,
                  CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)
                       AS BIGINT) / CAST(4294967296 AS DOUBLE) AS u01
           FROM __tmix_docs),
s AS (SELECT source, CAST(count(1) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY source),
n0 AS (SELECT source, n_docs, n_tokens,
              sum(n_tokens) OVER () AS total_tokens,
              n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS nat_share
       FROM s),
-- pow() is the one non-correctly-rounded op here (JVM Math.pow vs libm
-- can differ in the last ulp); pin it to DECIMAL(20,12) BEFORE the
-- window sum and the u01 threshold so every downstream double op is
-- correctly rounded over bit-identical inputs on both engines (the
-- bigram-LM ln() discipline)
w AS (SELECT source, n_docs, n_tokens, total_tokens, nat_share,
             CAST(pow(nat_share, {MIX_ALPHA}) AS DECIMAL(20,12)) AS pw
      FROM n0),
w2 AS (SELECT source, n_docs, n_tokens, total_tokens, nat_share,
              CAST(pw AS DOUBLE)
                / CAST(sum(pw) OVER () AS DOUBLE) AS temp_share
       FROM w),
r AS (SELECT source, n_docs, n_tokens, nat_share, temp_share,
             temp_share * total_tokens / n_tokens AS epochs
      FROM w2)
SELECT r.source, r.n_docs, r.n_tokens,
       round(r.nat_share, 6) AS nat_share,
       round(r.temp_share, 6) AS temp_share,
       round(r.epochs, 6) AS epochs,
       CAST(sum(CASE WHEN d.u01 < least(r.epochs, CAST(1.0 AS DOUBLE))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM r JOIN d ON r.source = d.source
GROUP BY r.source, r.n_docs, r.n_tokens, r.nat_share, r.temp_share, r.epochs
ORDER BY r.source
"""
    )


TEMP_MIX_ORACLE = f"""
WITH d AS (SELECT doc_id, source,
                  CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tok,
                  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / CAST(4294967296 AS DOUBLE) AS u01
           FROM documents),
s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY source),
n0 AS (SELECT source, n_docs, n_tokens,
              sum(n_tokens) OVER () AS total_tokens,
              n_tokens / CAST(sum(n_tokens) OVER () AS DOUBLE) AS nat_share
       FROM s),
w AS (SELECT source, n_docs, n_tokens, total_tokens, nat_share,
             CAST(pow(nat_share, {MIX_ALPHA}) AS DECIMAL(20,12)) AS pw
      FROM n0),
w2 AS (SELECT source, n_docs, n_tokens, total_tokens, nat_share,
              CAST(pw AS DOUBLE)
                / CAST(sum(pw) OVER () AS DOUBLE) AS temp_share
       FROM w),
r AS (SELECT source, n_docs, n_tokens, nat_share, temp_share,
             temp_share * total_tokens / n_tokens AS epochs
      FROM w2)
SELECT r.source, r.n_docs, r.n_tokens,
       round(r.nat_share, 6) AS nat_share,
       round(r.temp_share, 6) AS temp_share,
       round(r.epochs, 6) AS epochs,
       CAST(sum(CASE WHEN d.u01 < least(r.epochs, CAST(1.0 AS DOUBLE))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM r JOIN d ON r.source = d.source
GROUP BY r.source, r.n_docs, r.n_tokens, r.nat_share, r.temp_share, r.epochs
ORDER BY r.source
"""

register("source_temperature_mix", source_temperature_mix, TEMP_MIX_ORACLE)


# -- dedup report: cluster-size histogram + corpus dup rate ----------------------
#
# The per-snapshot number a dedup pipeline actually publishes: how
# duplicated is the corpus?  One row per (pair method, near-dup cluster
# SIZE) with the cluster count, members, and the docs a keep-one
# resolution would drop, plus each size bucket's share of the whole
# corpus.  r10: reports BOTH resolved closures side by side — the exact
# Jaccard lane and the banded MinHash lane (dedup_cluster_components) —
# which is the comparison a pipeline owner reads to see what the LSH
# approximation costs in cluster structure.  Reads the memoized cluster
# labels, so the report costs two aggregations over the (tiny) label
# frames plus one corpus count — the label propagation is paid once per
# corpus and method, not per report.


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, cluster_size, n_clusters, n_docs, n_dropped,
    pct_of_corpus) per pair lane and cluster size, ordered by both."""
    total = read_table(spark, sf_dir, "documents").count()  # 1 scalar

    def hist(method: str) -> DataFrame:
        sizes = (
            _cluster_labels(spark, sf_dir, method)
            .groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("cluster_size"))
        )
        return (
            sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select(
                F.lit(method).alias("method"),
                "cluster_size",
                "n_clusters",
                (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
                ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                    "n_dropped"
                ),
                F.round(
                    F.col("cluster_size")
                    * F.col("n_clusters")
                    / F.lit(float(total)),
                    6,
                ).alias("pct_of_corpus"),
            )
        )

    return hist("jaccard").unionAll(hist("minhash")).orderBy(
        "method", "cluster_size"
    )


DUP_HISTOGRAM_ORACLE = f"""
WITH RECURSIVE {DUP_CLUSTERS_CTES},
{MH_CLUSTER_CTES},
sizes AS (SELECT 'jaccard' AS method, cluster_id,
                 CAST(count(*) AS BIGINT) AS cluster_size
          FROM clusters GROUP BY cluster_id
          UNION ALL
          SELECT 'minhash', cluster_id, CAST(count(*) AS BIGINT)
          FROM mh_clusters GROUP BY cluster_id),
total AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
SELECT method, cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dropped,
       round(cluster_size * count(*) / total.n, 6) AS pct_of_corpus
FROM sizes CROSS JOIN total
GROUP BY method, cluster_size, total.n
ORDER BY method, cluster_size
"""

register(
    "dedup_cluster_histogram", dedup_cluster_histogram, DUP_HISTOGRAM_ORACLE
)


# -- per-document quality-signals table (the Dolma/RedPajama artifact) ---------
#
# Every published pre-training corpus ships a SIGNALS table next to the
# text: one wide row per document with the quality features the filter
# thresholds were derived from, so downstream users can re-threshold
# without re-running the tagger sweep (Dolma's attributes files,
# RedPajama-v2's quality_signals).  The individual signals above each
# have their own oracle-checked entry; this is their ONE-PASS composition
# — the corpus is tokenized exactly once (a checkpointed slim frame), and
# every signal reads that frame:
#
# - map-only: size/char/alpha/stopword/avg-token-length features, the
#   marker-word language prediction, n_unique + dup_ratio via
#   array_distinct, and the exact-content fingerprint;
# - one fp-partitioned window for the exact-dup flag (keyed shuffle,
#   never global);
# - one explode + two-level aggregation for top_token_frac (map-side
#   partial counts), joined back on doc_id.
#
# quality_keep repeats the text_quality thresholds over the ROUNDED
# ratios (the corpus_training_filter convention), so the verdict here is
# bit-consistent with the standalone gate.


def docs_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_unique_tokens, alpha_ratio,
    stop_ratio, avg_token_len, top_token_frac, dup_ratio, lang_pred,
    is_exact_dup, quality_keep) — one row per document, ordered."""
    base = (
        read_table(spark, sf_dir, "documents")
        .withColumn("t", F.expr(SPARK_TOKENS))
        .select(
            "doc_id",
            "t",
            F.length("text").cast("long").alias("n_chars"),
            F.round(
                F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
                / F.length("text"),
                6,
            ).alias("alpha_ratio"),
        )
        .localCheckpoint(eager=False)  # tokenize once: window arm + explode arm
    )
    s = {}
    m = base
    for lang in _LANG_ORDER:
        arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
        m = m.withColumn(
            f"s_{lang}",
            F.expr(f"size(array_intersect(t, array({arr})))").cast("int"),
        )
        s[lang] = F.col(f"s_{lang}")
    pred = (
        F.when(
            (s["en"] > 0)
            & (s["en"] >= s["de"])
            & (s["en"] >= s["es"])
            & (s["en"] >= s["fr"]),
            "en",
        )
        .when((s["de"] > 0) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["es"] > 0) & (s["es"] >= s["fr"]), "es")
        .when(s["fr"] > 0, "fr")
        .otherwise("und")
    )
    m = (
        m.withColumn("n_tokens", F.expr("size(t)").cast("long"))
        .withColumn(
            "stop_ratio",
            F.round(
                F.expr(spark_stop_count(_STOPWORDS)) / F.col("n_tokens"), 6
            ),
        )
        .withColumn(
            "avg_token_len",
            F.round(
                # BIGINT accumulator — same spelling as text.py's
                # text_quality so the composed signals stay bit-consistent
                # while removing the 32-bit wrap on pathological inputs
                # (r10 ADVICE).
                F.expr("aggregate(t, CAST(0 AS BIGINT), (a, x) -> a + length(x))")
                / F.col("n_tokens"),
                6,
            ),
        )
        .withColumn(
            "n_unique_tokens", F.expr("size(array_distinct(t))").cast("long")
        )
        .withColumn(
            "dup_ratio",
            F.round(1 - F.col("n_unique_tokens") / F.col("n_tokens"), 6),
        )
        .withColumn("lang_pred", pred)
        .withColumn("fp", F.md5(F.expr("concat_ws(' ', t)")))
        .withColumn("keeper", F.min("doc_id").over(Window.partitionBy("fp")))
    )
    top = (
        base.select("doc_id", F.explode("t").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_token_frac"))
    )
    return (
        m.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            "n_unique_tokens",
            "alpha_ratio",
            "stop_ratio",
            "avg_token_len",
            "top_token_frac",
            "dup_ratio",
            "lang_pred",
            (F.col("doc_id") != F.col("keeper")).alias("is_exact_dup"),
            (
                (F.col("n_tokens") >= 5)
                & (F.col("alpha_ratio") >= 0.6)
                & (F.col("stop_ratio") <= 0.5)
            ).alias("quality_keep"),
        )
        .orderBy("doc_id")
    )


def _signals_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])
    de = ", ".join(f"'{w}'" for w in LANG_MARKERS["de"])
    es = ", ".join(f"'{w}'" for w in LANG_MARKERS["es"])
    fr = ", ".join(f"'{w}'" for w in LANG_MARKERS["fr"])
    stops = duck_stop_count(_STOPWORDS)
    return f"""
WITH d AS (SELECT doc_id, text, {DUCK_TOKENS} AS t FROM documents),
m AS (
  SELECT doc_id, t,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_unique_tokens,
         round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               / length(text), 6) AS alpha_ratio,
         round({stops} / len(t), 6) AS stop_ratio,
         round(list_sum(list_transform(t, x -> length(x))) / len(t), 6)
           AS avg_token_len,
         round(1 - len(list_distinct(t)) * 1.0 / len(t), 6) AS dup_ratio,
         len(list_intersect(t, [{en}])) AS s_en,
         len(list_intersect(t, [{de}])) AS s_de,
         len(list_intersect(t, [{es}])) AS s_es,
         len(list_intersect(t, [{fr}])) AS s_fr,
         min(doc_id) OVER (PARTITION BY md5(array_to_string(t, ' ')))
           AS keeper
  FROM d),
top AS (
  SELECT doc_id, round(MAX(c) * 1.0 / SUM(c), 6) AS top_token_frac
  FROM (SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM d)
        GROUP BY doc_id, tok)
  GROUP BY doc_id)
SELECT m.doc_id, n_chars, n_tokens, n_unique_tokens, alpha_ratio,
       stop_ratio, avg_token_len, top_token_frac, dup_ratio,
       CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
              THEN 'en'
            WHEN s_de > 0 AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es > 0 AND s_es >= s_fr THEN 'es'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_pred,
       m.doc_id <> keeper AS is_exact_dup,
       (n_tokens >= 5 AND alpha_ratio >= 0.6 AND stop_ratio <= 0.5)
         AS quality_keep
FROM m LEFT JOIN top USING (doc_id)
ORDER BY m.doc_id
"""


register("docs_quality_signals", docs_quality_signals, _signals_oracle())
