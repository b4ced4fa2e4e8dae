"""Deduplication operators over the documents table — exact, n-gram Jaccard,
MinHash+LSH, SimHash.  (Embedding-cosine near-dup lives in similarity.py.)

All four are fully oracle-checked: the sketch-based ones (MinHash, SimHash)
use a PORTABLE hash scheme — one md5 digest per shingle/token, parsed into
an integer from the hex (Spark ``conv(hex,16,10)`` ≡ DuckDB
``('0x'||hex)::BIGINT``).  The k MinHash permutations are the universal
family ``h_i = (a_i·h + b_i) mod p`` over the 32-bit base hash with fixed
pseudorandom (a_i, b_i) and p = 2^61−1: products stay < 2^62 (no int64
overflow in either engine) and the mod breaks cross-i monotonicity — a
linear no-mod family like ``h1 + i·h2`` is NOT a valid MinHash family
(argmin becomes the same shingle for every large i, so unrelated docs
agree on most components).  One digest serves all k functions, cheaper
than k independent string hashes.  pytest additionally verifies recall
against the exact Jaccard ground truth.

Scale design (100 TB):
- exact dedup: one shuffle on a 16-byte hash — the cheapest possible
  distributed dedup; always run it first.
- n-gram Jaccard: exact but O(Σ pairs sharing a shingle) — correct at any
  scale only after blocking; here it is the ground-truth oracle.
- MinHash+LSH: the real 100 TB path.  signature = k per-shingle hash mins
  (one explode + one groupBy), banding turns O(n²) similarity into an
  equality join on (band, band_hash) — shuffle on band keys, candidate
  verification only within buckets.  b=16 bands × r=4 rows ⇒ s-curve
  threshold ≈ (1/16)^(1/4) ≈ 0.5.
- SimHash: 64-bit fingerprint per doc (map-only), candidates via 4×16-bit
  chunk equality join (Hamming ≤ 3 guarantees a shared chunk by pigeonhole).

Session contract: the two-statement execution form registers FIXED temp
view names (``__mh_docs``/``__mh_sig``/``__inc_docs``/``__inc_sig``/...)
because the rendered SQL texts reference them; one dedup query at a time
per SparkSession.  Each query re-registers its views first, so serial
invocation (the registry/bench/driver pattern) is always safe; operators
that can interleave through composition (the kmeans/PQ training family)
use per-call unique names instead (kmeans._uview).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_table
from .registry import register
from .text import DUCK_SHINGLES, DUCK_TOKENS, SPARK_SHINGLES, SPARK_TOKENS

JACCARD_THRESHOLD = 0.5
# Blocking hygiene for the shingle self-join: shingles whose document
# frequency exceeds this cutoff are dropped BEFORE the join (on both
# engines, so the oracle stays exact).  With cutoff c the candidate-pair
# count is bounded by Σ_s df_s·min(df_s, c) ≤ c·|postings| — LINEAR in
# corpus size, vs the unguarded Σ df_s² which explodes quadratically inside
# hot boilerplate shingles (a df-10⁶ shingle alone is 10¹² pairs).  128 is
# far above every real shingle df at the test SFs (max 25 at sf0.1), so
# results equal true Jaccard there; at 100 TB it is what drops the
# boilerplate header/footer shingles that would otherwise dominate the
# shuffle.
MAX_SHINGLE_DF = 128

MINHASH_K = 64  # signature length
MINHASH_BANDS = 16  # b bands of r = k/b rows
SIMHASH_BITS = 60  # 15 hex chars of md5 — max portable int64-safe width
SIMHASH_MAX_HAMMING = 3
SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 ⇒ ≥1 of 4 chunks equal

# Portable md5-derived 32-bit base hash (identical semantics in DuckDB via
# the 0x-cast; see module docstring) + the universal-family constants.
_SPARK_H32 = "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
# First prime ABOVE the 2^32 base-hash universe.  p must sit just above the
# universe: with a much larger p (say 2^61−1) a_i·h + b_i almost never
# wraps, the map stays monotone in h, and every component's argmin is the
# same min-h shingle — silently degenerating the whole signature.
_MINHASH_P = 4294967311


def _minhash_coeffs(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Fixed pseudorandom (a_i, b_i) pairs; a_i < 2^30 keeps a_i·h < 2^62."""
    import random

    rng = random.Random(0x5EED)
    return [(rng.randrange(1, 1 << 30), rng.randrange(0, _MINHASH_P)) for _ in range(k)]


MINHASH_COEFFS = _minhash_coeffs()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _tokens(df: DataFrame) -> DataFrame:
    """Append the token array — a no-op when the caller already carries a
    ``t`` column (lets multi-arm audits tokenize once)."""
    if "t" in df.columns:
        return df
    return df.withColumn("t", F.expr(SPARK_TOKENS))


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, s) — distinct 3-gram word shingles, exploded."""
    return (
        _tokens(df)
        .select("doc_id", F.explode(F.expr(SPARK_SHINGLES)).alias("s"))
        .distinct()
    )


# -- exact dedup -------------------------------------------------------------


def _fps_sql(view: str) -> str:
    """The exact content fingerprint SELECT, ``(doc_id, fp)`` with ``fp`` =
    md5 of the space-joined normalized token stream, over a documents
    view — the one Spark SQL text of it (DEDUP_EXACT_ORACLE is its DuckDB
    twin)."""
    return (
        f"SELECT doc_id, md5(concat_ws(' ', t)) AS fp "
        f"FROM (SELECT doc_id, {SPARK_TOKENS} AS t FROM {view})"
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup on the normalized token stream: one shuffle
    on md5, keeper = min doc_id per group.  Batch analytics: fingerprints
    are computed per invocation (r11 verdict — no memoized result frames
    on plain batch entries); dedup_incremental's exact arm keeps the
    shared exact_fps_table."""
    _docs(spark, sf_dir).createOrReplaceTempView("__xd_docs")
    fps = spark.sql(_fps_sql("__xd_docs"))
    return (
        fps.groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("fp")
    )


DEDUP_EXACT_ORACLE = f"""
WITH d AS (SELECT doc_id, md5(array_to_string({DUCK_TOKENS}, ' ')) AS fp FROM documents)
SELECT fp, CAST(MIN(doc_id) AS BIGINT) AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp
"""


# -- exact n-gram Jaccard (the ground truth) ---------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame, max_shingle_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """Pairs with 3-gram shingle Jaccard ≥ 0.5 over the df-capped shingle
    universe: explode → df-cutoff guard → equality self-join on shingle
    (the blocking key) → per-pair overlap count → |A∪B| from per-doc sizes.
    Deterministic, oracle-checked; ``max_shingle_df=None`` disables the
    guard (tests use it to prove the bound and the unchanged results)."""
    sh = _shingles(docs)
    if max_shingle_df is not None:
        # The HOT side (df > cutoff) is usually tiny — the corpus's
        # boilerplate-shingle inventory — but it is NOT constant-bounded:
        # |hot| ≤ |postings|/cutoff, which at 100 TB can exceed any fixed
        # broadcast cap.  So the guard is an UNHINTED anti-join: AQE
        # broadcasts it when the runtime size is genuinely small and falls
        # back to a shuffle join when it isn't (the df aggregation already
        # paid that shuffle, so asymptotics are unchanged either way).
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df_s"))
            .where(F.col("df_s") > max_shingle_df)
            .select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("common") / (F.col("na.n") + F.col("nb.n") - F.col("common"))
    return (
        pairs.join(na, F.col("da") == F.col("na.doc_id"))
        .join(nb, F.col("db") == F.col("nb.doc_id"))
        .where(jac >= JACCARD_THRESHOLD)
        .select("da", "db", F.round(jac, 6).alias("jac"))
        .orderBy("da", "db")
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs (the recall denominator for MinHash),
    with the df-cutoff blocking guard active — the SQL twin of
    ``ngram_jaccard_pairs`` (which tests keep exercising with custom caps).
    Two analyzed statements (capped shingles → checkpoint → pair join),
    the dedup_minhash execution form; the REPARTITION hint spreads the
    1-row-group local file across the executor threads (no-op on a
    properly partitioned deployment input).  Batch analytics: the full
    pipeline runs per invocation (r11 verdict); the recall contract, LSH
    tuning report, leakage audit, and cluster lanes share ONE memoized
    copy of this ground-truth table (dedup_contract._pairs) instead."""
    hint = (
        f"/*+ REPARTITION({spark.sparkContext.defaultParallelism},"
        " doc_id) */"
    )
    _docs(spark, sf_dir).createOrReplaceTempView("__jac_docs")
    sh = spark.sql(
        f"""
WITH toks AS (SELECT {hint} doc_id, {SPARK_TOKENS} AS t FROM __jac_docs),
sh0 AS (SELECT doc_id, explode({SPARK_SHINGLES}) AS s FROM toks),
dfs AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF})
SELECT sh0.* FROM sh0 JOIN dfs USING (s)
"""
    ).localCheckpoint(eager=False)
    sh.createOrReplaceTempView("__jac_sh")
    return spark.sql(
        f"""
WITH sh AS (SELECT * FROM __jac_sh),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, round(common / (na.n + nb.n - common), 6) AS jac
FROM pairs JOIN sizes na ON da = na.doc_id JOIN sizes nb ON db = nb.doc_id
WHERE common / (na.n + nb.n - common) >= {JACCARD_THRESHOLD}
"""
    ).orderBy("da", "db")


# The pair query body, reusable as a subquery (dup-cluster resolution in
# operators/corpus.py embeds it).
JACCARD_PAIRS_BODY = f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
sh0 AS (SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS s FROM toks),
dfs AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= {MAX_SHINGLE_DF}),
sh AS (SELECT sh0.* FROM sh0 JOIN dfs USING (s)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT da, db, round(common / (na.n + nb.n - common), 6) AS jac
FROM pairs JOIN sizes na ON da = na.doc_id JOIN sizes nb ON db = nb.doc_id
WHERE common / (na.n + nb.n - common) >= {JACCARD_THRESHOLD}
"""

DEDUP_JACCARD_ORACLE = f"{JACCARD_PAIRS_BODY} ORDER BY da, db"


# -- MinHash + LSH (the scale path) ------------------------------------------


# Deployment-variant base hash: xxhash64 is a JVM intrinsic (no hex
# string round-trip like md5), masked to the same 32-bit universe so the
# universal family's mod-p math is unchanged.  NOT oracle-portable (DuckDB
# has no xxhash64), which is why the REGISTERED query stays on md5; the
# variant exists for deployments that don't need cross-engine replay, and
# pytest pins that both variants find the same near-dup pairs.  Measured
# signature-pass cost at sf0.1 (5 k docs, local[32]): md5 1.34 s vs
# xxhash64 1.03 s — the md5 portability tax is ~25% of the signature pass.
_SPARK_H32_XX = "xxhash64(s) & 4294967295"


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, *, base_hash: str = "md5"
) -> DataFrame:
    """(doc_id, sig: array<long>) — component i = min over shingles of
    ``(a_i·h + b_i) mod p`` where h is the md5-derived 32-bit base hash
    (portable to the DuckDB oracle).  One groupBy over the exploded
    shingles: the k hashes are flat codegen'd column expressions (NOT
    higher-order-function lambdas, which evaluate interpreted and cost ~7×
    here), and map-side partial mins mean the shuffle carries only
    n_docs × k longs per map partition — the exploded shingle stream itself
    never crosses the wire."""
    # Shingle dedup stays INSIDE the row (SPARK_SHINGLES applies
    # array_distinct itself) instead of a (doc_id, s) DISTINCT: explode is
    # a narrow op, so when the input is partitioned by doc_id the groupBy
    # needs no exchange — the whole signature computation is shuffle-free
    # after the initial doc spread.
    sh = _tokens(docs).select("doc_id", F.explode(F.expr(SPARK_SHINGLES)).alias("s"))
    h32 = {"md5": _SPARK_H32, "xxhash64": _SPARK_H32_XX}[base_hash]
    hashed = sh.select("doc_id", F.expr(h32).alias("h"))
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
    ]
    sig = hashed.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def minhash_bands(sig: DataFrame, bands: int = MINHASH_BANDS, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, band, band_hash) — LSH bucket keys.  The bucket key is the
    first 16 hex chars of md5 over the band's signature slice (portable;
    64 bits of collision resistance keeps false buckets negligible while
    halving the shuffle-key width of the full digest)."""
    r = k // bands
    rows = []
    for band in range(bands):
        cols = [F.col("sig")[band * r + j].cast("string") for j in range(r)]
        rows.append(
            F.struct(
                F.lit(band).alias("band"),
                F.substring(F.md5(F.concat_ws("|", *cols)), 1, 16).alias("band_hash"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*rows)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_hash").alias("band_hash"))


# Skew guard for LSH buckets (the banding analog of MAX_SHINGLE_DF): a
# bucket of k colliding docs yields k(k-1)/2 candidate pairs, so one
# degenerate bucket (empty docs, boilerplate) can dominate the whole job.
# Buckets larger than this cap are dropped on both engines; a real near-dup
# cluster that large is better served by the connected-components pass in
# operators/corpus.py anyway.  Far above every bucket size at the test SFs
# (max ≈ cluster size ~ 4), so results are unchanged there.
MAX_BAND_BUCKET = 1024


def admissible_band_keys(
    df: DataFrame,
    keys: list[str],
    cap: int = MAX_BAND_BUCKET,
    *,
    require_pair: bool = True,
) -> DataFrame:
    """The skew-cap count pre-pass, shared by every bucketed candidate
    generator: keys whose membership is ≤ cap (and > 1 when only
    multi-member buckets can produce pairs).  Centralized so the cap
    predicate cannot drift between the batch and incremental paths."""
    cond = F.col("n") <= cap
    if require_pair:
        cond = cond & (F.col("n") > 1)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(cond)
        .select(*keys)
    )


def capped_buckets(
    df: DataFrame, keys: list[str], payload, cap: int = MAX_BAND_BUCKET
) -> DataFrame:
    """GroupBy ``keys`` and collect ``payload`` into a list — but enforce
    the bucket-size cap BEFORE any list materializes: the admissible-keys
    pre-pass + a semi-join drop every row of an oversized bucket, so a
    degenerate key (empty docs at crawl scale) never builds an unbounded
    array in a single aggregation buffer only to be discarded.  Two hash
    aggs + one equality join on the same key — identical results to
    filter-after-collect, cap honored by construction."""
    return (
        df.join(admissible_band_keys(df, keys, cap), keys, "left_semi")
        .groupBy(*keys)
        .agg(F.collect_list(payload).alias("payload"))
    )


def _ok_bucket_sql(require_pair: bool = True) -> str:
    """The ONE spelling of the bucket-admissibility predicate for the SQL
    twins (Spark statement and DuckDB oracle alike) — the HAVING clause of
    every banded candidate generator.  Mirrors admissible_band_keys'
    semantics (which guards the composable DataFrame variants)."""
    base = f"count(*) <= {MAX_BAND_BUCKET}"
    return f"count(*) > 1 AND {base}" if require_pair else base


def _mh_dialect(dialect: str) -> dict:
    """Dialect spellings shared by the minhash/simhash SQL renderers."""
    spark = dialect == "spark"
    return {
        "spark": spark,
        "tokens": SPARK_TOKENS if spark else DUCK_TOKENS,
        "h32": (
            "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
            if spark
            else "('0x' || substr(md5(s), 1, 8))::BIGINT"
        ),
        "h60": (
            "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"
            if spark
            else "('0x' || substr(md5(w), 1, 15))::BIGINT"
        ),
        "strtype": "STRING" if spark else "VARCHAR",
        "sh": (
            f"SELECT doc_id, explode({SPARK_SHINGLES}) AS s FROM toks"
            if spark
            else f"SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS s FROM toks"
        ),
        "tok_un": (
            "SELECT doc_id, explode(t) AS w FROM toks"
            if spark
            else "SELECT doc_id, unnest(t) AS w FROM toks"
        ),
    }


def _mins_sql(k: int = MINHASH_K) -> str:
    return ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
    )


def _sig_ctes(
    dialect: str, table: str = "documents", hint: str = "", k: int = MINHASH_K
) -> str:
    """CTE chain ``toks, sh, hashed, sig`` — (doc_id, h0..h{k-1}) minhash
    signatures — in either dialect."""
    d = _mh_dialect(dialect)
    return f"""toks AS (SELECT {hint} doc_id, {d['tokens']} AS t FROM {table}),
sh AS ({d['sh']}),
hashed AS (SELECT doc_id, {d['h32']} AS h FROM sh),
sig AS (SELECT doc_id, {_mins_sql(k)}
        FROM hashed GROUP BY doc_id)"""


def _band_defs(dialect: str, k: int = MINHASH_K, bands: int = MINHASH_BANDS):
    d = _mh_dialect(dialect)
    r = k // bands

    def band_hash(b: int) -> str:
        cols = ", ".join(
            f"CAST(h{b * r + j} AS {d['strtype']})" for j in range(r)
        )
        return f"substr(md5(concat_ws('|', {cols})), 1, 16)"

    if d["spark"]:
        structs = ", ".join(
            f"struct({b} AS band, {band_hash(b)} AS band_hash)"
            for b in range(bands)
        )
        return (
            "SELECT doc_id, bk.band AS band, bk.band_hash AS band_hash FROM "
            f"(SELECT doc_id, explode(array({structs})) AS bk FROM sig)"
        )
    return "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, {band_hash(b)} AS band_hash FROM sig"
        for b in range(bands)
    )


def _agree_sql(k: int = MINHASH_K) -> str:
    return " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )


def _derived(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    """Documents-derived dedup state (signature table, fingerprint tables,
    the incremental unions), memoized by ``session_cache.derived`` and
    written as a process scratch table: full-corpus derived state must
    not pin executor storage for the session's lifetime
    (io.process_scratch_table)."""
    from ..io import process_scratch_table
    from .session_cache import derived

    return derived(
        spark,
        sf_dir,
        "documents",
        tag,
        lambda: process_scratch_table(build(), tag.split("|")[0]),
    )


def mh_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h63) over ALL documents — checkpointed + memoized."""

    def build() -> DataFrame:
        hint = (
            f"/*+ REPARTITION({spark.sparkContext.defaultParallelism},"
            " doc_id) */"
        )
        _docs(spark, sf_dir).createOrReplaceTempView("__sig_docs")
        return spark.sql(
            f"WITH {_sig_ctes('spark', '__sig_docs', hint)} SELECT * FROM sig"
        )

    return _derived(spark, sf_dir, f"sig|{MINHASH_K}", build)


def exact_fps_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) exact content fingerprints (md5 of the normalized
    token stream) over ALL documents — written once + memoized for
    dedup_incremental's exact arm.  dedup_exact computes the same SQL text
    (``_fps_sql``) per invocation instead of reading this table."""

    def build() -> DataFrame:
        _docs(spark, sf_dir).createOrReplaceTempView("__xfp_docs")
        return spark.sql(_fps_sql("__xfp_docs"))

    return _derived(spark, sf_dir, "exact-fps", build)


def sh_fps_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) 60-bit SimHash fingerprints over ALL documents —
    checkpointed + memoized (consumers: dedup_simhash, the blocking-stats
    simhash arm)."""

    def build() -> DataFrame:
        hint = (
            f"/*+ REPARTITION({spark.sparkContext.defaultParallelism},"
            " doc_id) */"
        )
        _docs(spark, sf_dir).createOrReplaceTempView("__fps_docs")
        return spark.sql(
            f"WITH {_fps_ctes('spark', '__fps_docs', hint)} SELECT * FROM fps"
        )

    return _derived(spark, sf_dir, "simhash-fps", build)


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with signature-estimated Jaccard.

    Output: (da, db, est_jac) for candidate pairs whose banding collided and
    whose signature agreement ≥ threshold.  Fully deterministic and — thanks
    to the portable md5 double-hash scheme — reproduced exactly by the
    DuckDB oracle; pytest additionally measures recall against
    dedup_ngram_jaccard.

    Plan: candidates come from ONE shuffle — groupBy the band key, generate
    pairs INSIDE each (size-capped) bucket — rather than a bands×bands
    self-join, which would shuffle both sides and rebuild the band table
    twice.  Bucket-local pair generation plus the MAX_BAND_BUCKET cap is
    the standard production shape of LSH dedup (bounded work per bucket,
    skew impossible by construction).

    Execution form: TWO spark.sql statements (signatures, then
    band→bucket→pair→estimate over the checkpointed signature view) — the
    earlier DataFrame-composed chain spent ~7 of its 7.7 s at sf0.1 in
    eager per-operation Catalyst re-analysis; this form is analyzed twice
    total and runs in ~2.5 s with an identical result (the
    dedup_blocking_stats finding, applied to the flagship dedup path).

    This entry is BATCH ANALYTICS: it executes the full pipeline —
    signatures included — per invocation (r11 verdict: returning a
    session-memoized result frame made the bench measure cache reads).
    The shared memoized tables (mh_sig_table, the dedup_contract._pairs
    scored frames) still serve the recall-contract / tuning / cluster /
    incremental consumers, which is where the materialized-view rationale
    actually applies."""
    # per-invocation signature build; the lazy checkpoint is plan reuse
    # WITHIN this query (sig is read by the banding pass + two
    # estimate-joins), not cross-invocation state
    _docs(spark, sf_dir).createOrReplaceTempView("__mh_docs")
    hint = (
        f"/*+ REPARTITION({spark.sparkContext.defaultParallelism},"
        " doc_id) */"
    )
    spark.sql(
        f"WITH {_sig_ctes('spark', '__mh_docs', hint)} SELECT * FROM sig"
    ).localCheckpoint(eager=False).createOrReplaceTempView("__mh_sig")
    agree = _agree_sql()
    return spark.sql(
        f"""
WITH sig AS (SELECT * FROM __mh_sig),
bands AS ({_band_defs('spark')}),
ok AS (SELECT band, band_hash FROM bands GROUP BY 1, 2
       HAVING {_ok_bucket_sql()}),
buckets AS (SELECT collect_list(doc_id) AS ids
            FROM bands LEFT SEMI JOIN ok
              ON bands.band = ok.band AND bands.band_hash = ok.band_hash
            GROUP BY bands.band, bands.band_hash),
cand AS (SELECT DISTINCT p.da AS da, p.db AS db FROM (
  SELECT explode(filter(flatten(transform(ids, x -> transform(ids,
         y -> struct(x AS da, y AS db)))), s -> s.da < s.db)) AS p
  FROM buckets))
SELECT da, db, round(({agree}) / CAST({MINHASH_K} AS DOUBLE), 6) AS est_jac
FROM cand JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
WHERE ({agree}) / CAST({MINHASH_K} AS DOUBLE) >= {JACCARD_THRESHOLD}
"""
    ).orderBy("da", "db")


# -- SimHash -----------------------------------------------------------------


def _shift_sql(dialect: str):
    """(shr, shl1) renderers: Spark spells shifts as functions, DuckDB as
    operators."""
    if dialect == "spark":
        return (
            lambda x, i: f"shiftright({x}, {i})",
            lambda i: f"shiftleft(CAST(1 AS BIGINT), {i})",
        )
    return (
        lambda x, i: f"({x} >> {i})",
        lambda i: f"(CAST(1 AS BIGINT) << {i})",
    )


def _fps_ctes(dialect: str, table: str = "documents", hint: str = "") -> str:
    """CTE chain ``toks, tok, thashed, votes, fps`` — (doc_id, fp) 60-bit
    SimHash fingerprints over the token multiset (60 = 15 md5 hex chars,
    the widest md5 prefix that parses into a signed int64 in both engines —
    the portability constraint sets the width).  Map-only per doc: explode
    tokens, hash each, ±1 vote per bit weighted by token multiplicity,
    sign-pack; the votes are plain aggregates so the whole thing is one
    partial-aggregated groupBy."""
    d = _mh_dialect(dialect)
    shr, shl1 = _shift_sql(dialect)
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({shr('h', i)} & 1) = 1 THEN cnt ELSE -cnt END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {shl1(i)} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return f"""toks AS (SELECT {hint} doc_id, {d['tokens']} AS t FROM {table}),
tok AS (SELECT doc_id, w, count(*) AS cnt
        FROM ({d['tok_un']}) GROUP BY 1, 2),
thashed AS (SELECT doc_id, cnt, {d['h60']} AS h FROM tok),
votes AS (SELECT doc_id, {votes}
          FROM thashed GROUP BY doc_id),
fps AS (SELECT doc_id, {packed} AS fp FROM votes)"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) SimHash fingerprints of an arbitrary docs frame — the
    DataFrame wrapper over ``_fps_ctes`` (kept for composition; the
    registered queries go through the SQL renderer directly)."""
    docs.createOrReplaceTempView("__fps_docs")
    return docs.sparkSession.sql(
        f"WITH {_fps_ctes('spark', '__fps_docs')} SELECT * FROM fps"
    )


def _chunk_defs(dialect: str, with_payload: bool) -> str:
    """The pigeonhole chunk table over ``fps``: (j, c) 15-bit slices, with
    (doc_id, fp) carried when the consumer pairs inside buckets."""
    w = SIMHASH_BITS // SIMHASH_CHUNKS
    shr, _ = _shift_sql(dialect)
    if dialect == "spark":
        structs = ", ".join(
            f"struct({j} AS j, {shr('fp', w * j)} & {(1 << w) - 1} AS c)"
            for j in range(SIMHASH_CHUNKS)
        )
        cols = "doc_id, fp, " if with_payload else ""
        return (
            f"SELECT {cols}ck.j AS j, ck.c AS c FROM "
            f"(SELECT {cols}explode(array({structs})) AS ck FROM fps)"
        )
    cols = "doc_id, fp, " if with_payload else ""
    return "\n  UNION ALL\n  ".join(
        f"SELECT {cols}{j} AS j, {shr('fp', w * j)} & {(1 << w) - 1} AS c FROM fps"
        for j in range(SIMHASH_CHUNKS)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming(fp_a, fp_b) ≤ 3.

    Candidates via 15-bit chunk equality (pigeonhole blocking — no O(n²)),
    generated BUCKET-LOCALLY like dedup_minhash: one groupBy on
    (chunk-index, chunk-bits), (doc, fp) pairs enumerated inside each
    size-capped bucket, exact Hamming check with bit_count(xor) on the
    pair.  One exchange instead of a two-sided self-join.  Portable md5
    hashing ⇒ full DuckDB oracle; pytest compares against Jaccard ground
    truth.  Two-statement execution form (fingerprints → checkpoint →
    pairs), same rationale as dedup_minhash.  Batch analytics: the full
    pipeline — fingerprints included — runs per invocation (r11 verdict);
    the memoized sh_fps_table still serves the blocking-stats consumer,
    and the recall-contract consumer shares through dedup_contract._pairs."""
    _docs(spark, sf_dir).createOrReplaceTempView("__sh_docs")
    hint = (
        f"/*+ REPARTITION({spark.sparkContext.defaultParallelism},"
        " doc_id) */"
    )
    spark.sql(
        f"WITH {_fps_ctes('spark', '__sh_docs', hint)} SELECT * FROM fps"
    ).localCheckpoint(eager=False).createOrReplaceTempView("__sh_fps")
    return spark.sql(
        f"""
WITH fps AS (SELECT * FROM __sh_fps),
chunks AS ({_chunk_defs('spark', with_payload=True)}),
ok AS (SELECT j, c FROM chunks GROUP BY 1, 2
       HAVING {_ok_bucket_sql()}),
buckets AS (SELECT collect_list(struct(doc_id, fp)) AS ms
            FROM chunks LEFT SEMI JOIN ok
              ON chunks.j = ok.j AND chunks.c = ok.c
            GROUP BY chunks.j, chunks.c)
SELECT DISTINCT p.da AS da, p.db AS db, p.hamming AS hamming FROM (
  SELECT explode(filter(flatten(transform(ms, x -> transform(ms,
         y -> struct(x.doc_id AS da, y.doc_id AS db,
                     CAST(bit_count(x.fp ^ y.fp) AS INT) AS hamming)))),
         s -> s.da < s.db)) AS p
  FROM buckets)
WHERE p.hamming <= {SIMHASH_MAX_HAMMING}
"""
    ).orderBy("da", "db")


def minhash_pairs_ctes(k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> str:
    """The DuckDB MinHash+LSH pair pipeline as a CTE chain ending in
    ``mh_pairs`` (da, db, est_jac) — no top-level SELECT, so larger
    statements (the cluster-components recursive closure, the two-lane
    histogram) can splice it into their own WITH list.  The chain's CTE
    names are unique against DUP_CLUSTERS_CTES by construction."""
    agree = _agree_sql(k)
    return f"""{_sig_ctes('duck', k=k)},
bands AS (
  {_band_defs('duck', k, bands)}),
ok AS (SELECT band, band_hash FROM bands GROUP BY 1, 2
       HAVING {_ok_bucket_sql()}),
cand AS (SELECT a.doc_id AS da, b.doc_id AS db
         FROM bands a JOIN ok USING (band, band_hash) JOIN bands b
           ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
mh_pairs AS (
  SELECT da, db, round(({agree}) / {k}.0, 6) AS est_jac
  FROM cand JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
  WHERE ({agree}) / {k}.0 >= {JACCARD_THRESHOLD})"""


def _minhash_oracle(k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> str:
    """DuckDB rendering of the exact same MinHash+LSH computation (md5
    double hashing makes every hash value engine-independent), built from
    the shared dialect renderers."""
    return f"""
WITH {minhash_pairs_ctes(k, bands)}
SELECT da, db, est_jac FROM mh_pairs
ORDER BY da, db
"""


def incremental_clusters_oracle() -> str:
    """DuckDB oracle for incremental dup-cluster maintenance
    (corpus.dedup_clusters_incremental): ONE signature/band chain over the
    full corpus, from which both pair sets derive — the old-state graph
    (banding + caps restricted to existing-corpus rows, i.e. the graph as
    the index build saw it) and the new-involving pairs (combined banding,
    at least one endpoint in the incoming batch).  Old clusters enter the
    merged closure as star edges (doc → old label), which preserves old
    connectivity exactly, so the double recursive closure states the
    contract: merged labels = components of (state-as-of-index-time graph
    ∪ new edges)."""
    agree = _agree_sql()
    k, m = MINHASH_K, NEW_BATCH_MOD
    # MATERIALIZED on the chain's reused frames is load-bearing: the
    # recursive closures reference their edge CTEs once per iteration, and
    # an inlined edge CTE re-runs the whole tokenize/sign/band pipeline
    # every round (measured 358 s vs ~1 s at sf0.001)
    sig_ctes = _sig_ctes("duck").replace(
        "sig AS (SELECT", "sig AS MATERIALIZED (SELECT"
    )
    return f"""
WITH RECURSIVE {sig_ctes},
bands AS MATERIALIZED (
  {_band_defs('duck')}),
bands_old AS (SELECT * FROM bands WHERE doc_id % {m} <> 0),
ok_old AS (SELECT band, band_hash FROM bands_old GROUP BY 1, 2
           HAVING {_ok_bucket_sql()}),
cand_old AS (SELECT a.doc_id AS da, b.doc_id AS db
             FROM bands_old a JOIN ok_old USING (band, band_hash)
             JOIN bands_old b
               ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
pairs_old AS (SELECT da, db FROM cand_old
              JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
              WHERE ({agree}) / {k}.0 >= {JACCARD_THRESHOLD}),
edges_old AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs_old
              UNION SELECT db, da FROM pairs_old),
reach_old AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges_old) n
  UNION
  SELECT r.a, e.b FROM reach_old r JOIN edges_old e ON r.b = e.a
),
labels_old AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
               FROM reach_old GROUP BY a),
ok_all AS (SELECT band, band_hash FROM bands GROUP BY 1, 2
           HAVING {_ok_bucket_sql()}),
cand_all AS (SELECT a.doc_id AS da, b.doc_id AS db
             FROM bands a JOIN ok_all USING (band, band_hash)
             JOIN bands b
               ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
pairs_new AS (SELECT da, db FROM cand_all
              JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
              WHERE ({agree}) / {k}.0 >= {JACCARD_THRESHOLD}
                AND (da % {m} = 0 OR db % {m} = 0)),
star AS (SELECT doc_id AS da, cluster_id AS db FROM labels_old
         WHERE doc_id <> cluster_id),
edges2 AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs_new
           UNION SELECT db, da FROM pairs_new
           UNION SELECT da, db FROM star
           UNION SELECT db, da FROM star),
reach2 AS (
  SELECT a, a AS b FROM (SELECT DISTINCT a FROM edges2) n
  UNION
  SELECT r.a, e.b FROM reach2 r JOIN edges2 e ON r.b = e.a
),
labels2 AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS cluster_id
            FROM reach2 GROUP BY a),
sizes2 AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           FROM labels2 GROUP BY cluster_id)
SELECT doc_id, cluster_id, cluster_size
FROM labels2 JOIN sizes2 USING (cluster_id)
ORDER BY doc_id
"""


def _simhash_oracle() -> str:
    """DuckDB rendering of the 60-bit SimHash pipeline, built from the
    shared dialect renderers."""
    return f"""
WITH {_fps_ctes('duck')},
chunks AS (
  {_chunk_defs('duck', with_payload=True)}),
ok AS (SELECT j, c FROM chunks GROUP BY 1, 2
       HAVING {_ok_bucket_sql()})
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM chunks a JOIN ok USING (j, c) JOIN chunks b
  ON a.j = b.j AND a.c = b.c AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_MAX_HAMMING}
GROUP BY 1, 2, 3
ORDER BY da, db
"""


# -- incremental dedup (new batch vs existing corpus) -------------------------

# The driver corpus has no ingest-batch column, so the "incoming batch" is a
# deterministic slice: every 7th doc.  At deployment the predicate is the
# batch/partition id of the incoming crawl.
NEW_BATCH_MOD = 7


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag incoming-batch documents that duplicate the EXISTING corpus —
    the shape every crawl-ingestion pipeline runs per batch (dedup the new
    slice against what's already kept, never all-pairs over everything).

    Output: (doc_id, kind, match_id, score) for new docs with ``exact``
    content-fingerprint matches (score 1.0) or, failing that, ``near``
    MinHash matches (score = signature-estimated Jaccard ≥ threshold,
    match_id = lowest-id corpus match).  Fully oracle-checked — same
    portable md5 machinery as dedup_exact / dedup_minhash.

    Scale shape: the exact arm is one equality join on a 16-byte hash with
    the small NEW side driving; the near arm reuses the banded signatures
    (one groupBy) and joins new-band → corpus-band on the band key — work
    is O(|new| · bucket-occupancy), independent of corpus-pair count, with
    the same MAX_BAND_BUCKET skew cap as the batch dedup (count pre-pass,
    both engines)."""
    # signatures from the memoized table (mh_sig_table) — the banding
    # pass and the two estimate-joins reuse the one materialized copy
    mh_sig_table(spark, sf_dir).createOrReplaceTempView("__inc_sig")
    # the exact-arm fingerprints too: fps appears as BOTH sides of the
    # exact self-join and again under near's NOT IN — un-checkpointed,
    # the tokenize+md5 pass inlined EIGHT documents scans into the plan
    # (r10 repeated-scan lint); memoized (exact_fps_table) since r11 so
    # the per-run cost is the probe, not a fresh corpus tokenize+md5
    exact_fps_table(spark, sf_dir).createOrReplaceTempView("__inc_fps")
    return spark.sql(_incremental_pairs_sql("spark"))


def mh_signatures(spark: SparkSession, view: str) -> DataFrame:
    """(doc_id, h0..h{k-1}) MinHash signatures for the documents behind
    ``view`` — the one Spark rendering of the signature chain, shared by
    the batch/incremental/indexed dedup lanes and the incremental
    cluster-maintenance lane (corpus.py)."""
    hint = f"/*+ REPARTITION({spark.sparkContext.defaultParallelism}, doc_id) */"
    return spark.sql(
        f"WITH {_sig_ctes('spark', view, hint)} SELECT * FROM sig"
    )


def mh_sig_index_identity(sf_dir: str) -> tuple[str, str]:
    """(documents path, persist.py content key) of the MinHash signature
    index artifact over the EXISTING-corpus slice — one spelling, so the
    incremental probe and the incremental cluster-maintenance lanes share
    the artifact on disk."""
    import os

    from . import persist

    docs_path = os.path.join(sf_dir, "documents.parquet")
    key = persist.content_key(
        [docs_path],
        f"mh-sig-index|k{MINHASH_K}|b{MINHASH_BANDS}|mod{NEW_BATCH_MOD}"
        f"|p{_MINHASH_P}|{MINHASH_COEFFS[:MINHASH_K]!r}",
    )
    return docs_path, key


def build_mh_sig_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builder for the persisted signature index: (doc_id, h0..h{k-1}, fp)
    over the existing-corpus slice (doc_id % NEW_BATCH_MOD != 0)."""
    _docs(spark, sf_dir).where(
        F.col("doc_id") % NEW_BATCH_MOD != 0
    ).createOrReplaceTempView("__mhidx_docs")
    sig = mh_signatures(spark, "__mhidx_docs")
    fps = spark.sql(_fps_sql("__mhidx_docs"))
    return sig.join(fps, "doc_id")


def pairs_from_sig_view(
    spark: SparkSession, sig_view: str, pred: str = "TRUE"
) -> DataFrame:
    """Banded, capped-bucket MinHash candidate pairs (da, db) read from an
    already-materialized signature view — the probe primitive of the
    incremental cluster-maintenance lane: banding is one explode over the
    signature table (never a re-tokenize), candidates come from
    bucket-local pair generation under the same MAX_BAND_BUCKET cap as the
    batch lane, and the agree-threshold estimate joins the same view.
    ``pred`` filters the emitted pairs (e.g. ``da % 7 = 0 OR db % 7 = 0``
    keeps only edges touching the incoming batch)."""
    agree = _agree_sql()
    return spark.sql(
        f"""
WITH sig AS (SELECT * FROM {sig_view}),
bands AS ({_band_defs('spark')}),
ok AS (SELECT band, band_hash FROM bands GROUP BY 1, 2
       HAVING {_ok_bucket_sql()}),
buckets AS (SELECT collect_list(doc_id) AS ids
            FROM bands LEFT SEMI JOIN ok
              ON bands.band = ok.band AND bands.band_hash = ok.band_hash
            GROUP BY bands.band, bands.band_hash),
cand AS (SELECT DISTINCT p.da AS da, p.db AS db FROM (
  SELECT explode(filter(flatten(transform(ids, x -> transform(ids,
         y -> struct(x AS da, y AS db)))), s -> s.da < s.db)) AS p
  FROM buckets))
SELECT da, db
FROM cand JOIN sig sa ON da = sa.doc_id JOIN sig sb ON db = sb.doc_id
WHERE ({agree}) / CAST({MINHASH_K} AS DOUBLE) >= {JACCARD_THRESHOLD}
  AND ({pred})
"""
    )


# (bands over the k=64 signature) swept by the tuning report; rows/band
# = k/bands.  8×8 = high-precision/low-recall end, 32×2 = the opposite.
LSH_TUNING_BANDS = [8, 16, 32]


def dedup_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH operating-point TUNING artifact: for each (bands,
    rows/band) layout of the same k=64 signature table, the measured
    candidate volume, kept-at-threshold pairs, and recall/precision vs
    the exact n-gram-Jaccard truth — next to the s-curve theory value
    P[candidate | jac=τ] = 1−(1−τ^r)^b.  This is the table an engineer
    reads to pick MINHASH_BANDS before a 100 TB run: candidate volume is
    the cost axis (it scales the bucket-join output), recall the quality
    axis, and the theory column shows where measurement and model
    diverge (they agree when shingle overlap drives the signatures).

    Plan: signatures computed ONCE (checkpointed view), and — since r11's
    optimization pass — all three layouts band in ONE pass: a
    layout-tagged explode (8+16+32 (layout, band, band_hash) rows per
    doc) feeds one capped-bucket chain keyed on (layout, band,
    band_hash); est_jac is layout-INDEPENDENT (signature agreement / k),
    so each unordered candidate pair is scored once against the sig view
    and the per-layout candidate sets join the scored table; the exact
    truth is the memoized pair table (dedup_contract._pairs), entering
    as one LEFT join + one scalar count — the old per-arm FULL join only
    ever contributed count(e) = |exact| (both pair sets are distinct),
    so n_exact is that scalar.  3×(band explode + bucket chain + two
    sig-joins + full join + agg) collapses to 1× of each."""
    from .dedup_contract import _pairs

    mh_sig_table(spark, sf_dir).createOrReplaceTempView("__tune_sig")
    _pairs(spark, sf_dir, "jaccard_exact").select(
        F.col("a").alias("da"), F.col("b").alias("db")
    ).createOrReplaceTempView("__tune_ex")

    d = _mh_dialect("spark")
    structs = []
    layout_rows = []
    for b in LSH_TUNING_BANDS:
        r = MINHASH_K // b
        theory = round(1 - (1 - JACCARD_THRESHOLD**r) ** b, 6)
        layout_rows.append(f"({b}, {r}, CAST({theory!r} AS DOUBLE))")
        for band in range(b):
            cols = ", ".join(
                f"CAST(h{band * r + j} AS {d['strtype']})" for j in range(r)
            )
            structs.append(
                f"struct({b} AS layout, {band} AS band, "
                f"substr(md5(concat_ws('|', {cols})), 1, 16) AS band_hash)"
            )
    agree = _agree_sql()
    return spark.sql(
        f"""
WITH sig AS (SELECT * FROM __tune_sig),
bands AS (SELECT doc_id, bk.layout AS layout, bk.band AS band,
                 bk.band_hash AS band_hash
          FROM (SELECT doc_id, explode(array({', '.join(structs)})) AS bk
                FROM sig)),
ok AS (SELECT layout, band, band_hash FROM bands GROUP BY 1, 2, 3
       HAVING {_ok_bucket_sql()}),
buckets AS (SELECT bands.layout AS layout, collect_list(doc_id) AS ids
            FROM bands LEFT SEMI JOIN ok
              ON bands.layout = ok.layout AND bands.band = ok.band
             AND bands.band_hash = ok.band_hash
            GROUP BY bands.layout, bands.band, bands.band_hash),
cand AS (SELECT DISTINCT layout, p.da AS da, p.db AS db FROM (
  SELECT layout, explode(filter(flatten(transform(ids, x -> transform(ids,
         y -> struct(x AS da, y AS db)))), s -> s.da < s.db)) AS p
  FROM buckets)),
uniq AS (SELECT DISTINCT da, db FROM cand),
scored AS (SELECT da, db, ({agree}) / CAST({MINHASH_K} AS DOUBLE) AS est_jac
           FROM uniq JOIN sig sa ON da = sa.doc_id
                     JOIN sig sb ON db = sb.doc_id),
ex AS (SELECT da, db, 1 AS e FROM __tune_ex),
cs AS (SELECT c.layout, s.est_jac, x.e
       FROM cand c JOIN scored s ON c.da = s.da AND c.db = s.db
       LEFT JOIN ex x ON c.da = x.da AND c.db = x.db),
m AS (SELECT layout,
             count(est_jac) AS n_candidates,
             sum(CASE WHEN est_jac >= {JACCARD_THRESHOLD} THEN 1 ELSE 0
                 END) AS n_kept,
             sum(CASE WHEN est_jac >= {JACCARD_THRESHOLD} AND e IS NOT NULL
                      THEN 1 ELSE 0 END) AS n_hit
      FROM cs GROUP BY layout),
nex AS (SELECT count(*) AS n_exact FROM ex),
layouts AS (SELECT * FROM VALUES {', '.join(layout_rows)}
            AS t(bands, rows_per_band, p_collide_at_tau))
SELECT CAST(l.bands AS INT) AS bands,
       CAST(l.rows_per_band AS INT) AS rows_per_band,
       l.p_collide_at_tau AS p_collide_at_tau,
       CAST(coalesce(m.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(m.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(nex.n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(m.n_hit, 0) AS BIGINT) AS n_hit,
       CASE WHEN nex.n_exact > 0
            THEN round(CAST(coalesce(m.n_hit, 0) AS DOUBLE) / nex.n_exact,
                       6) END AS recall,
       CASE WHEN coalesce(m.n_kept, 0) > 0
            THEN round(CAST(m.n_hit AS DOUBLE) / m.n_kept, 6)
            END AS precision
FROM layouts l CROSS JOIN nex LEFT JOIN m ON m.layout = l.bands
ORDER BY bands
"""
    )


def _lsh_tuning_oracle() -> str:
    agree = _agree_sql()
    arms = []
    for b in LSH_TUNING_BANDS:
        r = MINHASH_K // b
        theory = round(1 - (1 - JACCARD_THRESHOLD**r) ** b, 6)
        arms.append(
            f"""
SELECT *,
       CASE WHEN n_exact > 0
            THEN round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall,
       CASE WHEN n_kept > 0
            THEN round(CAST(n_hit AS DOUBLE) / n_kept, 6) END AS precision
FROM (
  WITH {_sig_ctes('duck')},
  bands AS (
    {_band_defs('duck', MINHASH_K, b)}),
  ok AS (SELECT band, band_hash FROM bands GROUP BY 1, 2
         HAVING {_ok_bucket_sql()}),
  cand AS (SELECT a.doc_id AS da, b.doc_id AS db
           FROM bands a JOIN ok USING (band, band_hash)
           JOIN bands b
             ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
  scored AS (SELECT da, db, ({agree}) / {MINHASH_K}.0 AS est_jac
             FROM cand JOIN sig sa ON da = sa.doc_id
             JOIN sig sb ON db = sb.doc_id),
  ex AS (SELECT da AS a, db AS b, 1 AS e
         FROM ({JACCARD_PAIRS_BODY}) x),
  fl AS (SELECT s.est_jac, e.e
         FROM scored s FULL JOIN ex e ON s.da = e.a AND s.db = e.b)
  SELECT CAST({b} AS INTEGER) AS bands,
         CAST({r} AS INTEGER) AS rows_per_band,
         CAST({theory} AS DOUBLE) AS p_collide_at_tau,
         CAST(count(est_jac) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN est_jac >= {JACCARD_THRESHOLD}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(count(e) AS BIGINT) AS n_exact,
         CAST(sum(CASE WHEN est_jac >= {JACCARD_THRESHOLD} AND e IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM fl
) arm_{b}"""
        )
    body = "\nUNION ALL\n".join(arms)
    return f"SELECT * FROM ({body}) u ORDER BY bands"


register("dedup_lsh_tuning_report", dedup_lsh_tuning_report, _lsh_tuning_oracle())


def dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` against a PERSISTED signature index — the
    shape a crawl pipeline actually runs daily: the EXISTING corpus'
    MinHash signatures + content fingerprints live in a parquet artifact
    (built once per corpus version, persist.py content key); each batch
    computes signatures for the NEW slice only (O(|new|)) and probes the
    loaded index.  The probe-side tables (loaded index ∪ new-slice rows)
    are memoized per (session, corpus content) — exactly the store
    ``dedup_incremental``'s own memoized ``mh_sig_table`` is on the
    full-recompute side, and the ann_pq precedent: index state loads
    ONCE per process, the per-run cost is the banding + capped-bucket
    probe + scoring joins.  The report SQL is byte-identical to
    dedup_incremental's (these unions back the same views), so this
    entry shares its oracle — 'indexed probe ≡ full recompute' is a
    hash-checked gate row, the dedup twin of ann_pq_index_append;
    build-vs-reload parity additionally pinned by
    tests/test_persist.py."""
    from . import persist

    _docs_path, key = mh_sig_index_identity(sf_dir)
    idx = persist.build_or_load(
        spark, "mh_sig_index", key, lambda: build_mh_sig_index(spark, sf_dir)
    )
    sigcols = ["doc_id"] + [f"h{i}" for i in range(MINHASH_K)]

    def union_with_new(idx_part: DataFrame, want_fp: bool) -> DataFrame:
        # the unions are checkpointed WHOLE (not per leg): a checkpointed
        # leg inside the report's sa × sb self-join trips Union's
        # constraint rewrite ("key not found: doc_id#N"); one clean
        # LogicalRDD per view sidesteps it and is the probe-side table a
        # batch pipeline holds anyway
        _docs(spark, sf_dir).where(
            F.col("doc_id") % NEW_BATCH_MOD == 0
        ).createOrReplaceTempView("__incx_new")
        if want_fp:
            new = spark.sql(_fps_sql("__incx_new"))
        else:
            new = mh_signatures(spark, "__incx_new")
        return new.unionByName(idx_part)

    _derived(
        spark,
        sf_dir,
        "incx-sig-union",
        lambda: union_with_new(idx.select(*sigcols), want_fp=False),
    ).createOrReplaceTempView("__inc_sig")
    _derived(
        spark,
        sf_dir,
        "incx-fps-union",
        lambda: union_with_new(idx.select("doc_id", "fp"), want_fp=True),
    ).createOrReplaceTempView("__inc_fps")
    return spark.sql(_incremental_pairs_sql("spark"))


def _incremental_pairs_sql(dialect: str, k: int = MINHASH_K) -> str:
    """The two-arm incremental report in either dialect.  The Spark form
    reads the checkpointed ``__inc_sig`` and ``__inc_fps`` views (r10:
    BOTH derived frames are materialized, so the report plan never
    rescans the documents parquet); the DuckDB form inlines the CTEs
    (the oracle is one statement by contract)."""
    spark = dialect == "spark"
    agree = _agree_sql(k)
    fp_expr = (
        "md5(concat_ws(' ', t))" if spark else "md5(array_to_string(t, ' '))"
    )
    # Spark parses `64.0` as a DECIMAL literal (decimal division result);
    # the DataFrame original divided int by int which is DOUBLE division —
    # render an explicit double divisor there.  DuckDB's `/` already
    # yields DOUBLE; its oracle text keeps the proven `{k}.0` spelling.
    kdiv = f"CAST({k} AS DOUBLE)" if spark else f"{k}.0"
    if spark:
        prelude = """WITH fps AS (SELECT * FROM __inc_fps),
sig AS (SELECT * FROM __inc_sig),"""
    else:
        prelude = f"""WITH {_sig_ctes('duck', k=k)},
fps AS (SELECT doc_id, {fp_expr} AS fp FROM toks),"""
    return f"""{prelude}
exact AS (
  SELECT n.doc_id, 'exact' AS kind, CAST(MIN(c.doc_id) AS BIGINT) AS match_id,
         CAST(1.0 AS DOUBLE) AS score
  FROM fps n JOIN fps c ON n.fp = c.fp
  WHERE n.doc_id % {NEW_BATCH_MOD} = 0 AND c.doc_id % {NEW_BATCH_MOD} != 0
  GROUP BY n.doc_id),
bandt AS (
  {_band_defs(dialect, k)}),
ok AS (SELECT band, band_hash FROM bandt GROUP BY 1, 2
       HAVING {_ok_bucket_sql(require_pair=False)}),
capped AS (SELECT bandt.* FROM bandt JOIN ok USING (band, band_hash)),
cand AS (SELECT DISTINCT n.doc_id, c.doc_id AS cid
         FROM capped n JOIN capped c
           ON n.band = c.band AND n.band_hash = c.band_hash
         WHERE n.doc_id % {NEW_BATCH_MOD} = 0 AND c.doc_id % {NEW_BATCH_MOD} != 0),
scored AS (SELECT cand.doc_id, cid, round(({agree}) / {kdiv}, 6) AS est
           FROM cand JOIN sig sa ON cand.doc_id = sa.doc_id
           JOIN sig sb ON cid = sb.doc_id
           WHERE ({agree}) / {kdiv} >= {JACCARD_THRESHOLD}),
best AS (SELECT doc_id, MIN(cid) AS match_id FROM scored GROUP BY doc_id),
near AS (
  SELECT b.doc_id, 'near' AS kind, CAST(b.match_id AS BIGINT) AS match_id,
         s.est AS score
  FROM best b JOIN scored s ON b.doc_id = s.doc_id AND b.match_id = s.cid
  WHERE b.doc_id NOT IN (SELECT doc_id FROM exact))
SELECT * FROM exact UNION ALL SELECT * FROM near ORDER BY doc_id
"""


def _incremental_oracle() -> str:
    return _incremental_pairs_sql("duck")


# -- blocking-cap observability ------------------------------------------------
#
# One row per blocking arm quantifying what its cap COSTS on this input: of
# the pairable buckets (>1 member), how many exceed the cap and how many
# candidate pairs (n·(n−1)/2 each) those dropped buckets would have
# contributed.  The caps (MAX_SHINGLE_DF, MAX_BAND_BUCKET) silently bound
# recall — a 100 TB run must REPORT the truncation, not hide it.
#
# Both engines run the SAME statement rendered by ``_blocking_stats_sql``
# with per-dialect spellings (tokenizer, unnest/explode, hex→int64 parse,
# shifts, int division).  The Spark side is ONE spark.sql() call on
# purpose: the previous DataFrame-composed formulation spent ~3.6 s per
# invocation in eager per-operation Catalyst re-analysis of the growing
# subtree (measured at sf0.1: build 3.6-4.2 s, optimize+codegen 1.6 s,
# EXECUTION 0.24 s; sharing the tokenized frame behind a localCheckpoint
# barrier recovered only ~3%, confirming the cost was plan-construction,
# not recompute).  A single SQL statement is analyzed once, cutting the
# audit's wall clock ~3× with an identical result and an unchanged oracle.


def blocking_cap_stats(df: DataFrame, keys: list[str], cap: int, arm: str) -> DataFrame:
    """Generic one-row truncation audit for ANY blocked frame: of the
    pairable buckets (>1 member) keyed by ``keys``, how many exceed
    ``cap`` and how many candidate pairs (n·(n−1)/2 each) those dropped
    buckets would have contributed.  ``dedup_blocking_stats`` inlines the
    same arithmetic in its one-statement SQL form; this helper is the
    composable building block for auditing other blocking schemes (and is
    pinned by the crafted-input test in test_dedup.py)."""
    per_bucket = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    return per_bucket.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("db"),
        F.sum(
            F.when(F.col("n") > cap, F.expr("n * (n - 1) DIV 2")).otherwise(0)
        ).alias("dp"),
    ).select(
        F.lit(arm).alias("arm"),
        F.col("b").cast("bigint").alias("buckets"),
        F.coalesce(F.col("db"), F.lit(0)).cast("bigint").alias("dropped_buckets"),
        F.coalesce(F.col("dp"), F.lit(0)).cast("bigint").alias("dropped_pairs"),
    )


def _blocking_stats_sql(
    dialect: str,
    table: str = "documents",
    repartition_hint: str = "",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    pretokenized: bool = False,
    sig_view: str | None = None,
    fps_view: str | None = None,
) -> str:
    """The three-arm truncation report in either engine's dialect — one
    semantic definition, two spellings (the sqlgen pattern).  The md5
    machinery makes every bucket key engine-independent.

    ``pretokenized``: the Spark caller materializes the (doc_id, t) token
    frame behind a localCheckpoint and passes its view name as ``table`` —
    Spark inlines the ``toks`` CTE at every reference, so the flat form
    re-scanned + re-tokenized the corpus once for the shingle arms and
    once for the simhash token arm (r10 verdict watch item #1: checkpoint
    the shared token frame, the funnel rule)."""
    spark = dialect == "spark"
    tokens = SPARK_TOKENS if spark else DUCK_TOKENS
    h32 = (
        "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"
        if spark
        else "('0x' || substr(md5(s), 1, 8))::BIGINT"
    )
    h60 = (
        "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)"
        if spark
        else "('0x' || substr(md5(w), 1, 15))::BIGINT"
    )
    # SPARK_/DUCK_SHINGLES are array_distinct within the row, so the
    # exploded (doc_id, s) stream is already duplicate-free — no cross-doc
    # DISTINCT shuffle needed before either consumer.
    sh0 = (
        f"SELECT doc_id, explode({SPARK_SHINGLES}) AS s FROM toks"
        if spark
        else f"SELECT doc_id, unnest({DUCK_SHINGLES}) AS s FROM toks"
    )
    tok_un = (
        "SELECT doc_id, explode(t) AS w FROM toks"
        if spark
        else "SELECT doc_id, unnest(t) AS w FROM toks"
    )

    def shr(x: str, i: int) -> str:
        return f"shiftright({x}, {i})" if spark else f"({x} >> {i})"

    def shl1(i: int) -> str:
        return (
            f"shiftleft(CAST(1 AS BIGINT), {i})"
            if spark
            else f"(CAST(1 AS BIGINT) << {i})"
        )

    idiv = "DIV" if spark else "//"
    strtype = "STRING" if spark else "VARCHAR"
    r = k // bands
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {_MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
    )

    def band_hash(b: int) -> str:
        cols = ", ".join(f"CAST(h{b * r + j} AS {strtype})" for j in range(r))
        return f"substr(md5(concat_ws('|', {cols})), 1, 16)"

    if spark:
        # Spark inlines a CTE at every reference, so the UNION-ALL-over-sig
        # form would recompute the 64-min signature aggregation once per
        # band (measured: 6.4-8.2 s vs 1.7 s for this whole query).  One
        # explode over a struct array reads sig exactly once.
        band_structs = ", ".join(
            f"struct({b} AS band, {band_hash(b)} AS band_hash)"
            for b in range(bands)
        )
        band_arms = (
            "SELECT doc_id, bk.band AS band, bk.band_hash AS band_hash FROM "
            f"(SELECT doc_id, explode(array({band_structs})) AS bk FROM sig)"
        )
    else:
        band_arms = "\n  UNION ALL\n  ".join(
            f"SELECT doc_id, {b} AS band, {band_hash(b)} AS band_hash FROM sig"
            for b in range(bands)
        )
    w = SIMHASH_BITS // SIMHASH_CHUNKS
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({shr('h', i)} & 1) = 1 THEN cnt ELSE -cnt END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {shl1(i)} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    if spark:
        chunk_structs = ", ".join(
            f"struct({j} AS j, {shr('fp', w * j)} & {(1 << w) - 1} AS c)"
            for j in range(SIMHASH_CHUNKS)
        )
        chunk_arms = (
            "SELECT ck.j AS j, ck.c AS c FROM "
            f"(SELECT explode(array({chunk_structs})) AS ck FROM fpst)"
        )
    else:
        chunk_arms = "\n  UNION ALL\n  ".join(
            f"SELECT {j} AS j, {shr('fp', w * j)} & {(1 << w) - 1} AS c FROM fpst"
            for j in range(SIMHASH_CHUNKS)
        )

    def stat(src: str, cap: int, arm: str) -> str:
        return f"""
  SELECT '{arm}' AS arm,
         CAST(count(*) AS BIGINT) AS buckets,
         CAST(coalesce(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS dropped_buckets,
         CAST(coalesce(sum(CASE WHEN n > {cap} THEN (n * (n - 1)) {idiv} 2 ELSE 0 END), 0)
             AS BIGINT) AS dropped_pairs
  FROM {src}"""

    toks_body = (
        f"SELECT doc_id, t FROM {table}"
        if pretokenized
        else f"SELECT {repartition_hint} doc_id, {tokens} AS t FROM {table}"
    )
    # the sig and fpst streams can come from already-materialized views
    # (Spark: the memoized mh_sig_table / sh_fps_table — same machinery,
    # one build per corpus version, shared with the dedup entries) instead
    # of being re-derived per invocation; the DuckDB oracle keeps the full
    # inline derivation, which is the cross-engine pin that the memoized
    # tables ARE that derivation
    sig_ctes = (
        f"sig AS (SELECT * FROM {sig_view})"
        if sig_view
        else f"""hashed AS (SELECT doc_id, {h32} AS h FROM sh0),
sig AS (SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id)"""
    )
    fps_ctes = (
        f"fpst AS (SELECT * FROM {fps_view})"
        if fps_view
        else f"""tok AS (SELECT doc_id, w, count(*) AS cnt
        FROM ({tok_un}) GROUP BY 1, 2),
thashed AS (SELECT doc_id, cnt, {h60} AS h FROM tok),
votes AS (SELECT doc_id, {votes}
          FROM thashed GROUP BY doc_id),
fpst AS (SELECT doc_id, {packed} AS fp FROM votes)"""
    )
    return f"""
WITH toks AS ({toks_body}),
sh0 AS ({sh0}),
shbuckets AS (SELECT count(*) AS n FROM sh0 GROUP BY s HAVING count(*) > 1),
{sig_ctes},
bandt AS (
  {band_arms}),
bbuckets AS (SELECT count(*) AS n FROM bandt GROUP BY band, band_hash
             HAVING count(*) > 1),
{fps_ctes},
chunkt AS (
  {chunk_arms}),
cbuckets AS (SELECT count(*) AS n FROM chunkt GROUP BY j, c HAVING count(*) > 1)
SELECT * FROM ({stat('bbuckets', MAX_BAND_BUCKET, 'minhash_band')}
UNION ALL {stat('shbuckets', MAX_SHINGLE_DF, 'ngram_shingle_df')}
UNION ALL {stat('cbuckets', MAX_BAND_BUCKET, 'simhash_chunk')})
ORDER BY arm
"""


def dedup_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm truncation report for every dedup blocking cap: the n-gram
    join's MAX_SHINGLE_DF cutoff and the MinHash-band / SimHash-chunk
    MAX_BAND_BUCKET skew caps.  Columns: pairable buckets, buckets dropped
    by the cap, candidate pairs those drops cost.  At the test SFs every
    dropped count is 0 (the caps sit far above real bucket sizes — that's
    the point of the row: it PROVES the caps were free here); at crawl
    scale the same query is the recall-loss audit for dedup_minhash /
    dedup_simhash / dedup_ngram_jaccard / dedup_incremental."""
    # the signature and simhash-fingerprint streams come from the memoized
    # tables the dedup entries already share (one build per corpus
    # version); only the shingle-DF arm still tokenizes, once, behind a
    # checkpoint (the flat CTE form re-tokenized per consumer — Spark
    # inlines CTEs)
    mh_sig_table(spark, sf_dir).createOrReplaceTempView("__blk_sig")
    sh_fps_table(spark, sf_dir).createOrReplaceTempView("__blk_fps")
    toks = (
        _docs(spark, sf_dir)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(SPARK_TOKENS).alias("t"))
        .localCheckpoint(eager=False)
    )
    toks.createOrReplaceTempView("__blocking_toks")
    return spark.sql(
        _blocking_stats_sql(
            "spark",
            table="__blocking_toks",
            pretokenized=True,
            sig_view="__blk_sig",
            fps_view="__blk_fps",
        )
    )


DEDUP_MINHASH_ORACLE = _minhash_oracle()
DEDUP_SIMHASH_ORACLE = _simhash_oracle()

register("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE)
register("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_JACCARD_ORACLE)
register("dedup_minhash", dedup_minhash, DEDUP_MINHASH_ORACLE)
register("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE)
register("dedup_blocking_stats", dedup_blocking_stats, _blocking_stats_sql("duck"))
register("dedup_incremental", dedup_incremental, _incremental_oracle())
# indexed probe ≡ full recompute: the persisted-signature-index lane must
# produce the identical report (same oracle)
register("dedup_incremental_indexed", dedup_incremental_indexed, _incremental_oracle())


# -- duplicated-span detection (exact-substring dedup, window-hash form) ------

# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") remove exact substrings >= 50 tokens shared across documents,
# found with a monolithic suffix array.  The distributed re-expression:
# hash every SPAN_TOKENS-token sliding window, count DISTINCT documents
# per window hash with one aggregation, and flag windows whose hash
# occurs in >= 2 documents.  Every maximal shared substring of length
# >= SPAN_TOKENS is covered by at least one shared window, so per-doc
# window coverage is the same removal signal the suffix array yields —
# with NO pairwise join anywhere: the heavy ops are two linear shuffles
# (hash-count groupBy + postings-to-dupset join on the hash key), so a
# boilerplate span shared by 10^6 docs costs 10^6 postings rows, never
# 10^12 pairs.  SPAN_TOKENS=8 fits the ~100-token synthetic docs; at
# deployment the paper's 50 is the knob, same plan.
SPAN_TOKENS = 8

_SPARK_SPAN_HASHES = (
    f"CASE WHEN size(t) >= {SPAN_TOKENS} THEN "
    f"transform(sequence(1, size(t) - {SPAN_TOKENS} + 1), "
    f"i -> md5(concat_ws(' ', slice(t, i, {SPAN_TOKENS})))) "
    f"ELSE array() END"
)

_DUCK_SPAN_HASHES = (
    f"[md5(array_to_string(t[i : i + {SPAN_TOKENS} - 1], ' ')) "
    f"for i in range(1, len(t) - {SPAN_TOKENS} + 2)]"
)


def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: sliding-window count, how many windows are shared
    verbatim with ANOTHER document, and the duplicated-span fraction —
    the per-doc removal signal of exact-substring dedup (see the
    SPAN_TOKENS comment for the distributed design).  Only documents
    long enough to have at least one window appear."""
    docs = _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wins = (
        _tokens(docs)
        .select("doc_id", F.explode(F.expr(_SPARK_SPAN_HASHES)).alias("h"))
        .localCheckpoint(eager=False)  # feeds the df count AND the flag join
    )
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    flagged = wins.join(dup_hashes.withColumn("dup", F.lit(1)), "h", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("dup"), F.lit(0)).cast("bigint")).alias(
                "n_dup_windows"
            ),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


DEDUP_SPANS_ORACLE = f"""
WITH toks AS (SELECT doc_id, {DUCK_TOKENS} AS t FROM documents),
wins AS (
  SELECT doc_id, unnest({_DUCK_SPAN_HASHES}) AS h FROM toks
),
duph AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
flagged AS (
  SELECT w.doc_id, CASE WHEN d.h IS NULL THEN 0 ELSE 1 END AS dup
  FROM wins w LEFT JOIN duph d ON w.h = d.h
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(dup) AS BIGINT) AS n_dup_windows,
       round(CAST(sum(dup) AS DOUBLE) / count(*), 6) AS dup_fraction
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


register("dedup_duplicate_spans", dedup_duplicate_spans, DEDUP_SPANS_ORACLE)
