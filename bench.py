"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Stdout contract (the driver tail-captures only the LAST line):
  line N-1: {"queries": {name: best_sec, ...}}      (full per-query detail)
  line N:   {"metric","value","unit","sf","n_queries","queries"}
            where "queries" here is TRUNCATED to the slowest few so the
            final line stays < 1 KiB and json.loads-able.  Full per-run
            spread additionally lands in BENCH_RUNS.json.

Per query: 2 timed runs, best-of taken (steady-state; the first run pays
one-time scan-planning costs).  ``value`` is the sum of per-query seconds.

r11 verdict ask #1: best-of-2 alone cannot distinguish computation from a
session-memo cache hit, so every record now ALSO carries, per entry,
``cold`` (run 1 — the first invocation in this process, which pays any
one-time index/memo build) and ``steady`` (min of runs 2+).  Which number
is the entry's contract is declared by INDEX_SERVE below: lanes whose
semantics serve from or maintain a persisted/once-per-corpus index
artifact are steady-contract (run 1 measures the artifact build the lane
exists to amortize); everything else is batch analytics, where cold is
the honest cost of the computation.  Each entry also records the memo
store's builds and hits during run 1 (``memo_run1``, from
``session_cache.stats``), so a cold number that was really a memo read
shows it.  ``queries``/``value`` keep the
historical best-of methodology unchanged for round-over-round
comparability; the cold/steady split rides alongside (``cold_total_sec``
/ ``steady_total_sec`` on the final line, full dicts in the detail line
and BENCH_RUNS.json).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_supplier_nation_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "q10_returned_top_customers",
    "q13_order_count_distribution",
    "q19_disjunctive_predicate_join",
    "asof_purchases_last_click",
    "range_band_join_quantity",
    "top3_orders_per_customer",
    "orders_running_total",
    "salted_returnflag_stats",
    "funnel_view_click_purchase",
    "events_day_type_pivot",
    "events_hourly_rollup",
    "sessionize_events",
    "cat_text_search",
    "cat_m1_full",
    "cat_facet_categories",
    "cat_count",
    "text_quality",
    "text_langid",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "corpus_training_filter",
    "docs_chunk_tokens",
    "docs_decontaminate",
    "ann_bruteforce_topk",
    "clicks_before_purchase_interval",
    "events_trailing_hour_stats",
    "events_value_deciles_eqdepth",
    "time_to_conversion",
    "lineitem_corr_profile",
    "docs_kwic",
    "training_corpus_e2e",
    "hybrid_search_rrf",
    "docs_pii_redact",
    "vocab_coverage",
    "events_rolling_wau",
    "weighted_sample_documents",
    # round 2 additions
    "bigram_lm_perplexity",
    "docs_boilerplate_ratio",
    "docs_tfidf_keywords",
    "q_grouping_sets_lineitem",
    "events_hopping_window",
    "ann_lsh_topk",
    "docs_pack_shards",
    "orders_quality_report",
    "embedding_cluster_quality",
    "nation_argmax_customer",
    "user_dow_bitmask",
    "corpus_heavy_hitters_cms",
    "latest_order_per_customer",
    "media_audio_windows",
    # round 3 additions
    "cat_stemmed_title",
    "corpus_top_stems",
    "dedup_simhash",
    "dedup_embedding_lsh",
    # round 4 additions
    "ann_ivf_topk",
    "ann_pq_topk",
    "cat_partitioned_only_public",
    "source_dup_rates",
    "cat_text_search_indexed",
    "dedup_incremental",
    "media_png_features",
    "source_language_profile",
    # round 5 additions
    "cat_stemmed_title_indexed",
    "bm25_search_topk",
    "hybrid_search_rrf_bm25",
    "media_decode_report",
    "docs_repetition_stats",
    "cap_docs_per_source",
    "source_token_budget_mix",
    "media_video_report",
    # round 6 additions
    "dedup_blocking_stats",
    "dedup_semantic",
    "dsir_select_topk",
    "dedup_duplicate_spans",
    "docs_winnowing_fingerprints",
    "quality_classifier_score",
    "embedding_int8_quant",
    "dedup_keep_best",
    "hard_negative_mining",
    "ann_int8_topk",
    "corpus_zipf_fit",
    "event_training_sequences",
    "events_changepoint",
    "cat_search_after",
    "rag_passage_topk",
    # round 7 additions
    "kmeans_train",
    "bpe_train_merges",
    "media_phash_dedup",
    "stream_ingest_indexed_search",
    "split_leakage_audit",
    "ann_ivf_trained_topk",
    "ann_pq_trained_topk",
    # round 8 additions (stream_ingest_rejects stays off the headline —
    # its measured path duplicates stream_ingest_indexed_search's seed +
    # micro-batch; the validation predicates it adds are trivial and it
    # remains gate-checked + driver-sampled)
    "catalog_cdc_diff",
    "dedup_embedding_incremental",
    "ann_filtered_topk",
    "source_temperature_mix",
    "docs_significant_terms",
    "dedup_cluster_histogram",
    "cat_significant_categories",
    "cat_more_like_this",
    "dedup_canonical_url",
    "url_dedup_savings",
    "crossmodal_pair_audit",
    "stream_url_frontier_dedup",
    "host_quality_profile",
    "web_corpus_funnel",
    # round 10 additions
    "dedup_cluster_components",
    "benchmark_contamination_report",
    "doremi_source_weights",
    "docs_quality_signals",
    "stream_contamination_gate",
    # round 11 additions
    "ann_recall_contract",
    "tokenizer_fertility",
    "ann_pq_reload_topk",
    "dedup_clusters_reload",
    "ann_pq_index_append",
    "split_assign_leakage_free",
    "dedup_incremental_indexed",
    "dedup_clusters_incremental",
    "knn_graph_lsh",
    "source_dedup_effect",
    "stream_ann_pq_serve",
    "dedup_recall_contract",
    "embedding_drift_report",
    "vocab_growth_heaps",
    "source_drift_report",
    "knn_density_outliers",
    "unimax_source_budgets",
    "ann_ivf_reload_topk",
    "media_phash_reload",
    "stream_cluster_maintenance",
    "dedup_lsh_tuning_report",
    "unimax_after_dedup",
]


# Entries whose DECLARED semantics serve from / maintain a persisted or
# once-per-corpus index artifact (persist.py store, text index, trained
# quantizer, coded corpus): their first invocation pays the artifact
# build that the lane exists to amortize, so STEADY (runs 2+) is the
# contract number.  Every other entry is batch analytics — COLD (run 1)
# is the honest per-computation cost.  The driver's PERF can compare
# like-for-like using this declaration (r11 verdict ask #1).
INDEX_SERVE = {
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_int8_topk",
    "ann_filtered_topk",
    "ann_ivf_trained_topk",
    "ann_pq_trained_topk",
    "ann_pq_reload_topk",
    "ann_ivf_reload_topk",
    "ann_pq_index_append",
    "ann_recall_contract",
    "cat_text_search_indexed",
    "cat_stemmed_title_indexed",
    "dedup_clusters_reload",
    "dedup_clusters_incremental",
    "dedup_incremental_indexed",
    "stream_ann_pq_serve",
    "stream_cluster_maintenance",
    "media_phash_reload",
}


# 1-min ambient loadavg at bench start above this ⇒ the number was taken
# on a busy box and needs a quiet re-run before it is read as a regression
# (three rounds of committed BENCH numbers needed out-of-band load context
# — r9 verdict ask #4 makes the record self-adjudicating).
LOAD_QUIET_MAX = 2.0

# Run-pair spread above this ⇒ a co-tenant burst most likely hit one of
# the runs (r10 verdict ask #1: a QUIET-verdicted round still contained a
# [5.1, 34.6] s pair).  Flagged entries get ONE extra run; the entry is
# then recorded as ``load_suspect`` only if the STEADY-STATE runs (all
# but the first) still disagree — run 1 legitimately pays one-time costs
# (scan planning, memoized index builds), so a cold-build→warm-hit pair
# is expected shape, not load: the first quiet-window bench under this
# protocol flagged five memoizing entries whose spread was exactly their
# design (kmeans_train, ann_pq_trained_topk, ...).
SUSPECT_SPREAD = 2.5
SUSPECT_MIN_SEC = 0.5  # sub-second jitter is scheduler noise, not a burst


def is_load_suspect(runs: list[float]) -> bool:
    """True when the spread across the given timed runs says a burst
    landed mid-entry: max/min > SUSPECT_SPREAD with the slow run big
    enough (>SUSPECT_MIN_SEC) that it can't be per-run scheduling noise.
    Callers decide WHICH runs to judge: the initial flag looks at both
    first runs (triggering the extra run), the recorded verdict looks at
    ``runs[1:]`` — steady state only."""
    if len(runs) < 2:
        return False
    lo, hi = min(runs), max(runs)
    return hi > SUSPECT_MIN_SEC and lo > 0 and hi / lo > SUSPECT_SPREAD


def load_evidence(before: float | None, after: float | None) -> dict:
    """The load fields embedded in every bench record.  The verdict keys
    on the PRE-run 1-min average: that is the ambient co-tenant load —
    the post-run value mostly measures bench's own local[32] work and is
    recorded for completeness only.  The verdict is computed from the
    ROUNDED value that is actually recorded, so a committed record can
    never show load_before == LOAD_QUIET_MAX with verdict QUIET
    (before=1.9996 used to round up into a self-contradictory row)."""
    before_r = None if before is None else round(before, 2)
    after_r = None if after is None else round(after, 2)
    verdict = None
    if before_r is not None:
        verdict = "QUIET" if before_r < LOAD_QUIET_MAX else "LOADED"
    return {
        "load_before": before_r,
        "load_after": after_r,
        "load_verdict": verdict,
    }


def split_cold_steady(
    spreads: dict[str, list[float]],
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-entry (cold, steady) from the raw run lists: cold = run 1 (the
    first invocation in this process), steady = min of runs 2+ (absent
    when an entry somehow ran only once)."""
    cold = {n: runs[0] for n, runs in spreads.items() if runs}
    steady = {
        n: min(runs[1:]) for n, runs in spreads.items() if len(runs) > 1
    }
    return cold, steady


def memo_delta(before: dict, after: dict) -> dict:
    """Builds and hits of the memo store between two
    ``session_cache.stats()`` snapshots: the totals plus the tags that
    moved."""
    tags = {}
    for tag, now in after.items():
        was = before.get(tag, {"builds": 0, "hits": 0})
        moved = {k: now[k] - was[k] for k in ("builds", "hits")}
        if any(moved.values()):
            tags[tag] = moved
    return {
        "builds": sum(t["builds"] for t in tags.values()),
        "hits": sum(t["hits"] for t in tags.values()),
        "tags": tags,
    }


def runs_record(
    spreads: dict[str, list[float]],
    loads: dict[str, list[float]],
    suspects: list[str],
    memo_run1: dict[str, dict],
    sf: float | None,
    load: dict,
) -> dict:
    """The BENCH_RUNS.json record: per entry its runs, loadavg samples,
    cold/steady split and run-1 memo builds/hits."""
    cold, steady = split_cold_steady(spreads)
    return {
        "runs": spreads,
        "loads": loads,
        "suspects": suspects,
        "cold": cold,
        "steady": steady,
        "memo_run1": memo_run1,
        "index_serve_lanes": sorted(INDEX_SERVE),
        "sf": sf,
        **load,
    }


def headline_line(
    timings: dict[str, float],
    sf: float | None,
    load: dict | None = None,
    suspects: list[str] | None = None,
    cold_total: float | None = None,
    steady_total: float | None = None,
) -> str:
    """Build the FINAL stdout line: compact (< 1 KiB) and json.loads-able.

    The driver's tail capture has a bounded window; embedding all ~78
    per-query timings (~2.6 kB) made rounds 4-5 unparseable.  The full dict
    is printed on its own PRECEDING line and saved to BENCH_RUNS.json; this
    line carries the headline plus only the slowest queries that fit.
    """
    base = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        # burst-tainted entries (run-pair spread > SUSPECT_SPREAD even
        # after a third run): the count rides the compact line; the names
        # + per-run loadavg samples live in BENCH_RUNS.json.
        "n_suspect": len(suspects or []),
    }
    # cold (run-1) vs steady (runs 2+) totals: two scalars so the split
    # survives the driver's bounded tail capture (full per-entry dicts
    # ride the detail line + BENCH_RUNS.json).
    if cold_total is not None:
        base["cold_total_sec"] = round(cold_total, 3)
    if steady_total is not None:
        base["steady_total_sec"] = round(steady_total, 3)
    base.update(load or load_evidence(None, None))
    # Add the slowest queries one at a time while the line stays < 1000 B.
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    picked: dict[str, float] = {}
    for name, sec in slowest:
        trial = dict(base)
        trial["queries"] = {**picked, name: sec}
        if len(json.dumps(trial)) >= 1000:
            break
        picked[name] = sec
    out = dict(base)
    out["queries"] = picked
    line = json.dumps(out)
    assert len(line) < 1024
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from data_catalog_spark.operators.session_cache import stats
    from data_catalog_spark.session import get_spark
    import __spark_entry__ as e

    load_before = os.getloadavg()[0]  # ambient: before Spark spins up
    spark = get_spark(app_name="bench")
    # Keep the one JSON line parseable: WARN chatter (e.g. WindowExec on
    # intentionally tiny single-partition frames) otherwise pollutes stdout.
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # JVM warmup

    qs = e.queries()
    names = [n for n in HEADLINE if n in qs]
    # Optional extended set via env (e.g. dedup/ann heavy hitters).
    extra = os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "")
    names += [n for n in extra.split(",") if n and n in qs and n not in names]

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    loads: dict[str, list[float]] = {}
    suspects: list[str] = []
    memo_run1: dict[str, dict] = {}
    for name in names:
        runs: list[float] = []
        lavg: list[float] = []

        def timed_run() -> None:
            lavg.append(round(os.getloadavg()[0], 2))
            t0 = time.time()
            qs[name](spark, sf_dir).collect()
            runs.append(round(time.time() - t0, 3))

        memo_before = stats()
        timed_run()
        memo_run1[name] = memo_delta(memo_before, stats())
        timed_run()
        if is_load_suspect(runs):
            # one retry: a burst that hit one of the first two runs gets a
            # third chance at a quiet window.  The recorded verdict then
            # judges STEADY STATE only (runs[1:]): run 1's one-time costs
            # (scan planning, memoized index builds) are expected spread,
            # a burst that also splits runs 2-3 is not (r10 verdict ask #1).
            timed_run()
            if is_load_suspect(runs[1:]):
                suspects.append(name)
        timings[name] = min(runs)
        spreads[name] = runs
        loads[name] = lavg

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    load = load_evidence(load_before, os.getloadavg()[0])
    record = runs_record(spreads, loads, suspects, memo_run1, sf, load)
    cold, steady = record["cold"], record["steady"]
    # Per-run spread + per-query ambient loadavg samples go to a sidecar
    # file (box variance stays separable from regression) so the LAST
    # stdout line stays compact enough for the driver's tail capture —
    # round 4's inline spread made it unparseable.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_RUNS.json"),
            "w",
        ) as fh:
            json.dump(record, fh)
    except OSError:
        pass
    # Full per-query detail on its own line (NOT last — driver tail-captures
    # only the final line, which must stay compact; see headline_line).
    print(
        json.dumps(
            {
                "queries": timings,
                "suspects": suspects,
                "cold": cold,
                "steady": steady,
            }
        )
    )
    print(
        headline_line(
            timings,
            sf,
            load,
            suspects,
            cold_total=sum(cold.values()),
            steady_total=sum(steady.values()),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
