"""bench.py stdout contract: the FINAL line must be compact and parseable.

The driver tail-captures a bounded window of stdout; rounds 4-5 shipped a
final line with all ~78 per-query timings (~2.6 kB) and the driver recorded
"parsed": null both times.  These tests pin the contract so it cannot
regress a third time.
"""

import json
import random

from bench import (
    HEADLINE,
    INDEX_SERVE,
    LOAD_QUIET_MAX,
    SUSPECT_SPREAD,
    headline_line,
    is_load_suspect,
    load_evidence,
    memo_delta,
    runs_record,
    split_cold_steady,
)


def _fake_timings(n: int) -> dict:
    rng = random.Random(42)
    return {
        f"some_rather_long_query_name_{i:03d}": round(rng.uniform(0.05, 9.0), 3)
        for i in range(n)
    }


def test_headline_line_is_compact_and_parseable():
    for n in (0, 1, 10, 78, 200, 500):
        line = headline_line(_fake_timings(n), sf=0.1)
        assert len(line) < 1024, (n, len(line))
        obj = json.loads(line)
        assert obj["metric"] == "headline_queries_total_sec"
        assert obj["unit"] == "sec"
        assert obj["sf"] == 0.1
        assert obj["n_queries"] == n
        assert isinstance(obj["value"], (int, float))


def test_headline_line_value_is_total_of_all_queries():
    timings = _fake_timings(78)
    obj = json.loads(headline_line(timings, sf=0.1))
    assert obj["value"] == round(sum(timings.values()), 3)
    # Truncated "queries" carries the slowest entries first.
    if obj["queries"]:
        shown = set(obj["queries"])
        slowest = max(timings, key=timings.get)
        assert slowest in shown
        for name, sec in obj["queries"].items():
            assert timings[name] == sec


def test_headline_line_is_single_line():
    line = headline_line(_fake_timings(78), sf=0.1)
    assert "\n" not in line


def test_headline_line_handles_null_sf():
    obj = json.loads(headline_line(_fake_timings(5), sf=None))
    assert obj["sf"] is None


def test_bench_records_are_load_self_adjudicating():
    """r9 verdict ask #4: three rounds of committed BENCH numbers needed
    out-of-band load context; every record now carries its own loadavg
    evidence and a QUIET/LOADED verdict keyed on the PRE-run 1-min avg."""
    ev = load_evidence(0.8, 31.5)
    assert ev == {
        "load_before": 0.8,
        "load_after": 31.5,
        "load_verdict": "QUIET",
    }
    assert load_evidence(LOAD_QUIET_MAX, 1.0)["load_verdict"] == "LOADED"
    assert load_evidence(None, None)["load_verdict"] is None
    # the fields ride inside the final compact line
    obj = json.loads(headline_line(_fake_timings(78), sf=0.1, load=ev))
    assert obj["load_before"] == 0.8
    assert obj["load_after"] == 31.5
    assert obj["load_verdict"] == "QUIET"
    # and even with them the line stays under the tail-capture budget
    line = headline_line(_fake_timings(500), sf=0.1, load=ev)
    assert len(line) < 1024
    # omitted load still emits the keys (schema stability for the driver)
    obj = json.loads(headline_line(_fake_timings(3), sf=0.1))
    assert obj["load_verdict"] is None


def test_load_verdict_computed_from_recorded_rounded_value():
    """r10 ADVICE: the verdict must key on the ROUNDED value that lands in
    the record — before=1.9996 rounds to 2.0 and must therefore read
    LOADED, never a self-contradictory (load_before=2.0, QUIET) row."""
    ev = load_evidence(1.9996, None)
    assert ev["load_before"] == 2.0
    assert ev["load_verdict"] == "LOADED"
    ev = load_evidence(1.994, None)
    assert ev["load_before"] == 1.99
    assert ev["load_verdict"] == "QUIET"


def test_is_load_suspect_flags_burst_pairs():
    """r10 verdict ask #1: entries whose run pair differs by more than
    SUSPECT_SPREAD are burst-tainted and must self-identify."""
    assert SUSPECT_SPREAD == 2.5
    assert is_load_suspect([5.1, 34.6])  # the judge's r10 observed pair
    assert is_load_suspect([1.0, 2.51])
    assert not is_load_suspect([1.0, 2.49])
    assert not is_load_suspect([2.0, 2.2])
    # sub-second jitter is scheduler noise, not a co-tenant burst
    assert not is_load_suspect([0.05, 0.4])
    # a third quiet run does NOT clear the flag if the spread persists
    assert is_load_suspect([5.1, 34.6, 5.0])
    assert not is_load_suspect([5.1])
    assert not is_load_suspect([])


def test_suspect_verdict_judges_steady_state_only():
    """The recorded verdict applies is_load_suspect to runs[1:]: a
    memoizing entry's cold-build→warm-hit shape (slow run 1, tight runs
    2-3) is expected, NOT load — the first quiet bench under the initial
    protocol flagged five such entries.  A burst that splits the
    steady-state runs still records as suspect."""
    cold_build = [6.2, 1.3, 1.25]  # kmeans_train shape: memo hit after run 1
    assert is_load_suspect(cold_build)  # the trigger fires...
    assert not is_load_suspect(cold_build[1:])  # ...but steady state clears
    mid_burst = [5.1, 34.6, 5.0]  # a burst inside the steady-state pair
    assert is_load_suspect(mid_burst[1:])


def test_split_cold_steady():
    """r11 verdict ask #1: every bench record distinguishes the cold
    (run-1) cost from the steady-state (runs 2+) cost, so a session-memo
    cache hit can never masquerade as a computation speedup."""
    spreads = {
        "memoizing": [3.4, 0.15, 0.14],  # cold build, warm cache reads
        "flat": [1.0, 0.9],
        "once": [2.0],
    }
    cold, steady = split_cold_steady(spreads)
    assert cold == {"memoizing": 3.4, "flat": 1.0, "once": 2.0}
    assert steady == {"memoizing": 0.14, "flat": 0.9}
    assert "once" not in steady
    assert split_cold_steady({}) == ({}, {})


def test_cold_steady_totals_ride_the_final_line():
    line = headline_line(
        _fake_timings(500), sf=0.1, cold_total=123.4567, steady_total=98.7
    )
    assert len(line) < 1024
    obj = json.loads(line)
    assert obj["cold_total_sec"] == 123.457
    assert obj["steady_total_sec"] == 98.7
    # omitted ⇒ keys absent (old-round records stay interpretable)
    obj = json.loads(headline_line(_fake_timings(3), sf=0.1))
    assert "cold_total_sec" not in obj


def test_index_serve_lanes_are_declared_headline_entries():
    """The steady-contract declaration must name real bench entries (a
    rename that orphans a declaration should fail loudly here)."""
    assert INDEX_SERVE <= set(HEADLINE)
    # spot-pin the two semantic classes: reload lanes are steady-contract,
    # the plain batch dedup entries are cold-contract (r11 verdict ask #1)
    assert "ann_pq_reload_topk" in INDEX_SERVE
    assert "dedup_minhash" not in INDEX_SERVE
    assert "dedup_ngram_jaccard" not in INDEX_SERVE
    assert "knn_graph_lsh" not in INDEX_SERVE
    # the training kmeans_train is named for happens only in run 1
    assert "kmeans_train" not in INDEX_SERVE


def test_entry_records_carry_run1_memo_builds_and_hits():
    """A cold number that was really a memo read must show it: each entry
    records the memo store's builds and hits during its run 1."""
    before = {
        "sig|64": {"builds": 1, "hits": 0},
        "pairs|minhash": {"builds": 1, "hits": 2},
    }
    after = {
        "sig|64": {"builds": 1, "hits": 3},
        "pairs|minhash": {"builds": 1, "hits": 2},
        "clusters|minhash": {"builds": 1, "hits": 0},
    }
    assert memo_delta(before, after) == {
        "builds": 1,
        "hits": 3,
        "tags": {
            "sig|64": {"builds": 0, "hits": 3},
            "clusters|minhash": {"builds": 1, "hits": 0},
        },
    }
    assert memo_delta(after, after) == {"builds": 0, "hits": 0, "tags": {}}

    memo = {"flat": memo_delta({}, {}), "warm": memo_delta(before, after)}
    rec = runs_record(
        {"flat": [1.0, 0.9], "warm": [0.2, 0.1]},
        {"flat": [0.5, 0.5], "warm": [0.5, 0.5]},
        [],
        memo,
        0.1,
        load_evidence(0.5, 1.0),
    )
    assert rec["memo_run1"] == memo
    assert rec["cold"] == {"flat": 1.0, "warm": 0.2}
    assert rec["steady"] == {"flat": 0.9, "warm": 0.1}
    assert rec["load_verdict"] == "QUIET"
    json.dumps(rec)  # the record is written as JSON


def test_headline_line_carries_suspect_count():
    ev = load_evidence(0.5, 3.0)
    line = headline_line(
        _fake_timings(78), sf=0.1, load=ev, suspects=["a", "b"]
    )
    assert len(line) < 1024
    obj = json.loads(line)
    assert obj["n_suspect"] == 2
    # default: zero suspects, key still present (schema stability)
    obj = json.loads(headline_line(_fake_timings(3), sf=0.1))
    assert obj["n_suspect"] == 0
