"""The one memo store (``session_cache.derived``): which builds it shares,
what it keeps apart, and what it releases."""

from __future__ import annotations

import os
import shutil

from data_catalog_spark.operators import session_cache


def _builds(before: dict, after: dict) -> dict[str, int]:
    """Per-tag builds between two ``stats()`` snapshots (nonzero only)."""
    out = {}
    for tag, counts in after.items():
        n = counts["builds"] - before.get(tag, {}).get("builds", 0)
        if n:
            out[tag] = n
    return out


def test_eviction_removes_scratch_dirs(spark):
    """A scratch-backed entry's directory goes with its entry: on
    eviction by a newly admitted session, on drop_session, and on clear.
    A second put of the same key keeps the first value's directory — a
    concurrent build of that key still holds it."""
    from data_catalog_spark.io import process_scratch_table
    from data_catalog_spark.operators.session_cache import SessionLRU

    def scratch():
        df = process_scratch_table(spark.range(3), "evict-test")
        assert os.path.isdir(df._scratch_dir)
        return df, df._scratch_dir

    lru = SessionLRU(max_sessions=1)
    a, a_dir = scratch()
    lru.put(1, "k", a)
    b, b_dir = scratch()
    lru.put(1, "k", b)  # same key again: the first build keeps its dir
    assert os.path.isdir(a_dir) and os.path.isdir(b_dir)
    assert sorted(r.id for r in a.collect()) == [0, 1, 2]

    c, c_dir = scratch()
    lru.put(2, "k", (c, "label"))  # admits session 2 → evicts session 1
    assert not os.path.exists(b_dir)
    assert os.path.isdir(c_dir)

    lru.drop_session(2)
    assert not os.path.exists(c_dir)

    d, d_dir = scratch()
    lru.put(3, "k", {"x": d})
    lru.clear()
    assert not os.path.exists(d_dir)
    shutil.rmtree(a_dir, ignore_errors=True)


def test_batch_corpus_order_builds_each_shared_tag_once(spark, sf_dir):
    """The batch_corpus entry order in one session builds every derived
    tag it touches exactly once — the signature table, the
    jaccard_exact/minhash pair tables, the cluster labels and the loaded
    MinHash state among them — and a repeat of the sequence builds none."""
    from data_catalog_spark.operators import corpus, dedup
    from data_catalog_spark.streaming import clusters

    seq = [
        dedup.dedup_minhash,
        dedup.dedup_incremental,
        corpus.dedup_cluster_histogram,
        corpus.dedup_cluster_components,
        clusters.stream_cluster_maintenance,
    ]
    s = spark.newSession()  # fresh scope: no entry of an earlier test
    try:
        before = session_cache.stats()
        for fn in seq:
            fn(s, sf_dir).collect()
        first = _builds(before, session_cache.stats())
        shared = {
            "sig|64",
            "pairs|jaccard_exact",
            "pairs|minhash",
            "clusters|jaccard",
            "clusters|minhash",
            "mh-old-state",
        }
        assert shared <= set(first), first
        assert all(n == 1 for n in first.values()), first

        before = session_cache.stats()
        for fn in seq:
            fn(s, sf_dir).collect()
        assert _builds(before, session_cache.stats()) == {}
    finally:
        session_cache.drop_session(s)


def test_recall_lanes_share_one_jaccard_build(spark, sf_dir):
    """The minhash and simhash recall-contract lanes read one
    exact-Jaccard truth table: one build, then a hit on the same frame."""
    from data_catalog_spark.operators import dedup_contract

    s = spark.newSession()
    try:
        before = session_cache.stats()
        mh_truth, _ = dedup_contract._lane_pair_frames(s, sf_dir, "minhash")
        sh_truth, _ = dedup_contract._lane_pair_frames(s, sf_dir, "simhash")
        after = session_cache.stats()
        assert sh_truth is mh_truth
        assert _builds(before, after)["pairs|jaccard_exact"] == 1
        hits = after["pairs|jaccard_exact"]["hits"] - before.get(
            "pairs|jaccard_exact", {}
        ).get("hits", 0)
        assert hits == 1
    finally:
        session_cache.drop_session(s)


def test_sites_on_one_file_get_distinct_frames(spark, sf_dir):
    """Three sites derive from the same embeddings.parquet; their tags
    keep the code table, the scored pairs and the kNN edges apart."""
    from data_catalog_spark.operators import similarity

    coded = similarity._pair_coded(spark, sf_dir)
    pairs = similarity._emb_lsh_pairs(spark, sf_dir)
    edges = similarity._knn_graph_edges(spark, sf_dir)
    assert len({id(coded), id(pairs), id(edges)}) == 3
    cols = [tuple(df.columns) for df in (coded, pairs, edges)]
    assert len(set(cols)) == 3, cols
    assert similarity._pair_coded(spark, sf_dir) is coded


def test_regenerated_input_rebuilds(spark, sf_dir, tmp_path):
    """A new mtime on documents.parquet is a new key: the next call
    rebuilds instead of serving the old corpus's frame, and releases the
    old frame, whose scratch dir goes with it."""
    from data_catalog_spark.operators import dedup

    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        tmp_path / "documents.parquet",
    )
    d = str(tmp_path)
    before = session_cache.stats()
    first = dedup.mh_sig_table(spark, d)
    assert dedup.mh_sig_table(spark, d) is first
    n = first.count()
    first_dir = first._scratch_dir
    st = os.stat(tmp_path / "documents.parquet")
    os.utime(
        tmp_path / "documents.parquet",
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    second = dedup.mh_sig_table(spark, d)
    assert second is not first
    assert _builds(before, session_cache.stats()) == {"sig|64": 2}
    assert second.count() == n
    assert not os.path.exists(first_dir)
    assert os.path.isdir(second._scratch_dir)


def test_other_directory_is_not_released(spark, sf_dir, tmp_path):
    """The same file in another directory is another key: building it
    leaves the first directory's entry resident and its scratch dir in
    place, and the first directory still hits."""
    from data_catalog_spark.operators import dedup

    dirs = []
    for name in ("a", "b"):
        (tmp_path / name).mkdir()
        shutil.copy(os.path.join(sf_dir, "documents.parquet"), tmp_path / name)
        dirs.append(str(tmp_path / name))
    first = dedup.mh_sig_table(spark, dirs[0])
    second = dedup.mh_sig_table(spark, dirs[1])
    assert second is not first
    assert os.path.isdir(first._scratch_dir) and os.path.isdir(second._scratch_dir)
    assert dedup.mh_sig_table(spark, dirs[0]) is first
