"""Content-keyed index persistence: key semantics, atomic save, staleness
rejection, and the restart-parity property (load path serves WITHOUT the
builder — a new process never silently rebuilds or silently serves stale
state)."""

from __future__ import annotations

import json
import os

import pytest

from data_catalog_spark.operators import persist


@pytest.fixture()
def index_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    return tmp_path


def test_content_key_tracks_source_and_model(index_env, tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    k1 = persist.content_key([str(f)], "model-a")
    assert k1 == persist.content_key([str(f)], "model-a")  # deterministic
    assert k1 != persist.content_key([str(f)], "model-b")  # model identity
    f.write_bytes(b"abcd")  # size change
    assert k1 != persist.content_key([str(f)], "model-a")  # source identity


def test_save_load_roundtrip_and_stale_rejection(index_env, spark, tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"abc")
    key = persist.content_key([str(f)], "m")
    path = persist.index_path("unit", key)
    df = spark.range(5).selectExpr("id", "id * id AS sq")
    persist.save_index(df, path, key)
    assert persist.is_saved(path, key)
    got = persist.load_index(spark, path, key)
    assert sorted((r.id, r.sq) for r in got.collect()) == [
        (i, i * i) for i in range(5)
    ]
    # a different key must refuse to serve this artifact
    with pytest.raises(FileNotFoundError):
        persist.load_index(spark, path, "deadbeef")
    # a half-written tree (no meta) is never loadable
    os.remove(os.path.join(path, persist._META))
    with pytest.raises(FileNotFoundError):
        persist.load_index(spark, path, key)


def test_build_or_load_builds_exactly_once(index_env, spark):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(3).selectExpr("id AS node", "id AS label")

    key = "k" * 32
    a = persist.build_or_load(spark, "labels", key, builder)
    b = persist.build_or_load(spark, "labels", key, builder)
    assert len(calls) == 1
    assert sorted(r.node for r in a.collect()) == [0, 1, 2]
    assert sorted(r.node for r in b.collect()) == [0, 1, 2]


def test_save_is_idempotent_and_race_safe(index_env, spark):
    key = "r" * 32
    path = persist.index_path("race", key)
    df = spark.range(4)
    persist.save_index(df, path, key)
    # second save (the losing racer re-running) keeps the valid winner
    persist.save_index(spark.range(4), path, key)
    assert persist.is_saved(path, key)
    assert persist.load_index(spark, path, key).count() == 4
    # a squatting INVALID tree at the path gets replaced, not trusted
    with open(os.path.join(path, persist._META), "w") as fh:
        json.dump({"key": "wrong"}, fh)
    persist.save_index(spark.range(6), path, key)
    assert persist.load_index(spark, path, key).count() == 6


def test_pq_index_append_equals_full_rebuild(index_env, spark, sf_dir):
    """The incrementally-maintained index (persisted base + O(|new|)-coded
    delta) must serve the exact top-k of the one-shot full build, and the
    persisted base artifact must contain NO new-slice vector (the delta is
    genuinely coded at query time, not smuggled into the base)."""
    from data_catalog_spark.operators import persist, similarity

    full = similarity.ann_pq_topk(spark, sf_dir).collect()
    appended = similarity.ann_pq_index_append(spark, sf_dir).collect()
    assert sorted(map(tuple, appended)) == sorted(map(tuple, full))
    # inspect the persisted base: only non-new corpus ids
    import glob
    import os

    (base_dir,) = glob.glob(os.path.join(persist.index_root(), "pq_codes_base-*"))
    base = spark.read.parquet(os.path.join(base_dir, "data"))
    ids = [r.vec_id for r in base.select("vec_id").collect()]
    assert ids, "base index must be non-empty"
    assert all(
        v % similarity.EMB_NEW_MOD != 0 and v >= similarity.N_QUERIES
        for v in ids
    )


def test_incremental_dedup_indexed_probe_equals_recompute(
    index_env, spark, sf_dir
):
    """The persisted-signature-index lane must produce the exact report of
    the full-recompute lane, and the artifact must hold ONLY the existing
    corpus (the new batch is computed per probe, never baked in)."""
    from data_catalog_spark.operators import dedup, persist

    full = dedup.dedup_incremental(spark, sf_dir).collect()
    indexed = dedup.dedup_incremental_indexed(spark, sf_dir).collect()
    assert sorted(map(tuple, indexed)) == sorted(map(tuple, full))
    import glob
    import os

    (idx_dir,) = glob.glob(os.path.join(persist.index_root(), "mh_sig_index-*"))
    idx = spark.read.parquet(os.path.join(idx_dir, "data"))
    ids = [r.doc_id for r in idx.select("doc_id").collect()]
    assert ids and all(v % dedup.NEW_BATCH_MOD != 0 for v in ids)
    # one signature row and one fingerprint per indexed doc
    assert len(set(ids)) == len(ids)
    assert set(idx.columns) == (
        {"doc_id", "fp"} | {f"h{i}" for i in range(dedup.MINHASH_K)}
    )


def test_reload_entries_serve_from_artifact_without_builder(
    index_env, spark, sf_dir, monkeypatch
):
    """Restart simulation (r10 verdict ask #4): first invocation builds +
    saves; then every in-session memo is cleared AND the builders are
    booby-trapped — the second invocation must serve the identical rows
    purely from the parquet artifact."""
    from data_catalog_spark.operators import corpus, session_cache, similarity

    first = corpus.dedup_clusters_reload(spark, sf_dir).collect()
    first_pq = similarity.ann_pq_reload_topk(spark, sf_dir).collect()
    session_cache.clear()

    def boom(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("rebuild attempted — load path not exercised")

    monkeypatch.setattr(corpus, "_cluster_labels", boom)
    monkeypatch.setattr(similarity, "pq_codes_index", boom)
    again = corpus.dedup_clusters_reload(spark, sf_dir).collect()
    again_pq = similarity.ann_pq_reload_topk(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
    assert sorted(map(tuple, again_pq)) == sorted(map(tuple, first_pq))


def test_vacuum_stale_removes_only_aged_artifacts(spark, tmp_path, monkeypatch):
    """Age-based GC: trees older than the TTL (by meta-sidecar mtime) go,
    younger trees and half-written trees inside the TTL stay; a meta-less
    (crashed-builder) tree ages out via the dir mtime."""
    import os
    import time

    from data_catalog_spark.operators import persist

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    df = spark.range(3).toDF("x")
    old_p = persist.index_path("vac_old", "k1")
    new_p = persist.index_path("vac_new", "k2")
    persist.save_index(df, old_p, "k1")
    persist.save_index(df, new_p, "k2")
    crashed = os.path.join(str(tmp_path), "vac_crashed-k3")
    os.makedirs(crashed)
    now = time.time()
    # age the old artifact and the crashed tree past the TTL
    os.utime(os.path.join(old_p, "_index_meta.json"), (now - 1000, now - 1000))
    os.utime(crashed, (now - 1000, now - 1000))

    removed = persist.vacuum_stale(ttl_seconds=500, now=now)

    assert sorted(removed) == sorted([old_p, crashed])
    assert not os.path.exists(old_p) and not os.path.exists(crashed)
    assert persist.is_saved(new_p, "k2")  # young artifact untouched
    # the surviving artifact still loads
    assert persist.load_index(spark, new_p, "k2").count() == 3


def test_media_phash_reload_matches_in_session(spark, sf_dir):
    from data_catalog_spark.operators import phash

    got = [tuple(r) for r in phash.media_phash_reload(spark, sf_dir).collect()]
    want = [tuple(r) for r in phash.media_phash_dedup(spark, sf_dir).collect()]
    assert got == want and got
