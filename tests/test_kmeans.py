"""In-engine k-means training (operators/kmeans.py)."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def trained(spark, sf_dir):
    from data_catalog_spark.operators import kmeans as km

    return km.kmeans_train(spark, sf_dir).collect()


def test_kmeans_oracle_parity(spark, sf_dir, ddb):
    from conftest import assert_same
    from data_catalog_spark.operators import kmeans as km

    assert_same(km.kmeans_train(spark, sf_dir), ddb, km.KMEANS_ORACLE)


def test_kmeans_model_shape_and_partition(trained):
    from data_catalog_spark.operators import kmeans as km

    clusters = {r.cluster for r in trained}
    assert clusters <= set(range(km.K_TRAIN))
    # every emitted cluster carries a full dim-length centroid
    by_cluster = {}
    for r in trained:
        by_cluster.setdefault(r.cluster, set()).add(r.pos)
    for c, poss in by_cluster.items():
        assert poss == set(range(km._DIM))
    # the clusters partition the corpus
    n_total = {r.cluster: r.n_points for r in trained}
    assert sum(n_total.values()) > 0


def test_kmeans_inertia_nonincreasing_with_iterations(spark, sf_dir, monkeypatch):
    """Lloyd's guarantees inertia(k iters) >= inertia(k+1 iters) up to the
    microunit quantization — train with 1 and with 4 iterations and
    compare total inertia."""
    from data_catalog_spark.operators import kmeans as km

    def total_inertia(iters: int) -> float:
        monkeypatch.setattr(km, "TRAIN_ITERS", iters)
        rows = km.kmeans_train(spark, sf_dir).collect()
        return sum({r.cluster: r.inertia for r in rows}.values())

    i1, i4 = total_inertia(1), total_inertia(4)
    assert i4 <= i1 + 1e-6


def test_kmeans_assignment_is_nearest_centroid(spark, sf_dir, trained):
    """Spot-check: recompute a few assignments in pure python from the
    emitted centroids and verify each point's cluster minimizes squared
    distance."""
    from data_catalog_spark.operators import kmeans as km
    from data_catalog_spark.operators.similarity import _assign_clusters, _emb

    cents: dict[int, list[float]] = {}
    for r in trained:
        cents.setdefault(r.cluster, [0.0] * km._DIM)[r.pos] = r.centroid
    pts = _emb(spark, sf_dir).orderBy("vec_id").limit(20).collect()
    full = [cents[c] for c in sorted(cents)]
    assigned = {
        r.vec_id: r.cluster
        for r in _assign_clusters(
            _emb(spark, sf_dir).orderBy("vec_id").limit(20), full
        ).collect()
    }
    for p in pts:
        d = [
            sum((x - y) * (x - y) for x, y in zip(p.v, cent))
            for cent in full
        ]
        best = d.index(min(d))
        assert math.isclose(
            d[assigned[p.vec_id]], d[best], rel_tol=1e-12, abs_tol=1e-12
        )


def test_trained_ivf_parity_and_recall(spark, sf_dir, ddb):
    """The train→index→query composition: oracle parity plus recall vs the
    exact brute-force top-k (nprobe=2 of 8 clusters scans ~25% of the
    corpus; the trained quantizer must keep most true neighbors)."""
    from conftest import assert_same
    from data_catalog_spark.operators import kmeans as km
    from data_catalog_spark.operators import similarity as S

    got = km.ann_ivf_trained_topk(spark, sf_dir)
    assert_same(got, ddb, km._ivf_trained_oracle())
    exact = {
        (r.qid, r.nid)
        for r in S.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx = {(r.qid, r.nid) for r in got.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, recall  # 2-of-8 probe at an unclustered SF


def test_trained_pq_parity_and_recall(spark, sf_dir, ddb):
    """train→compress→search: oracle parity plus recall vs brute force
    (the trained codebooks must rank true neighbors into the re-rank
    pool at least as well as a random quantizer would not)."""
    from conftest import assert_same
    from data_catalog_spark.operators import kmeans as km
    from data_catalog_spark.operators import similarity as S

    got = km.ann_pq_trained_topk(spark, sf_dir)
    assert_same(got, ddb, km._pq_trained_oracle())
    exact = {
        (r.qid, r.nid)
        for r in S.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    approx = {(r.qid, r.nid) for r in got.collect()}
    assert len(exact & approx) / len(exact) >= 0.6


def test_trained_surfaces_work_from_a_sibling_session(spark, sf_dir):
    """A spark.newSession() sibling must NOT inherit the session-scoped
    embeddings view, and the float models are session-scoped with it (the
    sibling retrains): before the session-aware cache key, a warm
    app-keyed model cache made the sibling resolve a temp view registered
    only in the first session's catalog (TABLE_OR_VIEW_NOT_FOUND)."""
    from data_catalog_spark.operators import kmeans as km
    from data_catalog_spark.operators import session_cache

    km.kmeans_train(spark, sf_dir).collect()  # warm the caches
    sibling = spark.newSession()
    try:
        rows = km.kmeans_train(sibling, sf_dir).collect()
        assert len(rows) > 0
        rows = km.ann_pq_trained_topk(sibling, sf_dir).limit(5).collect()
        assert len(rows) > 0
    finally:
        # drop the sibling's cache entries so later tests in this process
        # never resolve a plan against the discarded session
        session_cache.drop_session(sibling)


def test_session_cache_is_bounded():
    """The session-scoped stores evict whole sessions LRU-wise — an app
    churning newSession() siblings must not pin every one of them via
    cached plans (r9 ADVICE)."""
    from data_catalog_spark.operators.session_cache import SessionLRU

    lru = SessionLRU(max_sessions=2)
    lru.put(1, "k", "a")
    lru.put(2, "k", "b")
    assert lru.get(1, "k") == "a"  # touch: 1 becomes MRU
    lru.put(3, "k", "c")  # evicts session 2, the LRU
    assert lru.sessions() == [1, 3]
    assert lru.get(2, "k") is None
    assert lru.get(1, "k") == "a" and lru.get(3, "k") == "c"
    lru.drop_session(1)
    assert lru.get(1, "k") is None


class _FakeCached:
    """Stands in for a cached/localCheckpoint'd DataFrame."""

    def __init__(self):
        self.unpersisted = False

    def unpersist(self, blocking=False):
        self.unpersisted = True


def test_session_cache_eviction_unpersists():
    """r10 ADVICE: eviction must not rely on the GC → py4j → ContextCleaner
    chain alone — evicted DataFrames (also inside tuples/dicts) get a
    best-effort immediate unpersist."""
    from data_catalog_spark.operators.session_cache import SessionLRU

    lru = SessionLRU(max_sessions=1)
    a, b, c = _FakeCached(), _FakeCached(), _FakeCached()
    lru.put(1, "k", a)
    lru.put(1, "k2", (b, "label"))  # tuple bundles release their frames
    lru.put(2, "k", {"x": c})  # admits session 2 → evicts session 1
    assert a.unpersisted and b.unpersisted
    assert not c.unpersisted
    lru.drop_session(2)
    assert c.unpersisted
    d = _FakeCached()
    lru.put(3, "k", d)
    lru.clear()
    assert d.unpersisted


def test_session_cache_is_thread_safe():
    """Spark drivers submit jobs from multiple threads; concurrent put/get
    against the shared store must not corrupt the OrderedDict (r10
    ADVICE)."""
    import threading

    from data_catalog_spark.operators.session_cache import SessionLRU

    lru = SessionLRU(max_sessions=3)
    errors = []

    def worker(tid: int) -> None:
        try:
            for i in range(300):
                lru.put(tid % 5, i % 7, i)
                lru.get((tid + 1) % 5, i % 7)
                if i % 50 == 0:
                    lru.sessions()
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(lru.sessions()) <= 3
