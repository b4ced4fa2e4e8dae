"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the served catalog, the
per-client request streams, the writer's plan, and the parquet tables the
batch entries read.  The program under test only ever sees these inputs.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import random
import string
import urllib.parse
from dataclasses import dataclass, field

ORGS = ["org01", "org02", "org03"]
FORMATS = ["csv", "json", "parquet"]
CATEGORIES = [f"category{k:02d}" for k in range(25)]
BASE = "/rest/datasets"
SECRET = "perfbench-hs256-secret"
QUIET_WORDS = 16

# Caller personas: console backends hold the admin scope, publisher
# backends act for users with an org membership.
USERS = {
    "admin": (["console.admin"], []),
    "u1": (["openid"], ["org01"]),
    "u2": (["openid"], ["org02", "org03"]),
    "u3": (["openid"], ["org01", "org02", "org03"]),
}


@dataclass(frozen=True)
class Scale:
    entries: int  # served catalog size
    query_pool: int  # distinct non-zero-hit search specs
    vocab: int  # text vocabulary; one term matches ~8/vocab of entries
    documents: int  # rows of the batch entries' documents table


SCALES = {
    "full": Scale(entries=20_000, query_pool=200, vocab=320, documents=500),
    "tiny": Scale(entries=300, query_pool=40, vocab=40, documents=120),
}


def _word(rng: random.Random, n: int = 6) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))


def vocabulary(seed: int, size: int) -> tuple[list[str], list[str], list[str]]:
    """(vocab, absent, quiet): disjoint sets of equal-length words, so a text
    term matches only the entries holding that very word.  Search terms come
    from ``vocab`` and ``absent``; ``absent`` words occur in no entry
    (zero-hit terms); ``quiet`` words fill the text of every entry the writer
    touches, so no search the readers send can match a changing entry."""
    rng = random.Random(f"vocab-{seed}")
    words: list[str] = []
    seen = {"writer"}  # the writer's title prefix
    while len(words) < size + 8 + QUIET_WORDS:
        w = _word(rng)
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words[:size], words[size:size + 8], words[size + 8:]


def churn_count(n_entries: int) -> int:
    """How many catalog entries (the last ones) the writer re-PUTs."""
    return max(10, n_entries // 40)


def catalog(seed: int, scale: Scale) -> list[dict]:
    """The served catalog: 3 orgs, public and private entries, 25
    categories, 3 formats, creation times over three years.  The last
    ``churn_count`` entries take their text from the quiet words."""
    rng = random.Random(f"catalog-{seed}")
    vocab, _, quiet = vocabulary(seed, scale.vocab)
    n_stable = scale.entries - churn_count(scale.entries)
    ids: set[str] = set()
    out = []
    for k in range(scale.entries):
        words = vocab if k < n_stable else quiet
        eid = f"{rng.getrandbits(40):010x}"
        while eid in ids:
            eid = f"{rng.getrandbits(40):010x}"
        ids.add(eid)
        org = rng.choice(ORGS)
        out.append(
            {
                "id": eid,
                "title": " ".join(rng.sample(words, 3)),
                "category": rng.choice(CATEGORIES),
                "dataSample": "id," + ",".join(rng.sample(words, 3)),
                "format": rng.choice(FORMATS),
                "recordCount": rng.randint(10, 100_000),
                "size": rng.randint(1_000, 10**9),
                "sourceUri": "http://data.example.com/" + "/".join(rng.sample(words, 2)),
                "targetUri": f"hdfs://namenode:8200/catalog/{org}/{eid}/000000_1",
                "isPublic": rng.random() < 0.5,
                "orgUUID": org,
                "creationTime": f"{rng.randint(2014, 2016)}-{rng.randint(1, 12):02d}-"
                f"{rng.randint(1, 28):02d}T{rng.randint(0, 23):02d}:00:00",
            }
        )
    return out


def zipf_pick(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Rank in [0, n) with P(rank k) ∝ 1/(k+1)^s."""
    return rng.choices(range(n), cum_weights=_zipf_cum_weights(n, s))[0]


@functools.lru_cache(maxsize=None)
def _zipf_cum_weights(n: int, s: float) -> tuple[float, ...]:
    return tuple(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))


# -- requests ----------------------------------------------------------------


@dataclass
class Request:
    kind: str  # search | get | count | put | post | delete
    method: str
    path: str
    caller: str
    body: object = None
    # what the verifier needs: compiled-query arguments for search/count,
    # the expected entry for get, the expected status for writes
    expect: dict = field(default_factory=dict)

    @property
    def key(self) -> str:
        return json.dumps([self.method, self.path, self.caller, self.body], sort_keys=True)


def _mode_args(mode: str) -> dict:
    return {"onlyPublic": "true"} if mode == "only_public" else (
        {"onlyPrivate": "true"} if mode == "only_private" else {}
    )


def _scope(shape: random.Random, vals: random.Random, mode: str) -> tuple[str, dict]:
    """A caller plus its query-string org scope for a read."""
    caller = shape.choice(["admin", "u1", "u2", "u3"])
    args = _mode_args(mode)
    orgs = USERS[caller][1]
    if caller == "admin" and shape.random() < 0.5:
        args["orgs"] = ",".join(vals.sample(ORGS, shape.randint(1, 2)))
    elif caller != "admin" and len(orgs) > 1 and shape.random() < 0.3:
        args["orgs"] = vals.choice(orgs)
    return caller, args


def _requested_orgs(caller: str, args: dict) -> list[str]:
    """The org scope ``auth.resolve_request_scope`` resolves for a GET."""
    if "orgs" in args:
        return args["orgs"].split(",")
    return [] if caller == "admin" else list(USERS[caller][1])


def _mode(rng: random.Random) -> str:
    return rng.choices(
        ["private_and_public", "only_public", "only_private"], weights=[60, 20, 20]
    )[0]


def search_spec(shape: random.Random, vals: random.Random, term: str) -> tuple[str, dict, dict]:
    """(caller, query-string args, query JSON) of one search.  ``shape``
    draws what sets the cost (mode, caller, which filters, page), ``vals``
    the values; feeding ``shape`` from the pool rank alone gives every seed
    the same cost mix, so seeds differ in values, not in work."""
    mode = _mode(shape)
    caller, args = _scope(shape, vals, mode)
    q: dict = {"query": term, "size": shape.choice([10, 10, 20])}
    filters = []
    if shape.random() < 0.4:
        filters.append({"format": vals.sample(FORMATS, shape.randint(1, 2))})
    if shape.random() < 0.3:
        filters.append({"category": vals.sample(CATEGORIES, shape.randint(1, 4))})
    if shape.random() < 0.3:
        filters.append({"creationTime": [f"{vals.randint(2014, 2015)}-"
                                         f"{vals.randint(1, 12):02d}-01", -1]})
    if filters:
        q["filters"] = filters
    if shape.random() < 0.2:
        q["from"] = shape.choice([5, 10])
    args["query"] = json.dumps(q, sort_keys=True)
    return caller, args, {"query": q, "mode": mode, "orgs": _requested_orgs(caller, args),
                          "admin": caller == "admin"}


def _path(base: str, args: dict) -> str:
    return base + ("?" + urllib.parse.urlencode(args) if args else "")


class ReadMix:
    """The read side of serve_write: 60% search, 30% GET by id, 10% count,
    in a fixed interleaving that each client starts at another offset, so
    every run prefix keeps the mix.  Search specs and ids are Zipf-skewed.
    Which kind, pool rank, id rank and count shape comes next depends on the
    client alone; the seed sets the values behind them, so seeds differ in
    values, not in work.  Searches for a term that occurs in no entry are
    kept apart (``zero_hit_requests``): they are sent once each after the
    timed window, so every timed search has hits."""

    # 12 searches, 6 GETs, 2 counts, spread evenly
    PATTERN = "sgssgssgscsgssgssgsc"

    def __init__(self, seed: int, scale: Scale, entries: list[dict], has_hits):
        rng = random.Random(f"pool-{seed}")
        vocab, absent, _ = vocabulary(seed, scale.vocab)
        self.pool = []
        for k in range(scale.query_pool):
            while True:
                term = vocab[zipf_pick(rng, len(vocab), 0.8)]
                spec = search_spec(random.Random(f"shape-{k}"), rng, term)
                # keep accidental zero-hit specs out of the pool: the
                # zero-hit share is the deliberate ``absent``-term share
                if has_hits(spec[2]):
                    break
            self.pool.append(spec)
        self.zero_pool = [search_spec(random.Random(f"zero-shape-{k}"), rng, w)
                          for k, w in enumerate(absent)]
        hot = list(entries)  # GET targets: entries the writer never touches
        rng.shuffle(hot)
        self.hot = hot
        self.seed = seed

    def stream(self, client: int, name: str = "r"):
        shape = random.Random(f"reads-{name}{client}")
        vals = random.Random(f"reads-{self.seed}-{name}{client}")
        for i in itertools.count(7 * client):
            kind = self.PATTERN[i % len(self.PATTERN)]
            if kind == "s":
                caller, args, exp = self.pool[zipf_pick(shape, len(self.pool))]
                yield Request("search", "GET", _path(BASE, args), caller, expect=exp)
            elif kind == "g":
                e = self.hot[zipf_pick(shape, len(self.hot))]
                readers = ["admin"] + [
                    u for u in ("u1", "u2", "u3")
                    if e["isPublic"] or e["orgUUID"] in USERS[u][1]
                ]
                yield Request("get", "GET", f"{BASE}/{e['id']}", vals.choice(readers),
                              expect={"entry": e})
            else:
                mode = _mode(shape)
                caller, args = _scope(shape, vals, mode)
                yield Request(
                    "count", "GET", _path(f"{BASE}/count", args), caller,
                    expect={"query": {}, "mode": mode,
                            "orgs": _requested_orgs(caller, args),
                            "admin": caller == "admin"},
                )


    def zero_hit_requests(self):
        """One search per term that occurs in no entry."""
        return [Request("search", "GET", _path(BASE, args), caller, expect=exp)
                for caller, args, exp in self.zero_pool]


class Writer:
    """The serve_write writer: PUT a new id → POST a patch → DELETE it, then
    re-PUT one of ``churn_entries`` with isPublic or the org flipped, so
    cells move.  Without churn entries it only runs the first three steps,
    which leave the catalog as it was.  The new entries' text is made of
    ``quiet`` words, like the churn entries'."""

    def __init__(self, seed: int, churn_entries: list[dict], quiet: list[str],
                 prefix: str = "w"):
        self.rng = random.Random(f"{prefix}-writer-{seed}")
        self.churn = [dict(e) for e in churn_entries]
        self.quiet = quiet
        self.prefix = f"{prefix}{seed}"

    def _body(self, entry: dict) -> dict:
        return {k: v for k, v in entry.items() if k != "id"}

    def stream(self):
        rng = self.rng
        k = 0
        while True:
            k += 1
            org = rng.choice(ORGS)
            eid = f"{self.prefix}-{k:05d}"
            entry = {
                "id": eid,
                "title": "writer " + " ".join(rng.sample(self.quiet, 2)),
                "category": rng.choice(CATEGORIES),
                "dataSample": "id," + rng.choice(self.quiet),
                "format": rng.choice(FORMATS),
                "recordCount": rng.randint(10, 1000),
                "size": rng.randint(1000, 10**6),
                "sourceUri": "http://writer.example.com/" + rng.choice(self.quiet),
                "targetUri": f"hdfs://namenode:8200/catalog/{org}/{eid}/000000_1",
                "isPublic": rng.random() < 0.5,
                "orgUUID": org,
                "creationTime": "2016-06-01T00:00:00",
            }
            owner = next(u for u in ("u1", "u2") if org in USERS[u][1])
            yield Request("put", "PUT", f"{BASE}/{eid}", owner, body=self._body(entry),
                          expect={"status": 201, "id": eid, "state": entry})
            patch = {"title": f"{entry['title']} {rng.choice(self.quiet)}",
                     "recordCount": entry["recordCount"] + 1}
            yield Request("post", "POST", f"{BASE}/{eid}", owner, body=patch,
                          expect={"status": 200, "id": eid, "state": {**entry, **patch}})
            yield Request("delete", "DELETE", f"{BASE}/{eid}", owner,
                          expect={"status": 200, "id": eid, "state": None})
            if not self.churn:
                continue
            old = rng.choice(self.churn)
            new = dict(old)
            if rng.random() < 0.5:
                new["isPublic"] = not old["isPublic"]
            else:
                new["orgUUID"] = rng.choice([o for o in ORGS if o != old["orgUUID"]])
            idx = self.churn.index(old)
            self.churn[idx] = new
            yield Request("put", "PUT", f"{BASE}/{old['id']}", "admin", body=self._body(new),
                          expect={"status": 200, "id": old["id"], "state": new})


# -- batch tables ------------------------------------------------------------

# The batch_corpus entry list, in run order, with each entry's module (the
# per-layer metric prefix).  dedup_minhash produces the MinHash signature
# state that dedup_incremental and the cluster entries read, and
# dedup_cluster_histogram the cluster labels that dedup_cluster_components
# reads, as in a session that serves them all.
BATCH_ENTRIES = [
    ("operators.dedup", "dedup_minhash"),
    ("operators.dedup", "dedup_incremental"),
    ("operators.corpus", "dedup_cluster_histogram"),
    ("operators.corpus", "dedup_cluster_components"),
    ("streaming.clusters", "stream_cluster_maintenance"),
    ("operators.text", "vocab_growth_heaps"),
]
BATCH_TABLES = ["documents"]


def batch_tables(seed: int, part: int, n_docs: int, out_dir: str) -> None:
    """The ``documents`` table the batch entries read, shaped like the
    repository's test corpora (sf0.001/sf0.01: 500 documents, sf0.1: 5,000):
    each text is 10–100 tokens, uniform, drawn uniformly from the same
    30-word vocabulary; 5% of the documents are a copy of another document
    with the token ``dup`` appended (a copy of a copy gets two); languages
    are about 41% en and 15% each de, es, fr and zh; sources are
    ``src<doc_id mod 20>``.  Each ``part`` is another table of that shape."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"documents-{seed}-{part}")
    words = ("key agg row scan slow fast table value part hash merge batch spark "
             "a the line sort window order data column join small customer query "
             "big stream group filter vector").split()
    texts = [" ".join(rng.choices(words, k=rng.randint(10, 100))) for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), round(n_docs * 0.05)):
        j = rng.randrange(n_docs - 1)  # any document but i
        texts[i] = texts[j + (j >= i)] + " dup"
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(["en", "de", "es", "fr", "zh"], weights=[41, 15, 15, 15, 14], k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
