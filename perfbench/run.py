"""The repository benchmark: served catalog reads under writes, and batch
corpus entries.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json for the one-line reasons):

- ``serve_write``: a seed-generated catalog is bulk-loaded over
  ``PUT /admin/elastic``; 3 clients then run a closed loop of 60% search,
  30% GET by id and 10% count over HTTP, while one writer runs PUT new →
  POST patch → DELETE → re-PUT of an existing id.
- ``batch_corpus``: one fresh Spark session runs the registered batch
  entries of ``workloads.BATCH_ENTRIES`` in order, cold, on a seed-generated
  documents table; while time is left, it runs them again on another one.

The system under test runs in a child process (``sut.py``) with
``SPARK_GRAFT_CPUS`` set to the core count; the load comes from this
process.  Every operation is checked after the timed window: searches and
counts against DuckDB running the SQL that ``query.sqlgen`` renders from the
same compiled query, GETs against the generated entry, writes against the
writer's model, batch outputs against their ``oracle_sql()`` oracle.  A
failed operation counts against the attempts and misses every latency
percentile.

``--trace 1`` replays the same seeded stream with span recorders around the
layers and the Spark event log on, and reports the per-layer metrics.

The last stdout line is the result object; the line before it is the run
record (per-route latencies, load evidence, seed).  Exits non-zero without a
result when the program cannot be run.
"""

from __future__ import annotations

import argparse
import ctypes
import http.client
import json
import math
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
DEADLINE_S = 150  # set-up and checks included; teardown gets the rest of 180 s
SETUP_REPS = 3
WARMUP_S = 8
READERS = 3  # plus one writer: nproc client connections on a 4-core box
BATCH_PASSES = 3  # documents tables made for batch_corpus; one per pass
# A 1 GB Spark driver heap holds every workload here, so the figures are
# those of a 1 GB-heap deployment; with the 8 GB default the JVM grows its
# heap lazily and peak RSS varied by a third between identical runs.
DRIVER_MEM = "1g"


class Abort(Exception):
    """A signal or the run deadline; unwinds through every cleanup."""


def _abort(signum, _frame):
    raise Abort(signal.Signals(signum).name)


# -- child processes ---------------------------------------------------------

_libc = ctypes.CDLL(None, use_errno=True)
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36


def _die_with_parent() -> None:
    _libc.prctl(PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)


def descendants() -> list[int]:
    """Every live process below this one (orphans of our children are
    re-parented to us, so the walk sees them too)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if fields[0] != "Z":
                parent[int(name)] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid)
        seen = 0
        while p is not None and p > 1 and seen < 64:
            if p == me:
                out.append(pid)
                break
            p, seen = parent.get(p), seen + 1
    return out


def reap_all(timeout: float, grace: float = 3.0) -> list[int]:
    """Wait until every descendant has exited and been reaped, killing what
    is still alive after ``grace`` seconds.  Returns the pids still alive at
    the timeout (empty on success)."""
    start = time.time()
    while True:
        left = descendants()
        if time.time() - start > grace:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        unreaped = False
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                unreaped = True
                break
        if not left and not unreaped:
            return []
        if time.time() - start > timeout:
            return left
        time.sleep(0.05)


class System:
    """The system under test: ``sut.py`` in its own process group."""

    def __init__(self, mode: str, work: str, trace: int, data: str | None = None,
                 seconds: float = 0.0):
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        env = dict(os.environ)
        submit = "pyspark-shell"
        if trace:
            os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
            submit = ("--conf spark.eventLog.enabled=true"
                      " --conf spark.eventLog.compress=false"
                      f" --conf spark.eventLog.dir=file://{work}/eventlog " + submit)
        env.update(
            SPARK_GRAFT_CPUS=str(NPROC),
            SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=f"{work}/spark-local",
            SPARK_GRAFT_WAREHOUSE=f"{work}/warehouse",
            SPARK_GRAFT_CACHE_DIR=f"{work}/cache",
            TMPDIR=f"{work}/tmp",
            # every JVM (spark-submit's launcher too): temp files in the run
            # directory, and no /tmp/hsperfdata_<user>
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            PYSPARK_SUBMIT_ARGS=submit,
        )
        cmd = [sys.executable, os.path.join(HERE, "sut.py"), mode, "--work", work,
               "--trace", str(trace), "--seconds", str(seconds)]
        cmd += ["--data", data] if data else []
        self.work = work
        self.log = open(os.path.join(work, "sut.log"), "wb")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, start_new_session=True, preexec_fn=_die_with_parent,
        )

    def wait_ready(self, timeout: float) -> dict:
        end = time.time() + timeout
        buf = b""
        while b"\n" not in buf:
            left = end - time.time()
            if left <= 0 or self.proc.poll() is not None:
                raise RuntimeError(f"system did not start; see {self.log.name}:\n"
                                   + self.tail())
            ready, _, _ = select.select([self.proc.stdout], [], [], min(left, 1.0))
            if ready:
                chunk = os.read(self.proc.stdout.fileno(), 4096)
                if not chunk:
                    continue
                buf += chunk
        msg = json.loads(buf.split(b"\n", 1)[0])
        msg["start_s"] = time.time() - self.t_spawn
        return msg

    def tail(self) -> str:
        self.log.flush()
        with open(self.log.name, "rb") as f:
            return f.read()[-3000:].decode(errors="replace")

    def finish(self, timeout: float) -> dict:
        """Close stdin (the stop request), wait for the result file."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError("system did not stop in time:\n" + self.tail())
        if self.proc.returncode != 0:
            raise RuntimeError(f"system exited with {self.proc.returncode}:\n" + self.tail())
        self.log.close()
        with open(os.path.join(self.work, "result.json")) as f:
            return json.load(f)

    def kill(self) -> None:
        if self.proc.poll() is None:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(self.proc.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    self.proc.wait(3)
                    break
                except subprocess.TimeoutExpired:
                    pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)  # the JVM shares the group
        except ProcessLookupError:
            pass
        self.log.close()


# -- HTTP load ---------------------------------------------------------------


def _tokens() -> dict[str, str]:
    import base64
    import hashlib
    import hmac

    def b64(b: bytes) -> str:
        return base64.urlsafe_b64encode(b).rstrip(b"=").decode()

    out = {}
    for user, (scope, orgs) in wl.USERS.items():
        h = b64(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
        p = b64(json.dumps({"scope": scope, "aud": "cloud_controller",
                            "user_orgs": orgs}).encode())
        sig = hmac.new(wl.SECRET.encode(), f"{h}.{p}".encode(), hashlib.sha256).digest()
        out[user] = f"{h}.{p}.{b64(sig)}"
    return out


TOKENS = _tokens()


def call(port: int, req: wl.Request, rid: str, raw: bytes | None = None):
    """One request on a fresh connection; (status, body, t0, t1)."""
    body = raw if raw is not None else (
        json.dumps(req.body).encode() if req.body is not None else None)
    headers = {"Authorization": f"Bearer {TOKENS[req.caller]}",
               "X-Perfbench-Req": rid}
    if body is not None:
        headers["Content-Type"] = "application/json"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.time()
    try:
        conn.request(req.method, req.path, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        status = resp.status
    except (OSError, http.client.HTTPException) as ex:
        status, data = 0, str(ex).encode()
    finally:
        conn.close()
    return status, data, t0, time.time()


def closed_loop(port: int, streams: dict, deadline: float, stop: threading.Event) -> list:
    """One thread per client, each sending its next request only after the
    previous reply; no think time.  Returns (client, rid, req, status, body,
    t0, t1) per request, in no particular order."""
    out: list = []
    lock = threading.Lock()

    def client(name: str, stream) -> None:
        n = 0
        for req in stream:
            if time.time() >= deadline or stop.is_set():
                return
            n += 1
            rid = f"{name}-{n}"
            rec = (name, rid, req) + call(port, req, rid)
            with lock:
                out.append(rec)

    threads = [threading.Thread(target=client, args=(n, s), daemon=True)
               for n, s in streams.items()]
    for t in threads:
        t.start()
    for t in threads:
        while t.is_alive():
            t.join(0.2)
    return out


# -- verification ------------------------------------------------------------


class Oracle:
    """DuckDB over the generated entries, queried with the SQL ``query.sqlgen``
    renders from the compiled query."""

    def __init__(self, entries: list[dict]):
        import duckdb
        import pyarrow as pa
        from data_catalog_spark.schema import COLUMN_ORDER

        self.con = duckdb.connect(config={"threads": 1})
        rows = [{c: e.get(c) for c in COLUMN_ORDER} for e in entries]
        types = {"recordCount": pa.int64(), "size": pa.int64(), "isPublic": pa.bool_()}
        tbl = pa.table({c: pa.array([r[c] for r in rows], types.get(c, pa.string()))
                        for c in COLUMN_ORDER})
        self.con.register("datasets_arrow", tbl)
        self.con.execute("CREATE TABLE datasets AS SELECT * FROM datasets_arrow")
        self._cache: dict[str, object] = {}

    def _compile(self, exp: dict):
        from data_catalog_spark.query import compile_query

        return compile_query(exp["query"], exp["orgs"], exp["mode"], exp["admin"])

    def has_hits(self, exp: dict) -> bool:
        from data_catalog_spark.query import sqlgen

        cq = self._compile(exp)
        sql = f"SELECT COUNT(*) FROM datasets WHERE {sqlgen.query_where_sql(cq)}"
        return self.con.execute(sql).fetchone()[0] > 0

    def search(self, exp: dict) -> dict:
        from data_catalog_spark.query import sqlgen

        key = json.dumps(exp, sort_keys=True)
        if key not in self._cache:
            cq = self._compile(exp)
            q = self.con.execute
            self._cache[key] = {
                "hits": [r[0] for r in q(sqlgen.hits_sql(cq)).fetchall()],
                "total": q(sqlgen.total_sql(cq)).fetchone()[0],
                "categories": [r[0] for r in q(sqlgen.categories_facet_sql(cq)).fetchall()],
                "formats": [r[0] for r in q(sqlgen.formats_facet_sql(cq)).fetchall()],
            }
        return self._cache[key]

    def count(self, exp: dict) -> int:
        return self.search({**exp, "query": {}})["total"]


def _visible(entry: dict, exp: dict) -> bool:
    """The security predicate of ``compile_query`` for one row."""
    orgs, admin, mode = exp["orgs"], exp["admin"], exp["mode"]
    scoped = not (admin and not orgs)
    if mode == "only_public":
        return entry["isPublic"] is True
    if mode == "only_private":
        return entry["isPublic"] is False and (not scoped or entry["orgUUID"] in orgs)
    return not scoped or entry["orgUUID"] in orgs or entry["isPublic"] is True


class WriterHistory:
    """The catalog states the writer moves through, for reads that overlap
    its writes.  States are numbered by how many of the writer's successful
    writes they include; a read that ran from t0 to t1 may have seen any
    state from the last write that ended before t0 to the last write that
    started before t1 (each commit is atomic and the writes are
    sequential)."""

    def __init__(self, writes: list, initial: dict):
        self.ends = [w[6] for w in writes]
        self.starts = [w[5] for w in writes]
        self.states = [dict(initial)]  # id -> entry (None: absent)
        for w in writes:
            req = w[2]
            self.states.append({**self.states[-1], req.expect["id"]: req.expect["state"]})

    def possible(self, t0: float, t1: float) -> list[dict]:
        lo = sum(1 for e in self.ends if e <= t0)
        hi = sum(1 for s in self.starts if s < t1)
        return self.states[lo:hi + 1]


def check_read(rec, oracle: Oracle, history: WriterHistory) -> str | None:
    """None when the reply is right; else what is wrong.  The oracle holds
    the entries the writer never touches.  No search term matches an entry
    the writer touches, so search answers must match the oracle exactly;
    a count must equal the oracle's plus the entries visible to the caller
    in one of the states the writer can have left during the request."""
    _c, _rid, req, status, body, t0, t1 = rec
    if status != 200:
        return f"HTTP {status}"
    try:
        got = json.loads(body)
    except ValueError:
        return "reply is not JSON"
    exp = req.expect
    if req.kind == "get":
        want = exp["entry"]
        return None if {k: got.get(k) for k in want} == want else "entry differs"
    if req.kind == "count":
        base = oracle.count(exp)
        wants = sorted({base + sum(1 for e in state.values() if e is not None and _visible(e, exp))
                        for state in history.possible(t0, t1)})
        return None if got in wants else f"count {got} not in {wants}"
    want = oracle.search(exp)
    if not isinstance(got, dict) or not isinstance(got.get("hits"), list):
        return "malformed search reply"
    if [h.get("id") for h in got["hits"]] != want["hits"]:
        return "hit ids differ"
    if (got.get("total"), got.get("categories"), got.get("formats")) != (
            want["total"], want["categories"], want["formats"]):
        return "total or facets differ"
    return None


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile; failed operations are +inf."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- workloads ---------------------------------------------------------------


def run_serve(ctx) -> dict:
    from data_catalog_spark.catalog import DatasetsCatalog

    seed, scale = ctx.seed, ctx.scale
    phases = {"spawn": time.time()}
    # inputs are generated while the JVM starts
    system = ctx.system = System("serve", ctx.work, ctx.trace)
    entries = wl.catalog(seed, scale)
    by_id = {e["id"]: e for e in entries}
    n_stable = len(entries) - wl.churn_count(len(entries))
    churn = entries[n_stable:]
    quiet = wl.vocabulary(seed, scale.vocab)[2]
    oracle = Oracle(entries[:n_stable])
    mix = wl.ReadMix(seed, scale, entries[:n_stable], oracle.has_hits)
    bulk = json.dumps(entries).encode()
    admin_load = wl.Request("admin", "PUT", f"{wl.BASE}/admin/elastic", "admin")
    admin_drop = wl.Request("admin", "DELETE", f"{wl.BASE}/admin/elastic", "admin")
    phases["generated"] = time.time()
    ready = system.wait_ready(120)
    phases["ready"] = time.time()
    port = ready["ready"]
    loads = []
    for i in range(SETUP_REPS):  # set-up, repeated: drop + bulk load
        t0 = time.time()
        s1 = call(port, admin_drop, f"setup-drop-{i}")[0]
        status, body, _, t1 = call(port, admin_load, f"setup-load-{i}", raw=bulk)
        loads.append(t1 - t0)
        reply = json.loads(body) if status == 200 else {}
        if s1 != 200 or len(reply.get("created", [])) != len(entries) or reply.get("rejected"):
            raise RuntimeError(f"catalog load failed: HTTP {status} {body[:300]!r}")
    phases["loaded"] = time.time()
    # warm-up outside the timed window, so the JIT has compiled the paths
    # before they are timed: the read mix from other streams, and a writer
    # whose ids are all deleted again
    warm = {f"warm{c}": mix.stream(c, "warm") for c in range(READERS)}
    warm["warm-w"] = wl.Writer(seed, [], quiet, prefix="warm").stream()
    live: dict[str, wl.Request] = {}
    for rec in sorted(closed_loop(port, warm, time.time() + WARMUP_S, ctx.stop),
                      key=lambda r: r[5]):
        if rec[2].kind == "put" and rec[3] == 201:
            live[rec[2].path] = rec[2]
        elif rec[2].kind == "delete" and rec[3] == 200:
            live.pop(rec[2].path, None)
    for path, req in live.items():
        call(port, wl.Request("delete", "DELETE", path, req.caller), "warm-cleanup")
    phases["warm"] = time.time()

    cat = DatasetsCatalog(None, os.path.join(ctx.work, "catalog"))
    bytes0, versions0 = dir_bytes(cat.path), len(cat.versions())
    streams = {f"r{c}": mix.stream(c) for c in range(READERS)}
    streams["w"] = wl.Writer(seed, churn, quiet).stream()
    t_start = time.time()
    recs = closed_loop(port, streams, t_start + ctx.seconds, ctx.stop)
    t_end = max([r[6] for r in recs] + [t_start + 1e-3])
    bytes1, versions1 = dir_bytes(cat.path), len(cat.versions())
    phases["measured"] = time.time()

    # -- verification, outside the timed window
    failures: dict[str, int] = {}
    wrong: list[str] = []
    lat: dict[str, list[float]] = {}
    writes = sorted((r for r in recs if r[0] == "w"), key=lambda r: r[5])
    done = [r for r in writes if r[3] == r[2].expect["status"]]
    history = WriterHistory(done, {e["id"]: e for e in churn})
    touched = {r[2].expect["id"] for r in done}
    final = {eid: history.states[-1][eid] for eid in touched}
    final_ok, final_note = check_final(port, final, len(entries), by_id)
    if not final_ok:
        wrong.append(final_note)
    # a closed-loop client is busy from t_start to its last reply, so its
    # rate is its successes over that span; summing the clients' rates keeps
    # one client's last, long request from stretching the others' window
    client_ok: dict[str, int] = {}
    client_end: dict[str, float] = {}
    for rec in recs:
        c, _rid, req, status, body, t0, t1 = rec
        kind = req.kind if req.kind in ("search", "get", "count") else "write"
        if kind == "write":
            problem = None if status == req.expect["status"] else f"HTTP {status}"
            answered = 200 <= status < 500  # a reply, but not the expected one
        else:
            problem = check_read(rec, oracle, history)
            answered = status == 200
        if problem and answered:
            wrong.append(f"{req.kind} {req.path}: {problem}")
        ok = problem is None
        client_ok[c] = client_ok.get(c, 0) + ok
        client_end[c] = max(client_end.get(c, t1), t1)
        lat.setdefault(kind, []).append((t1 - t0) if ok else math.inf)
        if not ok:
            failures[f"{kind}: {problem}"] = failures.get(f"{kind}: {problem}", 0) + 1

    conflicts = zero_hit = None
    if ctx.trace:
        conflicts = conflict_phase(port, ctx)
        zero_hit = zero_hit_phase(port, mix, oracle, history, wrong)
    phases["checked"] = time.time()
    result = system.finish(60)
    ctx.system = None
    phases["stopped"] = time.time()

    all_lat = [x for xs in lat.values() for x in xs]
    n_ok = sum(1 for x in all_lat if x != math.inf)
    seen: set[str] = set()
    repeats = 0
    for rec in sorted(recs, key=lambda r: r[5]):
        if rec[2].kind in ("search", "get", "count"):
            repeats += rec[2].key in seen
            seen.add(rec[2].key)
    e2e = {
        "setup_s": ready["start_s"] + statistics.median(loads),
        "op_p50_ms": pct(all_lat, 0.5) * 1e3,
        "op_p75_ms": pct(all_lat, 0.75) * 1e3,
        "throughput_ops": sum(n / (client_end[c] - t_start) for c, n in client_ok.items()),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    record = {
        "phases_s": {k: round(v - phases["spawn"], 2) for k, v in phases.items()},
        "session_start_s": ready["start_s"],
        "catalog_load_s": loads,
        "entries": len(entries),
        "clients": len(streams),
        "measured_s": t_end - t_start,
        "op_ms": {"n": len(all_lat), **{f"p{q}": pct(all_lat, q / 100) * 1e3
                                        for q in (50, 75, 90)}},
        "routes": {
            k: {"n": len(v), "failed": sum(x == math.inf for x in v),
                "p50_ms": pct(v, 0.5) * 1e3, "p90_ms": pct(v, 0.9) * 1e3}
            for k, v in sorted(lat.items())
        },
        "repeat_share": repeats / max(1, sum(len(lat.get(k, [])) for k in ("search", "get", "count"))),
        "writes_completed": len(done),
        "stored_bytes_per_write": (bytes1 - bytes0) / len(done) if done else 0.0,
        "versions": [versions0, versions1],
        "failures": failures,
        "wrong_answers": wrong[:10],
        "commit_conflicts_http500": conflicts,
        "zero_hit_failed": zero_hit,
    }
    layers = None
    if ctx.trace:
        from tracing import serve_layer_metrics

        layers = serve_layer_metrics(ctx.work, recs, e2e, record, ctx.conflict_rids)
    return {"attempted": len(all_lat), "failed": len(all_lat) - n_ok,
            "correct": not wrong, "e2e": e2e, "layers": layers, "record": record}


def check_final(port: int, model: dict, n_entries: int, by_id: dict) -> tuple[bool, str]:
    """The catalog after the writer stopped: every id it touched reads back
    as the model says, and the total count adds up."""
    for eid, state in sorted(model.items()):
        req = wl.Request("get", "GET", f"{wl.BASE}/{eid}", "admin")
        status, body, _, _ = call(port, req, f"final-{eid}")
        if state is None:
            if status != 404:
                return False, f"final: deleted {eid} reads HTTP {status}"
            continue
        if status != 200:
            return False, f"final: {eid} reads HTTP {status}"
        got = json.loads(body)
        if {k: got.get(k) for k in state} != state:
            return False, f"final: {eid} differs from the writer's model"
    created = sum(1 for eid, s in model.items() if s is not None and eid not in by_id)
    req = wl.Request("count", "GET", f"{wl.BASE}/count", "admin")
    status, body, _, _ = call(port, req, "final-count")
    if status != 200 or json.loads(body) != n_entries + created:
        return False, f"final: count {body[:40]!r} != {n_entries + created}"
    return True, ""


def conflict_phase(port: int, ctx) -> int:
    """Two concurrent writers PUT new ids, outside the timed window; the
    number of HTTP 500 replies they get (commit conflicts)."""
    def stream(w: int):
        for k in range(4):
            org = wl.ORGS[k % 3]
            yield wl.Request("put", "PUT", f"{wl.BASE}/c{w}-{k}", "admin", body={
                "title": f"conflict probe {w} {k}", "category": wl.CATEGORIES[0],
                "dataSample": "id", "format": "csv", "recordCount": 1, "size": 1,
                "sourceUri": "http://probe.example.com/x",
                "targetUri": f"hdfs://namenode:8200/probe/{w}/{k}/000000_1",
                "isPublic": True, "orgUUID": org})

    recs = closed_loop(port, {f"c{w}": stream(w) for w in range(2)},
                       time.time() + 60, ctx.stop)
    ctx.conflict_rids = {r[1] for r in recs}
    return sum(1 for r in recs if r[3] == 500)


def zero_hit_phase(port: int, mix: wl.ReadMix, oracle: Oracle, history: WriterHistory,
                   wrong: list) -> int:
    """Each search for a term no entry has, once, outside the timed window;
    how many get no reply or an HTTP error (the known zero-hit HTTP 500).
    A reply that is there but differs from the oracle is a wrong answer."""
    failed = 0
    for k, req in enumerate(mix.zero_hit_requests()):
        rec = ("zero", f"zero-{k}", req) + call(port, req, f"zero-{k}")
        problem = check_read(rec, oracle, history)
        if problem and rec[3] == 200:
            wrong.append(f"zero-hit {req.path}: {problem}")
        failed += rec[3] != 200
    return failed


def run_batch(ctx) -> dict:
    data = os.path.join(ctx.work, "data")
    for k in range(BATCH_PASSES):
        wl.batch_tables(ctx.seed, k, ctx.scale.documents, os.path.join(data, f"pass{k}"))
    system = ctx.system = System("batch", ctx.work, ctx.trace, data=data,
                                 seconds=ctx.seconds)
    ready = system.wait_ready(120)
    result = system.finish(150)
    ctx.system = None
    runs = result["entries"]
    failed = [r for r in runs if r["error"] is not None]
    wrong = [f"pass {r['pass']} {r['name']}: {r['check']}" for r in runs
             if r["error"] is None and r["check"] != "ok"]
    # one operation is one pass over the entry list; it succeeds when every
    # entry in it ran and matched its oracle
    passes: dict[int, list] = {}
    for r in runs:
        passes.setdefault(r["pass"], []).append(r)
    walls = [rs[-1]["t1"] - rs[0]["t0"] for _, rs in sorted(passes.items())]
    good = [all(r["error"] is None and r["check"] == "ok" for r in rs)
            for _, rs in sorted(passes.items())]
    durations = [w if ok else math.inf for w, ok in zip(walls, good)]
    e2e = {
        "setup_s": ready["start_s"] + statistics.median(result["setup_reps_s"]),
        "op_p50_ms": pct(durations, 0.5) * 1e3,
        "op_p75_ms": pct(durations, 0.75) * 1e3,
        "throughput_ops": sum(good) / (runs[-1]["t1"] - runs[0]["t0"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    record = {
        "session_start_s": ready["start_s"],
        "input_setup_s": result["setup_reps_s"],
        "documents": ctx.scale.documents,
        "batch_wall_s": walls,
        "entries_s": [{r["name"]: r["t1"] - r["t0"] for r in rs}
                      for _, rs in sorted(passes.items())],
        "errors": {f"pass {r['pass']} {r['name']}": r["error"] for r in failed},
        "wrong_answers": wrong,
    }
    layers = None
    if ctx.trace:
        from tracing import batch_layer_metrics

        layers = batch_layer_metrics(ctx.work, runs, e2e)
    return {"attempted": len(runs), "failed": len(failed) + len(wrong),
            "correct": not wrong, "e2e": e2e, "layers": layers, "record": record}


WORKLOADS = {"serve_write": run_serve, "batch_corpus": run_batch}


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = args.trace
        self.scale = wl.SCALES[args.scale]
        self.work = work
        self.system: System | None = None
        self.stop = threading.Event()
        self.conflict_rids: set[str] = set()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _cpu_share(before: list[int], after: list[int]) -> dict:
    """Machine-wide CPU time split over the run: busy, idle and stolen by
    the hypervisor (other tenants)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total,
            "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=sorted(wl.SCALES), default="full",
                   help="input size; 'tiny' is the self-check's")
    args = p.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "data_catalog_spark"))):
        print("perfbench: data_catalog_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    _libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _abort)
    signal.alarm(DEADLINE_S)

    cpu_before = _cpu_times()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    ctx = Context(args, work)
    load_before = os.getloadavg()
    try:
        out = WORKLOADS[args.workload](ctx)
    except (Abort, Exception) as ex:
        ctx.stop.set()
        print(f"perfbench: {type(ex).__name__}: {ex}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        if ctx.system is not None:
            ctx.system.kill()
        left = reap_all(20)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
        if left:
            print(f"perfbench: processes left running: {left}", file=sys.stderr)
    if left:
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": NPROC, "SPARK_GRAFT_CPUS": str(NPROC),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "cpu_share": _cpu_share(cpu_before, _cpu_times()),
        **out["record"],
    }
    units = {"setup_s": "s", "op_p50_ms": "ms", "op_p75_ms": "ms",
             "throughput_ops": "1/s", "peak_rss_mb": "MB"}
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in out["e2e"].items()}
    print(json.dumps({"perfbench_record": record}, default=str))
    print(json.dumps({"correct": out["correct"], "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
