"""Span recording around the layers' public functions, and the Spark event
log reader that turns a traced run into per-layer numbers.

``Tracer`` runs inside the served (or batch) process: it replaces public
functions of the layer modules with wrappers that record one span per call
(name, start, end, parent span, request id).  Spans stay in memory and are
written once, at exit.  ``EventLog`` runs in the benchmark process after the
system has stopped: job and task counts come from the Spark event log, never
from job groups, because streaming micro-batches run on threads of their own.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time

# span tuple fields
NAME, T0, T1, PARENT, RID, ERR, EXTRA = range(7)

REQ_HEADER = "X-Perfbench-Req"
REQ_PROPERTY = "perfbench.req"


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper.  ``before``
        runs first and may return a request id; ``after(result)`` returns an
        extra value stored with the span and is not timed."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            local = tracer._local
            stack = tracer._stack()
            if before is not None:
                local.rid = before(*args, **kwargs)
            span = [name, time.time(), None, stack[-1] if stack else None,
                    getattr(local, "rid", None), None, None]
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            try:
                out = fn(*args, **kwargs)
            except BaseException as ex:
                span[ERR] = type(ex).__name__
                raise
            finally:
                span[T1] = time.time()
                stack.pop()
                if before is not None:
                    local.rid = None
            if after is not None:
                span[EXTRA] = after(out)
            return out

        setattr(owner, attr, wrapper)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_serve_tracer(spark) -> Tracer:
    """Wrap every layer the served request path crosses."""
    from data_catalog_spark import auth, catalog, http_api, schema, search, service

    tr = Tracer()
    sc = spark.sparkContext

    def start_request(app, method, path, query, headers, body):
        rid = headers.get(REQ_HEADER)
        sc.setLocalProperty(REQ_PROPERTY, rid)
        return rid

    tr.wrap(http_api.DataCatalogApp, "handle", "http_api.handle", before=start_request)
    tr.wrap(http_api.TokenVerifier, "__call__", "auth.verify_token")
    tr.wrap(auth, "resolve_request_scope", "auth.resolve_request_scope")
    for m in ("search", "get_entry", "count", "put_entry", "post_entry", "delete_entry",
              "admin_bulk_load"):
        tr.wrap(service.DataCatalogService, m, f"service.{m}")
    tr.wrap(service, "compile_query", "query.compile")
    tr.wrap(search, "search", "search.search")
    tr.wrap(search, "hits", "search.hits")
    tr.wrap(search, "facets_and_total", "search.facets_and_total")
    tr.wrap(catalog.DatasetsCatalog, "df", "catalog.df",
            after=lambda df: len(df.inputFiles()))
    for m in ("get", "upsert", "partial_update", "delete"):
        tr.wrap(catalog.DatasetsCatalog, m, f"catalog.{m}")
    validate = tr.wrap(schema, "validate_entry", "schema.validate_entry")
    # modules that imported the name directly call it through their own global
    service.validate_entry = validate
    catalog.validate_entry = validate
    return tr


# -- analysis -------------------------------------------------------------------


def load_spans(path: str) -> list[list]:
    with open(path) as f:
        return json.load(f)


def self_times(spans: list[list]) -> list[float]:
    """Span duration minus the time its direct children cover (seconds)."""
    child: list[float] = [0.0] * len(spans)
    for s in spans:
        if s[PARENT] is not None and s[T1] is not None:
            child[s[PARENT]] += s[T1] - s[T0]
    return [
        (s[T1] - s[T0]) - child[i] if s[T1] is not None else 0.0
        for i, s in enumerate(spans)
    ]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class EventLog:
    """Jobs, stages and tasks of one Spark application's event log; times in
    epoch seconds."""

    def __init__(self, log_dir: str):
        # plain single-file logs, or the rolling layout's
        # eventlog_v2_<app>/events_<n>_<app> parts (in part order)
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        files += sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not files:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except ValueError:
                        continue  # a torn last line of an unfinished log
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        props = ev.get("Properties") or {}
                        self.jobs[jid] = {
                            "start": ev["Submission Time"] / 1e3,
                            "end": None,
                            "req": props.get(REQ_PROPERTY),
                            "stages": list(ev.get("Stage IDs", [])),
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, jid)
                    elif kind == "SparkListenerJobEnd":
                        if ev["Job ID"] in self.jobs:
                            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        st = self._stage(info["Stage ID"])
                        if info.get("Submission Time") is not None:
                            st["submit"] = info["Submission Time"] / 1e3
                    elif kind == "SparkListenerTaskEnd":
                        st = self._stage(ev["Stage ID"])
                        ti = ev.get("Task Info") or {}
                        tm = ev.get("Task Metrics") or {}
                        launch = ti.get("Launch Time", 0) / 1e3
                        st["tasks"] += 1
                        st["busy"] += max(0.0, ti.get("Finish Time", 0) / 1e3 - launch)
                        if st["first_launch"] is None or launch < st["first_launch"]:
                            st["first_launch"] = launch
                        rd = tm.get("Shuffle Read Metrics") or {}
                        wr = tm.get("Shuffle Write Metrics") or {}
                        st["shuffle_bytes"] += (
                            rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0)
                            + wr.get("Shuffle Bytes Written", 0)
                        )
        for sid, st in self.stages.items():
            st["job"] = stage_job.get(sid)
        for j in self.jobs.values():
            if j["end"] is None:
                j["end"] = j["start"]

    def _stage(self, sid: int) -> dict:
        if sid not in self.stages:
            self.stages[sid] = {"submit": None, "first_launch": None, "tasks": 0,
                                "busy": 0.0, "shuffle_bytes": 0}
        return self.stages[sid]

    def job_stages(self, jids: set[int]) -> list[dict]:
        return [st for st in self.stages.values() if st.get("job") in jids]

    def stage_waits(self, t0: float, t1: float) -> list[float]:
        """Stage submit → first task launch, for stages submitted in [t0, t1]."""
        return [
            st["first_launch"] - st["submit"]
            for st in self.stages.values()
            if st["submit"] is not None and st["first_launch"] is not None
            and t0 <= st["submit"] <= t1
        ]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- per-layer metrics ----------------------------------------------------------

ROUTES = ("search", "get", "count", "write")

SERVE_LAYERS = [
    ("catalog.df_ms", "ms"), ("catalog.files_per_read", "count"),
    ("catalog.versions", "count"), ("catalog.upsert_ms", "ms"),
    ("catalog.partial_update_ms", "ms"), ("catalog.delete_ms", "ms"),
    ("catalog.commit_conflicts", "count"), ("catalog.stored_bytes_per_write", "bytes"),
    ("schema.validate_entry_ms", "ms"),
    ("search.hits_plan_ms", "ms"), ("search.hits_exec_ms", "ms"),
    ("search.facets_and_total_ms", "ms"), ("search.zero_hit_failed", "count"),
    ("session.jobs_per_search", "count"), ("session.jobs_per_get", "count"),
    ("session.jobs_per_count", "count"), ("session.jobs_per_write", "count"),
    ("session.tasks_per_search", "count"), ("session.tasks_per_write", "count"),
    ("session.task_busy_ms_per_search", "ms"), ("session.driver_gap_ms_per_search", "ms"),
    ("service.search_ms", "ms"), ("service.get_entry_ms", "ms"), ("service.count_ms", "ms"),
    ("service.put_entry_ms", "ms"), ("service.post_entry_ms", "ms"),
    ("service.delete_entry_ms", "ms"), ("query.compile_ms", "ms"), ("auth.resolve_ms", "ms"),
    ("http_api.handle_ms.search", "ms"), ("http_api.handle_ms.get", "ms"),
    ("http_api.handle_ms.count", "ms"), ("http_api.handle_ms.write", "ms"),
    ("http_api.transport_ms", "ms"),
]
COMMON_LAYERS = [
    ("session.stage_wait_ms", "ms"),
    ("trace.op_p50_ms", "ms"), ("trace.throughput_ops", "1/s"),
]
ENTRY_LAYERS = [("s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("driver_gap_s", "s"), ("shuffle_mb", "MB")]
HIGHER_IS_BETTER = {"trace.throughput_ops"}


def entry_layers() -> list[tuple[str, str]]:
    from workloads import BATCH_ENTRIES

    return [(f"{module}.{name}.{suffix}", unit)
            for module, name in BATCH_ENTRIES for suffix, unit in ENTRY_LAYERS]


def all_layers() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, whatever the workload; a
    layer the workload does not exercise reads 0."""
    return SERVE_LAYERS + COMMON_LAYERS + entry_layers()


def _complete(values: dict) -> dict:
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in all_layers()}


def _route(kind: str) -> str:
    return kind if kind in ("search", "get", "count") else "write"


def serve_layer_metrics(work: str, recs: list, e2e: dict, record: dict,
                        conflict_rids: set) -> dict:
    spans = load_spans(os.path.join(work, "spans.json"))
    own = self_times(spans)
    ev = EventLog(os.path.join(work, "eventlog"))
    route = {r[1]: _route(r[2].kind) for r in recs}
    client_s = {r[1]: r[6] - r[5] for r in recs}
    t0, t1 = min(r[5] for r in recs), max(r[6] for r in recs)

    by_name: dict[str, list[int]] = {}
    handle: dict[str, int] = {}
    for i, s in enumerate(spans):
        if s[RID] in route and s[T1] is not None:
            by_name.setdefault(s[NAME], []).append(i)
            if s[NAME] == "http_api.handle":
                handle[s[RID]] = i

    def dur_ms(name, pred=lambda s: True):
        return mean((spans[i][T1] - spans[i][T0]) * 1e3
                    for i in by_name.get(name, []) if pred(spans[i]))

    def self_ms(name, pred=lambda s: True):
        return mean(own[i] * 1e3 for i in by_name.get(name, []) if pred(spans[i]))

    def reads(s):
        return route[s[RID]] != "write"

    out = {
        "catalog.df_ms": dur_ms("catalog.df", reads),
        "catalog.files_per_read": mean(spans[i][EXTRA] for i in by_name.get("catalog.df", [])
                                       if reads(spans[i]) and spans[i][EXTRA] is not None),
        "catalog.versions": record["versions"][1],
        "catalog.stored_bytes_per_write": record["stored_bytes_per_write"],
        "catalog.commit_conflicts": sum(
            1 for s in spans if s[ERR] == "CommitConflictError"
            and s[NAME].startswith("service.") and (s[RID] in route or s[RID] in conflict_rids)),
        "schema.validate_entry_ms": dur_ms("schema.validate_entry"),
        "search.hits_plan_ms": dur_ms("search.hits"),
        "search.hits_exec_ms": self_ms("search.search"),
        "search.facets_and_total_ms": dur_ms("search.facets_and_total"),
        "search.zero_hit_failed": record["zero_hit_failed"],
        "query.compile_ms": dur_ms("query.compile"),
        "auth.resolve_ms": sum(
            (spans[i][T1] - spans[i][T0]) * 1e3
            for n in ("auth.verify_token", "auth.resolve_request_scope")
            for i in by_name.get(n, [])) / max(1, len(handle)),
        "http_api.transport_ms": mean(
            (client_s[rid] - (spans[i][T1] - spans[i][T0])) * 1e3 for rid, i in handle.items()),
    }
    for m in ("upsert", "partial_update", "delete"):
        out[f"catalog.{m}_ms"] = dur_ms(f"catalog.{m}")
    for m in ("search", "get_entry", "count", "put_entry", "post_entry", "delete_entry"):
        out[f"service.{m}_ms"] = self_ms(f"service.{m}")
    for r in ROUTES:
        out[f"http_api.handle_ms.{r}"] = self_ms("http_api.handle", lambda s, r=r: route[s[RID]] == r)

    jobs_of: dict[str, set[int]] = {}
    for jid, j in ev.jobs.items():
        if j["req"] in route:
            jobs_of.setdefault(j["req"], set()).add(jid)
    for r in ROUTES:
        rids = [rid for rid, k in route.items() if k == r]
        jids = set().union(*(jobs_of.get(rid, set()) for rid in rids)) if rids else set()
        stages = ev.job_stages(jids)
        n = max(1, len(rids))
        out[f"session.jobs_per_{r}"] = len(jids) / n
        if r in ("search", "write"):
            out[f"session.tasks_per_{r}"] = sum(st["tasks"] for st in stages) / n
        if r == "search":
            out["session.task_busy_ms_per_search"] = sum(st["busy"] for st in stages) * 1e3 / n
            gaps = []
            for rid in rids:
                if rid in handle:
                    s = spans[handle[rid]]
                    busy = union_length([
                        (max(s[T0], ev.jobs[j]["start"]), min(s[T1], ev.jobs[j]["end"]))
                        for j in jobs_of.get(rid, ()) if ev.jobs[j]["end"] > s[T0]])
                    gaps.append((s[T1] - s[T0] - busy) * 1e3)
            out["session.driver_gap_ms_per_search"] = mean(gaps)
    out["session.stage_wait_ms"] = mean(w * 1e3 for w in ev.stage_waits(t0, t1))
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]
    out["trace.throughput_ops"] = e2e["throughput_ops"]
    return _complete(out)


def batch_layer_metrics(work: str, runs: list, e2e: dict) -> dict:
    """Per entry, the mean over the passes of its wall time, and of the
    jobs, tasks, driver gap and shuffle volume in its time window."""
    from workloads import BATCH_ENTRIES

    ev = EventLog(os.path.join(work, "eventlog"))
    module = {name: m for m, name in BATCH_ENTRIES}
    per_entry: dict[str, list[dict]] = {}
    for run in runs:
        a, b = run["t0"], run["t1"]
        jids = {jid for jid, j in ev.jobs.items() if a <= j["start"] <= b}
        stages = ev.job_stages(jids)
        busy = union_length([(ev.jobs[j]["start"], min(b, ev.jobs[j]["end"])) for j in jids])
        per_entry.setdefault(f"{module[run['name']]}.{run['name']}", []).append({
            "s": b - a,
            "jobs": len(jids),
            "tasks": sum(st["tasks"] for st in stages),
            "driver_gap_s": (b - a) - busy,
            "shuffle_mb": sum(st["shuffle_bytes"] for st in stages) / 1e6,
        })
    out = {f"{prefix}.{k}": mean(v[k] for v in vals)
           for prefix, vals in per_entry.items() for k in vals[0]}
    out["session.stage_wait_ms"] = mean(
        w * 1e3 for w in ev.stage_waits(runs[0]["t0"], runs[-1]["t1"]))
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]
    out["trace.throughput_ops"] = e2e["throughput_ops"]
    return _complete(out)
