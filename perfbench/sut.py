"""The system under test, hosted in a process of its own.

``serve``: one Spark session (``session.get_spark``), a ``DatasetsCatalog``
over an empty table, ``DataCatalogService`` and ``DataCatalogApp`` behind
``http_api.make_server``.  Prints ``{"ready": port}`` and serves until its
stdin closes.

``batch``: one Spark session that runs the registered batch entries in
order, cold, in passes over fresh tables, then checks every output against
its oracle.

On exit either mode writes ``result.json`` (peak RSS of this process and its
JVM, timings, spans when traced) into its work directory.  Run by
``run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB."""
    me = os.getpid()
    total_kb = 0
    for pid in [str(me)] + _children(me):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _children(pid: int) -> list[str]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += f.read().split()
        except OSError:
            pass
    return out


def ready(msg: dict) -> None:
    """Tell the benchmark we are up; later prints go to stderr so nothing
    blocks on a stdout pipe nobody reads."""
    print(json.dumps(msg), flush=True)
    os.dup2(2, 1)


def serve(args, spark) -> dict:
    from data_catalog_spark.catalog import DatasetsCatalog
    from data_catalog_spark.http_api import DataCatalogApp, TokenVerifier, make_server
    from data_catalog_spark.service import DataCatalogService
    from workloads import SECRET

    cat = DatasetsCatalog(spark, os.path.join(args.work, "catalog"))
    app = DataCatalogApp(DataCatalogService(cat), TokenVerifier(SECRET, "HS256"))
    server = make_server(app)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    ready({"ready": server.server_address[1]})
    sys.stdin.read()  # the benchmark closes our stdin to stop us
    server.shutdown()
    server.server_close()
    return {}


def batch(args, spark) -> dict:
    """Passes over the entry list, each on its own documents table
    (``<data>/pass<k>``, so no memoized state carries over), until
    ``--seconds`` have passed since the first one started; then every
    output is checked against its oracle."""
    import duckdb

    import __spark_entry__ as entry
    from data_catalog_spark.session import load_tables
    from workloads import BATCH_ENTRIES, BATCH_TABLES

    queries = entry.queries()
    oracles = entry.oracle_sql()
    dirs = sorted(glob.glob(os.path.join(args.data, "pass*")),
                  key=lambda d: int(d.rsplit("pass", 1)[1]))
    ready({"ready": 0})
    setups = []
    for _ in range(3):
        t0 = time.perf_counter()
        load_tables(spark, dirs[0], BATCH_TABLES)
        setups.append(time.perf_counter() - t0)
    outputs = {}
    runs = []
    start = time.time()
    for k, data in enumerate(dirs):
        if k and time.time() - start >= args.seconds:
            break
        for _module, name in BATCH_ENTRIES:
            t0 = time.time()
            try:
                df = queries[name](spark, data)
                rows, cols = [tuple(r) for r in df.collect()], df.columns
                err = None
            except Exception as ex:  # a failed entry is reported, not fatal
                rows, cols, err = None, None, f"{type(ex).__name__}: {ex}"[:300]
            t1 = time.time()
            outputs[k, name] = (rows, cols)
            runs.append({"name": name, "pass": k, "t0": t0, "t1": t1, "error": err})
    rss = peak_rss_mb()
    con = duckdb.connect()
    for k in sorted({run["pass"] for run in runs}):
        for t in BATCH_TABLES:
            con.execute(f"CREATE VIEW {t}_{k} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(dirs[k], t + '.parquet')}')")

    def check(run):
        # each oracle on a cursor of its own that sees pass k's tables
        cur = con.cursor()
        for t in BATCH_TABLES:
            cur.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM {t}_{run['pass']}")
        rows, cols = outputs[run["pass"], run["name"]]
        run["check"] = check_output(cur, oracles.get(run["name"]), rows, cols)
        cur.close()

    with ThreadPoolExecutor(3) as pool:  # the oracles' queries overlap
        list(pool.map(check, [run for run in runs if run["error"] is None]))
    con.close()
    return {"setup_reps_s": setups, "entries": runs, "peak_rss_mb": rss}


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def check_output(con, oracle: str | None, rows, cols) -> str:
    """"ok", or what differs from the oracle.  An entry without an oracle
    (approximate operators) passes when it returned rows."""
    if oracle is None:
        return "ok" if rows else "no rows"
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
        return f"columns {cols} vs oracle {ocols}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows vs oracle {len(orows)}"
    if _canon(rows, cols) != _canon(orows, ocols):
        return "values differ from oracle"
    return "ok"


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["serve", "batch"])
    p.add_argument("--work", required=True)
    p.add_argument("--data")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=float, default=0.0)
    args = p.parse_args()

    from data_catalog_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.mode}")
    tracer = None
    if args.trace and args.mode == "serve":
        # batch entries are attributed by the time windows batch() records
        from tracing import install_serve_tracer

        tracer = install_serve_tracer(spark)
    try:
        out = serve(args, spark) if args.mode == "serve" else batch(args, spark)
        out.setdefault("peak_rss_mb", peak_rss_mb())
        if tracer is not None:
            tracer.dump(os.path.join(args.work, "spans.json"))
        with open(os.path.join(args.work, "result.json"), "w") as f:
            json.dump(out, f)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
