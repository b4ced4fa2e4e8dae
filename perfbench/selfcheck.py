"""Self-check of the benchmark on tiny inputs (a 300-entry catalog,
120-document corpora), a few minutes in all:

- serve_write runs untraced and traced, batch_corpus traced; each must
  print a result line with ``correct`` true and exactly the metric names
  BENCHMARK.json declares;
- each batch entry's registered function lives in the module its metric
  names claim;
- a run stopped by SIGTERM exits non-zero without a result;
- a directory holding only BENCHMARK.json and the benchmark files makes the
  benchmark exit non-zero without a result;
- after every one of these, no process the benchmark started is alive.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def bench(args: list[str], cwd: str = ROOT, term_after: float | None = None):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True)
    if term_after is not None:
        time.sleep(term_after)
        proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=200)
    left = run.reap_all(10)
    if left:
        raise AssertionError(f"{args}: processes left running: {left}")
    lines = out.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return proc.returncode, last


def main() -> int:
    run._libc.prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}

    sys.path.insert(0, ROOT)
    import __spark_entry__

    queries = __spark_entry__.queries()
    for module, name in workloads.BATCH_ENTRIES:
        got = queries[name].__module__
        assert got == f"data_catalog_spark.{module}", f"{name} lives in {got}"
    print("ok   batch entry modules")

    for workload, trace in (("serve_write", 0), ("serve_write", 1), ("batch_corpus", 1)):
        t0 = time.time()
        rc, res = bench(["--workload", workload, "--seed", "7", "--seconds", "5",
                         "--trace", str(trace), "--scale", "tiny"])
        assert rc == 0 and res is not None, f"{workload}: exit {rc}, result {res}"
        assert res["correct"] is True, f"{workload}: {res}"
        want = layers if trace else e2e
        assert set(res["metrics"]) == want, f"{workload}: {set(res['metrics']) ^ want}"
        print(f"ok   {workload} trace={trace}: {res['attempted']} attempted, "
              f"{res['failed']} failed, {time.time() - t0:.0f} s")

    rc, res = bench(["--workload", "serve_write", "--seed", "7", "--seconds", "30",
                     "--scale", "tiny"], term_after=25)
    assert rc != 0 and res is None, f"SIGTERM: exit {rc}, result {res}"
    print("ok   SIGTERM mid-run: no result, nothing left running")

    bare = tempfile.mkdtemp(prefix="bare-", dir=ROOT)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = bench(["--workload", "serve_write", "--seed", "1", "--seconds", "5"],
                        cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert rc != 0 and res is None, f"bare directory: exit {rc}, result {res}"
    print("ok   bare directory: exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
