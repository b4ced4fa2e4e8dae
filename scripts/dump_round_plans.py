"""Dump .explain('formatted') for named bench entries to plans/<round>/.

Usage: python scripts/dump_round_plans.py <round> <before|after> name1 name2 ...
       python scripts/dump_round_plans.py <round> <before|after> --slowest=35
<round> names the output dir (e.g. r12 → plans/r12/); the files are the
plan evidence of that round's OPTIMIZATION_<round>.md.  sf dir:
$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    round_name, suffix = sys.argv[1], sys.argv[2]
    assert suffix in ("before", "after"), "second arg must be before|after"
    names: list[str] = []
    slowest = 0
    for a in sys.argv[3:]:
        if a.startswith("--slowest="):
            slowest = int(a.split("=", 1)[1])
        else:
            names.append(a)

    import __spark_entry__ as e
    from data_catalog_spark.session import get_spark

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(here, "plans", round_name)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name=f"plans-{round_name}-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    if slowest:
        with open(os.path.join(here, "BENCH_RUNS.json")) as fh:
            runs = json.load(fh)["runs"]
        best = {k: min(v) for k, v in runs.items() if k in qs}
        names += [
            k
            for k, _ in sorted(best.items(), key=lambda kv: -kv[1])[:slowest]
            if k not in names
        ]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    for name in names:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted'), sf_dir={sf_dir}\n")
            f.write(buf.getvalue().rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
