#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py is FROZEN — this
file holds the extra instrumentation the optimization round needs).

Modes:
  python bench_extra.py queries [name ...]   time selected (default: headline)
      queries with the noop sink, N reps (SPARK_GRAFT_XREPS, default 3),
      print per-query seconds (all reps + min).
  python bench_extra.py plans [name ...]     write .explain("formatted")
      for the selected queries to plans/r06/<query>_<tag>.txt
      (tag = $SPARK_GRAFT_PLAN_TAG, default "before").
  python bench_extra.py pipeline             one pipeline rep with phase metrics.

Environment: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
$SPARK_GRAFT_CPUS (default 32) — same contract as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
XREPS = int(os.environ.get("SPARK_GRAFT_XREPS", "3"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _session():
    from auth2wd_spark.session import build_session

    spark = build_session(app_name=f"bench-extra-{CPUS}", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    import glob

    for p in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))):
        spark.read.parquet(p).count()


def _selected(args: list[str]) -> list[str]:
    import bench

    return args if args else list(bench.HEADLINE)


def cmd_queries(args: list[str]) -> None:
    import __spark_entry__ as entry_mod

    spark = _session()
    _warm(spark)
    qs = entry_mod.queries()
    out = {}
    for name in _selected(args):
        reps = []
        for _ in range(XREPS):
            spark.sparkContext.setJobDescription(f"x:{name}")
            t0 = time.perf_counter()
            _force(qs[name](spark, SF_DIR))
            reps.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"reps": reps, "min": min(reps)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary_min": {k: v["min"] for k, v in out.items()}}))


def cmd_plans(args: list[str]) -> None:
    import __spark_entry__ as entry_mod

    tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
    plan_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)
    spark = _session()
    qs = entry_mod.queries()
    for name in _selected(args):
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(plan_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}", flush=True)


def cmd_pipeline(_args: list[str]) -> None:
    import bench

    sf = bench._sf_from_dir(SF_DIR)
    spark = _session()
    for _ in range(int(os.environ.get("SPARK_GRAFT_PIPE_REPS", "2"))):
        rec = bench.run_pipeline_bench(spark, sf)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    rest = sys.argv[2:]
    {"queries": cmd_queries, "plans": cmd_plans, "pipeline": cmd_pipeline}[mode](rest)
