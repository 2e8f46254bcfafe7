#!/usr/bin/env python3
"""Capture query plans as before/after evidence for a plan change.

Writes plans/r<N>/<query>_<label>.txt. Usage:

    python tools/capture_plans.py --round 14 before [query ...]
    python tools/capture_plans.py --round 14 --executed after pagerank_dup_docs

With explicit query names those are captured (any registry query); with
none, the bench set is dumped (every headline query plus bench.EXTENDED). By
default the file holds ``explain("formatted")`` of the built plan;
``--executed`` instead runs the query and writes the final adaptive
plan, followed by the number of Spark jobs that building and running
it took. Reads the tables in $SPARK_GRAFT_SF_DIR (default: the sf0.1
copy under perfbench/testdata).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import EXTENDED  # noqa: E402
from data_eng_project_spark.plans import REGISTRY  # noqa: E402
from data_eng_project_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "testdata", "sf0.1")
)


def _job_count(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def capture(spark, name: str, executed: bool) -> str:
    if not executed:
        df = REGISTRY[name].fn(spark, SF_DIR)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return df._jdf.queryExecution().explainString(mode)
    sc = spark.sparkContext
    # Stage the query's shared inputs first, so the count below is the
    # query's own jobs, not the one-off cost of building its stages.
    REGISTRY[name].fn(spark, SF_DIR)
    group = f"capture-{name}"
    sc.setJobGroup(group, group)
    try:
        df = REGISTRY[name].fn(spark, SF_DIR)
        build_jobs = _job_count(sc, group)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()  # runs the adaptive plan to its final form
        total_jobs = _job_count(sc, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = qe.executedPlan().toString()
    return f"{plan}\n-- spark jobs: {build_jobs} to build, {total_jobs} to build and run\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--round", type=int, required=True, help="round number N: writes plans/rN/")
    ap.add_argument("--executed", action="store_true", help="run the query, dump the final plan")
    ap.add_argument("label", help="file suffix, e.g. before or after")
    ap.add_argument("queries", nargs="*", help="registry query names (default: bench set)")
    args = ap.parse_args()

    names = list(dict.fromkeys(args.queries))
    missing = [n for n in names if n not in REGISTRY]
    if missing:
        raise SystemExit(f"not in REGISTRY: {missing}")
    if not names:
        names = [n for n, s in REGISTRY.items() if s.headline] + list(EXTENDED)
    out_dir = os.path.join(ROOT, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(f"capture-plans-r{args.round}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        txt = capture(spark, name, args.executed)
        path = os.path.join(out_dir, f"{name}_{args.label}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
