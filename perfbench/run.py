#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The query workloads read the engine's
sf0.1 test tables, kept in ``perfbench/testdata/sf0.1``; ``reference_etl``
generates its inputs from ``--seed`` under ``.bench_build/perfbench``.
Then one fresh worker process runs one closed-loop client on
``local[nproc]``.

Prints the metrics by name and unit, the run context and any failed
answer, then as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). ``--trace 1`` runs an
untraced worker and then a traced one of the same shape, and reports
traced minus untraced ``pass_s`` as the tracing overhead. Exits non-zero
if any answer is wrong or the engine is missing. ``--record`` rewrites
``expected.json`` from the current engine's answers instead of measuring.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("relational", "text_dedup", "staged_graph", "reference_etl")
ETL_LINES_PER_BATCH = 100_000
# Workers are killed once a run has taken this long.
DEADLINE_S = 170
EXPECTED = os.path.join(HERE, "expected.json")
TABLES = os.path.join(HERE, "testdata", "sf0.1")
ENGINE = os.path.join(ROOT, "data_eng_project_spark", "__init__.py")


def child_env(work: str, trace: int) -> dict:
    """Environment for the worker: every scratch path inside ``work``, and
    with ``trace`` the Spark event log on from launch."""
    tmp = _subdir(work, "tmp")
    confs = [f"spark.sql.warehouse.dir=file://{_subdir(work, 'warehouse')}"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{_subdir(work, 'eventlog')}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=_subdir(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in confs) + " pyspark-shell",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def _subdir(work: str, name: str) -> str:
    path = os.path.join(work, name)
    os.makedirs(path, exist_ok=True)
    return path


def table_sizes(tables_dir: str) -> dict:
    import pyarrow.parquet as pq

    return {
        name[: -len(".parquet")]: {
            "rows": pq.ParquetFile(os.path.join(tables_dir, name)).metadata.num_rows,
            "bytes": os.path.getsize(os.path.join(tables_dir, name)),
        }
        for name in sorted(os.listdir(tables_dir))
    }


def prepare_inputs(workload: str, seed: int, run_dir: str) -> dict:
    inputs = {"tables_dir": TABLES, "sizes": {}}
    with open(EXPECTED) as f:
        inputs["expected"] = json.load(f)
    if workload == "reference_etl":
        ref = gen.make_reference_inputs(os.path.join(run_dir, "reference"), seed, ETL_LINES_PER_BATCH)
        inputs["reference"] = ref
        inputs["sizes"] = {k: {"rows": r, "bytes": b} for k, (r, b) in ref["sizes"].items()}
    else:
        inputs["sizes"] = table_sizes(TABLES)
    return inputs


def run_worker(args, inputs: dict, trace: int, deadline: float, run_dir: str) -> dict | None:
    """One worker process in a fresh ``run_dir/worker``; its result, or
    None if it failed or ran past ``deadline`` (a ``time.monotonic()``
    value)."""
    work = os.path.join(run_dir, "worker")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs_path = os.path.join(work, "inputs.json")
    with open(inputs_path, "w") as f:
        json.dump(inputs, f)
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--work", work, "--inputs", inputs_path, "--out", out,
    ]
    if args.record:
        cmd += ["--record", os.path.join(work, "answers.json")]
    proc = subprocess.Popen(cmd, cwd=work, env=child_env(work, trace), start_new_session=True,
                            stdout=sys.stderr)
    rc = None
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        # The worker's JVM and Python workers share its process group.
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0:
        print(f"worker failed (exit {rc})", file=sys.stderr)
        return None
    if args.record:
        with open(os.path.join(work, "answers.json")) as f:
            answers = json.load(f)
        with open(EXPECTED) as f:
            stored = json.load(f)
        stored.update(answers)
        with open(EXPECTED, "w") as f:
            json.dump(stored, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {len(answers)} answers into {EXPECTED}", file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def traced_run(args, inputs: dict, deadline: float, run_dir: str) -> dict | None:
    """An untraced worker, then a traced one of the same shape: the traced
    result, with ``tracing.overhead_s`` (traced minus untraced ``pass_s``)
    and both workers' answers counted."""
    base = run_worker(args, inputs, 0, deadline, run_dir)
    if base is None:
        return None
    result = run_worker(args, inputs, 1, deadline, run_dir)
    if result is None:
        return None

    def pass_s(r):
        return M.median([p["wall_s"] for p in r["passes"]])

    result["metrics"]["tracing.overhead_s"] = {"value": pass_s(result) - pass_s(base), "unit": "s"}
    result["untraced"] = {k: base[k] for k in ("passes", "context", "metrics")}
    for key in ("attempted", "failed", "failures"):
        result[key] = base[key] + result[key]
    result["correct"] = base["correct"] and result["correct"]
    result["error_rate"] = M.error_rate(result["attempted"], result["failed"])
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    # A terminated run still stops its worker (run_worker's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(ENGINE) or not os.path.isdir(TABLES):
        print(f"engine package or test tables not found next to {HERE}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    # Each run has its own directory, so runs in one checkout do not collide.
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        inputs = prepare_inputs(args.workload, args.seed, run_dir)
        if args.trace and not args.record:
            result = traced_run(args, inputs, deadline, run_dir)
        else:
            result = run_worker(args, inputs, args.trace, deadline, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        return 0 if args.record else 1

    ctx = result["context"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"passes {ctx['timed_passes']}  master {ctx['master']}  "
          f"shuffle partitions {ctx['shuffle_partitions']}  steal {ctx['host_steal_share']:.3f}")
    for name, m in {**result["metrics"], **result["per_op"]}.items():
        print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'error_rate':34s} {result['error_rate']:14.4f} ratio")
    for line in result["failures"]:
        print(f"  FAILED {line}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    artifact = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(artifact, "w") as f:
        json.dump(result, f, indent=1)
    print(f"  artifact {os.path.relpath(artifact, ROOT)}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
