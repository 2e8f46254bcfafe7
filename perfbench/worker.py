"""One benchmark run in a fresh process: set-up, warm-up with answer
checks and timed closed-loop passes. With ``--trace 1`` every Spark job
is tagged with its pass, phase and op, spans are kept around every
public call, and the Spark event log (switched on by ``run.py``) gives
the per-layer metrics.

Started by ``run.py``, which prepares the inputs and the environment
(work directories, ``PYSPARK_SUBMIT_ARGS``) before the JVM exists.
Writes one JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import workloads as W  # noqa: E402


class MemorySampler(threading.Thread):
    """Summed PSS of this process tree, sampled every 0.2 s as
    (epoch seconds, MB)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float]] = []
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.samples.append((time.time(), M.tree_pss_mb(os.getpid())))
            self._halt.wait(0.2)

    def stop(self) -> list[tuple[float, float]]:
        self._halt.set()
        self.join()
        return self.samples


class Runner:
    def __init__(self, args, inputs: dict):
        self.args = args
        self.inputs = inputs
        self.work = args.work
        self.attempted = 0
        self.failures: list[str] = []
        self.spans: list[dict] = []
        self.trace = bool(args.trace)
        self.persisted_max = 0
        self.kept_rows = 0
        self.recorded: dict = {}
        self.spark = None

    # -------------------------------------------------------------- session
    def start_session(self, name: str) -> None:
        from data_eng_project_spark.session import get_session

        self.spark = get_session(name)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.ops = self.make_ops()

    def make_ops(self) -> list[W.Op]:
        wl, spark, tables = self.args.workload, self.spark, self.inputs["tables_dir"]
        if wl == "relational":
            return W.query_ops(spark, W.RELATIONAL, tables)
        if wl == "text_dedup":
            return W.query_ops(spark, W.TEXT_DEDUP, tables)
        if wl == "staged_graph":
            return W.staged_ops(spark, tables)
        return W.etl_ops(spark, self.inputs["reference"], lambda: self.pass_dir)

    def expected(self, verify: bool) -> dict:
        if self.args.workload == "reference_etl":
            exp = self.inputs["reference"]["expected"]
            return W.etl_expected(exp) if verify else W.etl_pass_expected(exp)
        return self.inputs["expected"]

    # --------------------------------------------------------------- passes
    def span(self, name: str, op: str, parent: str | None, start: float, end: float) -> None:
        self.spans.append(
            {"name": name, "op": op, "parent": parent, "start": start, "end": end,
             "pass": self.pass_no}
        )

    def run_pass(self, pass_no: int, verify: bool = False) -> dict:
        """One closed-loop pass: every op back to back, the next starting
        after the previous result is complete. ``verify`` runs each op's
        answer step instead of its plain run (the warm-up pass)."""
        self.pass_no = pass_no
        stage = W.reset_dir(os.path.join(self.work, "stage"))
        os.environ["SPARK_GRAFT_STAGE_DIR"] = stage
        self.pass_dir = W.reset_dir(os.path.join(self.work, "tables_out"))
        fixed = [op for op in self.ops if op.ordered]
        free = [op for op in self.ops if not op.ordered]
        random.Random(self.args.seed * 1000 + pass_no).shuffle(free)
        expected = self.expected(verify)
        sc = self.spark.sparkContext
        record = {"pass_no": pass_no, "ops": {}, "start_epoch": time.time(), "written": 0}
        cpu0, py0 = M.tree_cpu_seconds(os.getpid())
        t_pass = time.perf_counter()
        for op in fixed + free:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.trace:
                    sc.setJobGroup(M.job_group(pass_no, "build", op.name), op.name)
                built = op.build()
                t1 = time.perf_counter()
                if self.trace:
                    sc.setJobGroup(M.job_group(pass_no, "run", op.name), op.name)
                result = (op.answer if verify else op.run)(built)
                t2 = time.perf_counter()
                if isinstance(result, dict):
                    record["written"] += result.get("written", 0)
                    self.kept_rows += result.get("kept", 0)
                if verify or op.kind == "etl":
                    if self.args.record and verify and op.kind != "etl":
                        self.recorded[op.name] = result
                    else:
                        bad = M.check_answer(op.name, result, expected)
                        if bad:
                            self.failures.append(f"pass {pass_no}: {bad}")
            except Exception as exc:  # noqa: BLE001 — a failed op is a counted failure
                t1 = t2 = time.perf_counter()
                self.failures.append(f"pass {pass_no}: {op.name}: {type(exc).__name__}: {exc}"[:500])
            if self.trace:
                self.span(op.name, op.name, None, t0, t2)
                self.span("build", op.name, op.name, t0, t1)
                self.span("run", op.name, op.name, t1, t2)
                self.persisted_max = max(self.persisted_max, sc._jsc.getPersistentRDDs().size())
            self.spark.catalog.clearCache()
            record["ops"][op.name] = {"s": t2 - t0, "build_s": t1 - t0, "kind": op.kind}
        record["wall_s"] = time.perf_counter() - t_pass
        record["end_epoch"] = record["start_epoch"] + record["wall_s"]
        cpu1, py1 = M.tree_cpu_seconds(os.getpid())
        record["cpu_s"], record["python_cpu_s"] = cpu1 - cpu0, py1 - py0
        return record

    def probe_yields(self) -> dict:
        """{layer: (kept, candidates)} summed over the ops' verifying
        filters, counted once after the traced passes in its own job group
        (the ETL probe reads the last pass's tables)."""
        self.spark.sparkContext.setJobGroup("probe", "probe")
        totals: dict = {}
        for op in self.ops:
            if op.probe is None:
                continue
            try:
                for layer, (kept, cand) in W.filter_yields(self.spark, op.probe()).items():
                    k0, c0 = totals.get(layer, (0, 0))
                    totals[layer] = (k0 + kept, c0 + cand)
            except Exception as exc:  # noqa: BLE001 — reported as a failed answer
                self.failures.append(f"probe {op.name}: {type(exc).__name__}: {exc}"[:500])
        return totals

    def timed_passes(self, first_pass: int) -> list[dict]:
        """Whole passes until ``--seconds`` have gone by."""
        passes, t0 = [], time.perf_counter()
        while time.perf_counter() - t0 < self.args.seconds:
            passes.append(self.run_pass(first_pass + len(passes)))
        return passes


def end_to_end(passes: list[dict], setup_s: float,
               memory: list[tuple[float, float]]) -> tuple[dict, dict]:
    """The gated end-to-end metrics, and ``max_op_s``, which is reported
    but not gated: its spread between runs is about twice that of
    ``pass_s``. Memory is the median over passes of each pass's peak, so
    it does not grow with the number of passes that fit in a run."""
    gated = {
        "pass_s": (M.median([p["wall_s"] for p in passes]), "s"),
        "cpu_s": (M.median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (M.median(M.pass_peaks(memory, passes)), "MB"),
        "setup_s": (setup_s, "s"),
    }
    slowest = [max(o["s"] for o in p["ops"].values()) for p in passes]
    return gated, {"max_op_s": (M.median(slowest), "s")}


def per_layer(traced: list[dict], summary: dict, cores: int,
              kept_rows: int, persisted_max: int, yields: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the timed traced passes (medians over passes)
    and per-op seconds and Spark jobs."""
    rows = {k: [] for k in LAYER_UNITS}
    for p in traced:
        n = p["pass_no"]
        ev = summary["passes"].get(n, {})
        ops_ev = {op: v for (pn, op), v in summary["ops"].items() if pn == n}
        ops = p["ops"]

        def op_sum(kind, key, src=ops_ev):
            return sum(v.get(key, 0.0) for op, v in src.items() if ops.get(op, {}).get("kind") == kind)

        def ratio(a, b):
            return a / b if b else 0.0

        tasks = [(a, b) for pn, a, b in summary["tasks"] if pn == n]
        idle = M.idle_seconds(tasks, p["start_epoch"], p["end_epoch"])
        lines = ev.get("text_lines", 0.0)
        vals = {
            "plans.build_s": sum(o["build_s"] for o in ops.values() if o["kind"] == "query"),
            "plans.build_jobs": op_sum("query", "build_jobs"),
            "plans.schema_jobs": op_sum("query", "schema_jobs"),
            "session.jobs": ev.get("jobs", 0.0),
            "session.stages": ev.get("stages", 0.0),
            "session.tasks": ev.get("tasks", 0.0),
            "session.task_s": ev.get("task_s", 0.0),
            "session.task_cpu_s": ev.get("task_cpu_s", 0.0),
            "session.gc_s": ev.get("gc_s", 0.0),
            "session.idle_s": idle,
            "session.slot_busy_ratio": ratio(ev.get("task_s", 0.0), p["wall_s"] * cores),
            "session.persisted_rdds": float(persisted_max),
            "tables.scan_bytes": ev.get("scan_bytes", 0.0),
            "tables.scan_rows": ev.get("scan_rows", 0.0),
            "sources.lines_read": lines,
            "sources.rows_kept_ratio": ratio(kept_rows, lines),
            "operators.shuffle_write_bytes": ev.get("shuffle_write_bytes", 0.0),
            "operators.shuffle_read_bytes": ev.get("shuffle_read_bytes", 0.0),
            "operators.spill_bytes": ev.get("spill_bytes", 0.0),
            "operators.peak_exec_mem_mb": ev.get("peak_exec_mem", 0.0) / 2**20,
            "operators.python_cpu_s": p["python_cpu_s"],
            "spatial.pair_yield": ratio(*yields.get("spatial", (0, 0))),
            "dedup.pair_yield": ratio(*yields.get("dedup", (0, 0))),
            "sink.write_s": sum(o["s"] - o["build_s"] for o in ops.values() if o["kind"] == "etl"),
            "sink.rows_written": op_sum("etl", "output_rows"),
            "sink.rows_rejected": float(kept_rows - p["written"]) if kept_rows else 0.0,
            "sink.bytes_written": op_sum("etl", "output_bytes"),
            "staging.build_s": sum(o["s"] for o in ops.values() if o["kind"] == "staging"),
            "staging.consume_s": (
                sum(o["s"] for o in ops.values() if o["kind"] == "query")
                if any(o["kind"] == "staging" for o in ops.values()) else 0.0
            ),
            "staging.bytes_written": op_sum("staging", "output_bytes"),
        }
        for k, v in vals.items():
            rows[k].append(v)
    out = {k: (M.median(v), LAYER_UNITS[k]) for k, v in rows.items()}
    per_op = {}
    for name in traced[0]["ops"]:
        per_op[f"{name}.s"] = (M.median([p["ops"][name]["s"] for p in traced]), "s")
        per_op[f"{name}.jobs"] = (M.median(
            [summary["ops"].get((p["pass_no"], name), {}).get("jobs", 0.0) for p in traced]), "count")
    return out, per_op


LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.schema_jobs": "count",
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.task_s": "s", "session.task_cpu_s": "s", "session.gc_s": "s",
    "session.idle_s": "s", "session.slot_busy_ratio": "ratio",
    "session.persisted_rdds": "count",
    "tables.scan_bytes": "bytes", "tables.scan_rows": "count",
    "sources.lines_read": "count", "sources.rows_kept_ratio": "ratio",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.peak_exec_mem_mb": "MB",
    "operators.python_cpu_s": "s",
    "spatial.pair_yield": "ratio", "dedup.pair_yield": "ratio",
    "sink.write_s": "s", "sink.rows_written": "count", "sink.rows_rejected": "count",
    "sink.bytes_written": "bytes",
    "staging.build_s": "s", "staging.consume_s": "s", "staging.bytes_written": "bytes",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--record", default=None)
    args = ap.parse_args()
    with open(args.inputs) as f:
        inputs = json.load(f)

    jiffies0 = M.cpu_jiffies()
    r = Runner(args, inputs)
    t0 = time.perf_counter()
    r.start_session("perfbench")
    # Two untimed warm-up passes: the first checks every answer and starts
    # the Python worker pool in whichever op first needs it. The JIT is
    # still compiling after it: the next pass runs 15-20% slow, and taking
    # it into the timed median widened the spread between runs.
    r.run_pass(-1, verify=True)
    if not args.record:
        r.run_pass(0)
    setup_s = time.perf_counter() - t0
    if args.record:
        with open(args.record, "w") as f:
            json.dump(r.recorded, f, indent=1, sort_keys=True)
        return 0

    sampler = MemorySampler()
    sampler.start()
    passes = r.timed_passes(1)
    memory = sampler.stop()

    sc = r.spark.sparkContext
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "run_seconds": args.seconds,
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": r.spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", ""),
        "spark_version": r.spark.version,
        "inputs": inputs["sizes"],
        "timed_passes": len(passes),
    }
    result = {"passes": passes}
    if args.trace:
        yields = r.probe_yields()
        r.spark.stop()
        (log,) = glob.glob(os.path.join(args.work, "eventlog", "*"))
        summary = M.summarize_event_log(M.read_event_log(log))
        metrics, extra = per_layer(passes, summary, context["default_parallelism"],
                                   r.kept_rows, r.persisted_max, yields)
        result["spans"] = r.spans
    else:
        metrics, extra = end_to_end(passes, setup_s, memory)
        r.spark.stop()
    context["host_steal_share"] = M.steal_share(jiffies0, M.cpu_jiffies())
    result.update(
        correct=not r.failures,
        attempted=r.attempted,
        failed=len(r.failures),
        failures=r.failures,
        error_rate=M.error_rate(r.attempted, len(r.failures)),
        metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        per_op={k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
        context=context,
    )
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
