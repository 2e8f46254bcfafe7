"""Metric math for the benchmark: pure functions, unit-tested in
``perfbench/tests``, plus the /proc readers for process-tree CPU and memory.

Nothing here imports Spark, so the tests run without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


# ----------------------------------------------------------------- statistics

def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0]) if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def idle_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Time in [lo, hi] when no task was running: the scheduling floor."""
    return (hi - lo) - union_seconds(intervals, lo, hi)


def pass_peaks(samples: list[tuple[float, float]], passes: list[dict]) -> list[float]:
    """Highest sampled value within each pass's [start_epoch, end_epoch];
    a pass shorter than the sampling interval takes the nearest sample."""
    peaks = []
    for p in passes:
        inside = [v for t, v in samples if p["start_epoch"] <= t <= p["end_epoch"]]
        if not inside and samples:
            mid = (p["start_epoch"] + p["end_epoch"]) / 2
            inside = [min(samples, key=lambda s: abs(s[0] - mid))[1]]
        peaks.append(max(inside, default=0.0))
    return peaks


def error_rate(attempted: int, failed: int) -> float:
    return failed / attempted if attempted else 1.0


def check_answer(name: str, got: dict, expected: dict) -> str | None:
    """None when ``got`` matches the stored answer for ``name``, else a
    one-line reason. A missing expectation is a failure, not a pass."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no stored answer"
    if got != want:
        return f"{name}: got {got}, want {want}"
    return None


# ------------------------------------------------------------------ /proc

def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks Python workers
    from threads other than its main one)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing parenthesis.
    return data[data.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree_cpu_seconds(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree under ``root``, of its Python
    workers), counting reaped children through cutime/cstime. A Python
    worker is a ``pyspark.daemon`` process or one forked from it."""
    total = python = 0.0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (index 11-14 here).
        sec = sum(int(x) for x in f[11:15]) / CLK_TCK
        total += sec
        if "pyspark.daemon" in _cmdline(pid):
            python += sec
    return total, python


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the tree: each shared page is split
    between the processes that map it, so a child forked from the JVM does
    not count the JVM's pages a second time."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return sum(vals), vals[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return (after[1] - before[1]) / dt if dt > 0 else 0.0


# -------------------------------------------------------------- event log

GROUP_PREFIX = "perfbench"


def job_group(pass_no: int, phase: str, op: str) -> str:
    return f"{GROUP_PREFIX}|{pass_no}|{phase}|{op}"


def parse_group(group: str | None) -> tuple[int, str, str] | None:
    if not group or not group.startswith(GROUP_PREFIX + "|"):
        return None
    _, pass_no, phase, op = group.split("|", 3)
    return int(pass_no), phase, op


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


def _metric_id(node: dict, name: str) -> int | None:
    for m in node.get("metrics", []):
        if m.get("name") == name:
            return m.get("accumulatorId")
    return None


def summarize_event_log(events: list[dict]) -> dict:
    """Aggregate a Spark event log by the benchmark's job groups.

    Returns {"passes": {pass_no: {...}}, "ops": {(pass_no, op): {...}},
    "tasks": [(pass_no, launch_s, finish_s)]} where each bucket holds
    job/stage/task counts, executor times, I/O and shuffle bytes, and the
    lines read by text scans (from the SQL plans' row metrics). Stages are
    attributed through the job group in their submission properties, SQL
    executions through their jobs.
    """
    stage_group: dict[int, tuple[int, str, str]] = {}
    exec_group: dict[int, tuple[int, str, str]] = {}
    acc_value: dict[int, float] = {}
    plans: dict[int, dict] = {}
    passes: dict[int, dict] = {}
    ops: dict[tuple[int, str], dict] = {}
    tasks: list[tuple[int, float, float]] = []

    def bucket(g, key):
        p = passes.setdefault(g[0], {})
        o = ops.setdefault((g[0], g[2]), {})
        for b in (p, o):
            b.setdefault(key, 0.0)
        return p, o

    def add(g, key, v):
        for b in bucket(g, key):
            b[key] += v

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = parse_group((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if g is None:
                continue
            add(g, "jobs", 1)
            if g[1] == "build":
                # spark.read.parquet runs a footer-reading job to infer the
                # schema; count those apart from eager plan-time work.
                names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
                schema = names and all(n.startswith("parquet at ") for n in names)
                add(g, "schema_jobs" if schema else "build_jobs", 1)
            ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if ex is not None:
                exec_group.setdefault(int(ex), g)
        elif kind == "SparkListenerStageSubmitted":
            g = parse_group((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                add(g, "stages", 1)
        elif kind == "SparkListenerStageCompleted":
            for acc in ev["Stage Info"].get("Accumulables", []):
                aid = acc.get("ID")
                acc_value[aid] = max(acc_value.get(aid, 0.0), _num(acc.get("Value")))
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            tasks.append((g[0], info.get("Launch Time", 0) / 1e3, info.get("Finish Time", 0) / 1e3))
            inp = m.get("Input Metrics", {})
            out = m.get("Output Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            add(g, "tasks", 1)
            add(g, "task_s", m.get("Executor Run Time", 0) / 1e3)
            add(g, "task_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
            add(g, "gc_s", m.get("JVM GC Time", 0) / 1e3)
            add(g, "scan_bytes", inp.get("Bytes Read", 0))
            add(g, "scan_rows", inp.get("Records Read", 0))
            add(g, "output_bytes", out.get("Bytes Written", 0))
            add(g, "output_rows", out.get("Records Written", 0))
            add(g, "shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
            add(g, "shuffle_read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            add(g, "spill_bytes", m.get("Disk Bytes Spilled", 0))
            peak = m.get("Peak Execution Memory", 0)
            for b in bucket(g, "peak_exec_mem"):
                b["peak_exec_mem"] = max(b["peak_exec_mem"], peak)
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            # The adaptive update carries the re-planned tree; keep the last.
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
            for aid, v in ev.get("accumUpdates", []):
                acc_value[aid] = acc_value.get(aid, 0.0) + _num(v)

    # A cached plan reappears, accumulators and all, inside every plan that
    # reads the cache, so each scan accumulator counts once per pass.
    counted: set[tuple[int, int]] = set()
    for ex, plan in plans.items():
        g = exec_group.get(ex)
        if g is None:
            continue
        for node in _walk_plan(plan):
            if node.get("nodeName", "").startswith("Scan text"):
                acc = _metric_id(node, "number of output rows")
                if (g[0], acc) not in counted:
                    counted.add((g[0], acc))
                    add(g, "text_lines", acc_value.get(acc, 0.0))
    return {"passes": passes, "ops": ops, "tasks": tasks}
