"""Unit tests of the benchmark's metric math; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import statistics

import pytest

import gen
import metrics as M
import workloads as W


def test_median_and_quartiles_match_statistics():
    values = [9.1, 8.4, 8.6, 12.0, 8.5, 8.7, 8.9, 8.2, 8.8, 9.0]
    q1, q2, q3 = M.quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert M.median(values) == q2 == pytest.approx(8.75)
    assert M.relative_spread(values) == pytest.approx((q3 - q1) / q2)
    assert M.quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert M.median([]) == 0.0


def test_memory_peak_is_taken_per_pass():
    passes = [{"start_epoch": 10.0, "end_epoch": 12.0}, {"start_epoch": 12.0, "end_epoch": 12.1}]
    samples = [(9.9, 900.0), (10.5, 500.0), (11.9, 700.0), (12.18, 650.0)]
    assert M.pass_peaks(samples, passes) == [700.0, 650.0]
    assert M.pass_peaks([], passes) == [0.0, 0.0]


def test_idle_is_pass_time_outside_the_union_of_task_intervals():
    tasks = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0), (-1.0, 0.5)]
    # Busy: [0, 0.5] and [9.5, 10] clipped, [1, 4] with its overlap
    # counted once, [6, 7].
    assert M.union_seconds(tasks, 0.0, 10.0) == pytest.approx(5.0)
    assert M.idle_seconds(tasks, 0.0, 10.0) == pytest.approx(5.0)
    assert M.idle_seconds([], 2.0, 5.0) == pytest.approx(3.0)
    assert M.idle_seconds([(0.0, 10.0)], 2.0, 5.0) == pytest.approx(0.0)


def _job(job, stages, group, names=("noop at x",), execution=None):
    props = {"spark.jobGroup.id": group}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {
        "Event": "SparkListenerJobStart", "Job ID": job, "Properties": props,
        "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in zip(stages, names)],
    }


def _stage(stage, group, accumulables=()):
    return [
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage}, "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage, "Accumulables": list(accumulables)}},
    ]


def _task(stage, launch_ms, finish_ms, run_ms, cpu_ns, read=0, shuffle_w=0, peak=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Peak Execution Memory": peak,
            "Input Metrics": {"Bytes Read": read, "Records Read": read // 10},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_w},
            "Disk Bytes Spilled": 0,
        },
    }


def test_canned_event_log_is_summarized_by_job_group(tmp_path):
    build = M.job_group(1, "build", "q1")
    run = M.job_group(1, "run", "q1")
    other = M.job_group(2, "run", "q2")
    plan = {
        "nodeName": "OverwriteByExpression", "simpleString": "", "metrics": [],
        "children": [{"nodeName": "Scan text ", "simpleString": "FileScan text",
                      "metrics": [{"name": "number of output rows", "accumulatorId": 77}],
                      "children": []}],
    }
    events = [
        {"Event": "SparkListenerLogStart"},
        # Schema inference while building q1, then one eager job.
        _job(0, [0], build, names=("parquet at <unknown>:0",)),
        *_stage(0, build),
        _task(0, 1_000, 1_100, 90, 50_000_000),
        _job(1, [1], build, names=("count at x",)),
        *_stage(1, build),
        _task(1, 1_200, 1_400, 180, 100_000_000),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4, "sparkPlanInfo": plan},
        _job(2, [2, 3], run, names=("noop at x", "noop at x"), execution=4),
        *_stage(2, run, [{"ID": 77, "Value": "600"}]),
        *_stage(3, run, [{"ID": 77, "Value": "1000"}]),
        _task(2, 1_500, 2_500, 900, 800_000_000, read=4_000, shuffle_w=300, peak=2**20),
        _task(3, 2_000, 3_000, 1_000, 900_000_000, peak=3 * 2**20),
        # A second execution reading a cache of the first repeats its plan.
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 5, "sparkPlanInfo": plan},
        _job(4, [], run, names=(), execution=5),
        _job(3, [4], other),
        *_stage(4, other),
        _task(4, 5_000, 5_500, 500, 400_000_000),
        # Jobs outside the benchmark's groups are ignored.
        _job(9, [9], "idle"),
    ]
    path = tmp_path / "eventlog"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    s = M.summarize_event_log(M.read_event_log(str(path)))

    p1 = s["passes"][1]
    assert p1["jobs"] == 4 and p1["stages"] == 4 and p1["tasks"] == 4
    assert p1["schema_jobs"] == 1 and p1["build_jobs"] == 1
    assert p1["task_s"] == pytest.approx(2.17)
    assert p1["task_cpu_s"] == pytest.approx(1.85)
    assert p1["gc_s"] == pytest.approx(0.02)
    assert p1["scan_bytes"] == 4_000 and p1["scan_rows"] == 400
    assert p1["shuffle_write_bytes"] == 300 and p1["shuffle_read_bytes"] == 300
    assert p1["peak_exec_mem"] == 3 * 2**20
    assert p1["text_lines"] == 1000  # the accumulator's final value, once
    assert s["ops"][(1, "q1")]["jobs"] == 4
    assert s["passes"][2]["jobs"] == 1 and s["ops"][(2, "q2")]["tasks"] == 1
    # Pass 1 over [1.0 s, 3.5 s]: busy 0.1 + 0.2 + 1.5 (two tasks overlap).
    busy = [(a, b) for n, a, b in s["tasks"] if n == 1]
    assert M.idle_seconds(busy, 1.0, 3.5) == pytest.approx(2.5 - 1.8)


def test_perturbed_answer_raises_error_rate():
    expected = {"q1": {"rows": 6, "hash": 6737769109}, "etl.near": {"near_counts": {"A": 3}}}
    answers = {"q1": {"rows": 6, "hash": 6737769109}, "etl.near": {"near_counts": {"A": 3}}}

    def rate(got):
        failed = sum(M.check_answer(k, v, expected) is not None for k, v in got.items())
        return M.error_rate(len(got), failed)

    assert rate(answers) == 0.0
    assert rate({**answers, "q1": {"rows": 6, "hash": 6737769110}}) == 0.5
    assert rate({**answers, "etl.near": {"near_counts": {"A": 4}}}) == 0.5
    assert M.check_answer("q9", {"rows": 0, "hash": 0}, expected) == "q9: no stored answer"


def test_reference_generator_answers_are_consistent(tmp_path):
    a = gen.make_reference_inputs(str(tmp_path / "a"), seed=5, lines_per_batch=400)
    b = gen.make_reference_inputs(str(tmp_path / "b"), seed=5, lines_per_batch=400)
    assert a["expected"] == b["expected"]
    assert (tmp_path / "a" / "deaths_1.txt").read_bytes() == (tmp_path / "b" / "deaths_1.txt").read_bytes()
    e = a["expected"]
    assert e["written"][0] == e["kept"][0]
    assert e["kept"][1] == e["written"][1] + e["rejected"]
    assert 0 < e["kept"][0] < 400
    lines = (tmp_path / "a" / "deaths_2.txt").read_text().splitlines()
    assert len(lines) == 400 and all(len(x) == 167 for x in lines)
    c = gen.make_reference_inputs(str(tmp_path / "c"), seed=6, lines_per_batch=400)
    assert c["expected"] != e


def test_yield_filters_match_the_verifying_predicates():
    spatial, dedup = W.YIELD_FILTERS["spatial"], W.YIELD_FILTERS["dedup"]
    assert spatial.search("(dist_km#29 <= 300.0)")
    assert dedup.search("(jaccard#259 >= 0.5)")
    assert not dedup.search("(n_jaccard_bucket#3 >= 2)")
    assert not spatial.search("(dist_km#29 > 300.0)")


def test_process_tree_readers_see_this_process():
    cpu, python = M.tree_cpu_seconds(os.getpid())
    assert cpu > 0 and python == 0
    assert 1 < M.tree_pss_mb(os.getpid()) < 4096
