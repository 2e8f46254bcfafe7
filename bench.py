#!/usr/bin/env python3
"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    metric, value (sum of the 21 headline minima, sec), unit, queries,
    sf, cpus_effective, master, shuffle_partitions, headline_set_version,
    extended_queries, extended_total, staged, steal_pct, codegen_compiles

Each query is materialized through the noop sink: every output column is
computed, with no write cost and no driver collect. Host noise is
recorded, not gated: ``steal_pct`` is the host CPU-steal share over the
timed sweeps (BASELINE.md, round 11 root cause), ``null`` off Linux.
``codegen_compiles`` counts the generated classes compiled during the
timed sweeps; near 0 means every sweep reused the classes the
warm-up compiled.
"""

from __future__ import annotations

import json
import os
import sys
import time

from data_eng_project_spark.plans import REGISTRY
from data_eng_project_spark.session import codegen_compiles, get_session

# Timed next to the headline set but totaled apart, so `value` stays the
# same 21-query series it has been since round 1 (headline set v2).
EXTENDED = (
    "dedup_ngram_jaccard_collapsed",
    "winsorize_length_bounds",
    "quantized_topk_agreement",
)


def time_queries(spark, sf_dir: str, specs, sweeps: int) -> dict[str, float]:
    """Run every spec ``sweeps`` times through the noop sink and return
    {name: min seconds}. Each sweep visits all specs in order, so a
    query's samples sit a full sweep apart and a transient slow window
    inflates at most one of them; the min discards interference, never
    work. The cache is cleared after each query so none feeds the next."""
    best: dict[str, float] = {}
    for _ in range(sweeps):
        for spec in specs:
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 3)
            best[spec.name] = min(elapsed, best.get(spec.name, elapsed))
            spark.catalog.clearCache()
    return best


def _cpu_jiffies() -> tuple[int, int] | None:
    """(total, steal) jiffies of the aggregate cpu line, None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:9]]
        return sum(vals), vals[7]
    except (OSError, ValueError, IndexError):
        return None


def _ident(batches):
    yield from batches


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [spec for spec in REGISTRY.values() if spec.headline]
    extended = [REGISTRY[n] for n in EXTENDED]
    specs = [*headline, *extended]

    # Fork the whole Python/Arrow worker pool once: the first pandas-UDF
    # stage of a session pays seconds of one-time process startup that
    # would otherwise land on whichever query runs first.
    (
        spark.range(0, 10_000, 1, spark.sparkContext.defaultParallelism)
        .mapInPandas(_ident, schema="id long")
        .write.format("noop").mode("overwrite").save()
    )
    # One untimed sweep primes the page cache and compiles each plan's
    # whole-stage-codegen classes; cold single shots vary up to 4x
    # (BASELINE.md). The timed sweeps reuse those classes only because
    # get_session's codegen cache holds a sweep's ~416 of them;
    # codegen_compiles below shows whether they did.
    time_queries(spark, sf_dir, specs, 1)

    j0 = _cpu_jiffies()
    c0 = codegen_compiles(spark)
    mins = time_queries(spark, sf_dir, specs, 3)
    compiles = codegen_compiles(spark) - c0
    j1 = _cpu_jiffies()
    steal_pct = None
    if j0 and j1 and j1[0] > j0[0]:
        steal_pct = round(100.0 * (j1[1] - j0[1]) / (j1[0] - j0[0]), 2)
    times = {s.name: mins[s.name] for s in headline}
    extra_times = {s.name: mins[s.name] for s in extended}

    # Staged pair-graph group: cold build plus the five consumers reading
    # the stage, reported outside `value`.
    from data_eng_project_spark.pipelines import staging

    staged_times = staging.timed_staged_run(spark, sf_dir)

    # The width the session really ran at, read back from the live context.
    try:
        shuffle_parts: int | str = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf_val,
                "cpus_effective": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "shuffle_partitions": shuffle_parts,
                "headline_set_version": 2,
                "extended_queries": extra_times,
                "extended_total": round(sum(extra_times.values()), 3),
                "staged": {
                    **staged_times,
                    "consumers": len(staging.STAGED_CONSUMERS),
                },
                "steal_pct": steal_pct,
                "codegen_compiles": compiles,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
