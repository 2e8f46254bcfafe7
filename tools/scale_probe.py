#!/usr/bin/env python3
"""Scale probe: replicate the sf0.1 tables N× (with key offsets so ids
stay unique and join fan-outs stay realistic) into a temp lake, then
time the headline queries there.

Usage: python tools/scale_probe.py [--dup-heavy] [N] [out_dir] [queries...]

This is the 10×-growth rehearsal for the 100 TB posture: a query whose
runtime grows super-linearly here has a shuffle or candidate-set problem
that a cluster will magnify, not hide.

--dup-heavy builds the OTHER corpus regime: replicas keep their ids
unique but the text is byte-identical across replicas, so every
document becomes an exact-duplicate class of size N. This is the lake
the collapsed dedup variants exist for — the perturbed default is the
all-distinct WORST case for collapsing (nothing collapses, pure
overhead), the dup-heavy lake is the case that blows plain
pair-generating dedup up quadratically (every class contributes
C(N,2) within-class pairs and N² cross-class pairs per true pair)
while the collapsed form stays bounded at one representative per
class. Default out_dir becomes /tmp/scale_probe_dup_xN.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENDED, time_queries  # noqa: E402
from data_eng_project_spark.plans import REGISTRY  # noqa: E402
from data_eng_project_spark.session import get_session  # noqa: E402
from data_eng_project_spark.tables import TABLE_NAMES, table_path  # noqa: E402

# key columns to offset per replica so replicated rows stay distinct
_OFFSETS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# text perturbation so replicated documents aren't byte-identical
# (disabled by --dup-heavy, which probes the exact-duplicate-class regime)
_PERTURB_TEXT = True


def build(spark, src_dir: str, out_dir: str, n: int) -> None:
    for name in TABLE_NAMES:
        src = table_path(src_dir, name)
        if not os.path.exists(src):
            continue
        df = spark.read.parquet(src)
        if name in _OFFSETS:
            parts = []
            for i in range(n):
                p = df
                for c in _OFFSETS[name]:
                    p = p.withColumn(c, F.col(c) + F.lit(i * 10_000_000))
                if name == "documents" and _PERTURB_TEXT and i > 0:
                    p = p.withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" replica {i}"))
                    )
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = df  # dimensions stay fixed — realistic star-schema growth
        out.write.mode("overwrite").parquet(table_path(out_dir, name))
        # count from the WRITTEN parquet (footer metadata) — counting
        # `out` would re-evaluate the whole N-way union a second time.
        n_rows = spark.read.parquet(table_path(out_dir, name)).count()
        print(f"built {name}: {n_rows} rows")
    # Completion marker, recording N: a build interrupted mid-way (or an
    # out_dir built for a different N) must trigger a rebuild, not be
    # silently reused — testing one table's existence could pass while
    # later tables are missing or every table holds the wrong replica
    # count.
    with open(os.path.join(out_dir, "_BUILD_COMPLETE"), "w") as f:
        f.write(str(n))


def _build_is_complete(out_dir: str, n: int) -> bool:
    marker = os.path.join(out_dir, "_BUILD_COMPLETE")
    try:
        with open(marker) as f:
            return int(f.read().strip()) == n
    except (OSError, ValueError):
        return False


def main() -> None:
    global _PERTURB_TEXT
    args = [a for a in sys.argv[1:] if a != "--dup-heavy"]
    dup_heavy = len(args) != len(sys.argv) - 1
    if dup_heavy:
        _PERTURB_TEXT = False
    n = int(args[0]) if args else 10
    default_dir = f"/tmp/scale_probe_{'dup_' if dup_heavy else ''}x{n}"
    out_dir = args[1] if len(args) > 1 else default_dir
    # Any further args: probe ONLY these registry queries (plus the
    # pseudo-query "staged", which times the cold pair-graph stage build
    # + the five warm consumers in a fresh stage dir) — used for the
    # targeted 30× probes of non-headline paths.
    only = args[2:] or None
    src_dir = "/root/testdata/sf0.1"
    spark = get_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    if not _build_is_complete(out_dir, n):
        build(spark, src_dir, out_dir, n)

    if only:
        specs = [REGISTRY[q] for q in only if q != "staged"]
        extended = []
    else:
        specs = [s for s in REGISTRY.values() if s.headline]
        extended = [REGISTRY[q] for q in EXTENDED]
    mins = time_queries(spark, out_dir, [*specs, *extended], 1)
    times = {s.name: mins[s.name] for s in specs}
    extra_times = {s.name: mins[s.name] for s in extended}
    if only and "staged" in only:
        from data_eng_project_spark.pipelines import staging

        staged = staging.timed_staged_run(spark, out_dir)
        times["staged_cold_build"] = staged["cold_build_sec"]
        times["staged_warm_consumers"] = staged["warm_consumers_sec"]
    out = {
        "total": round(sum(times.values()), 2),
        "n": n,
        "dup_heavy": dup_heavy,
        "queries": times,
    }
    if extra_times:
        out["extended_queries"] = extra_times
        out["extended_total"] = round(sum(extra_times.values()), 2)
    print(out)


if __name__ == "__main__":
    main()
