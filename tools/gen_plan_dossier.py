#!/usr/bin/env python3
"""Generate PLANS.md: a physical-plan dossier for the headline queries.

For each query: exchange (shuffle) count, join node types, partial/final
aggregate count, whole-stage-codegen span count, whether pushed filters
reached a scan, TakeOrdered usage, and any Python eval nodes — the
properties `tests/test_plan_quality.py` asserts for a subset, made
visible for every headline query so plan regressions are reviewable in
a diff rather than only at test time.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_eng_project_spark.plans import REGISTRY  # noqa: E402
from data_eng_project_spark.session import get_session  # noqa: E402

SF = "/root/testdata/sf0.001"
JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
)


def _dedup_cached_subtrees(plan: str) -> str:
    """An InMemoryRelation's build plan prints again under EVERY
    InMemoryTableScan that consumes it, so naive substring counts see a
    cached subtree once per consumer while the cluster builds it once
    (r12: the fan-out caches made jaccard's printed 'shuffles' jump
    9 -> 16 with zero new runtime exchanges). Keep only the first
    printout of each distinct cached relation; the relation's header
    line (output attrs carry expr-ids) identifies it uniquely."""
    out, seen = [], set()
    skip_depth = None
    for line in plan.splitlines():
        body = line.lstrip(" :+-*(")
        depth = len(line) - len(body)
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if body.startswith("InMemoryRelation"):
            if body in seen:
                out.append(line.rstrip() + "  (repeat printout — subtree elided)")
                skip_depth = depth
                continue
            seen.add(body)
        out.append(line)
    return "\n".join(out)


def main() -> None:
    spark = get_session("plan-dossier")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE wraps the plan in AdaptiveSparkPlan and defers codegen until
    # stages execute — disable it here so the dossier shows the static
    # whole-stage-codegen spans (execution still runs with AQE on).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = []
    for name, spec in REGISTRY.items():
        if not spec.headline:
            continue
        try:
            df = spec.fn(spark, SF)  # the registry's prepare() re-enables AQE...
            spark.conf.set("spark.sql.adaptive.enabled", "false")  # ...undo
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = _dedup_cached_subtrees(plan)
        except Exception as e:  # noqa: BLE001 — streaming queries can't explain here
            rows.append((name, f"(not plannable statically: {type(e).__name__})"))
            continue
        joins = sorted(set(JOIN_RE.findall(plan)))
        n_codegen = len(set(re.findall(r"[*][(](\d+)[)]", plan)))
        feats = [
            f"shuffles={plan.count('Exchange')}",
            f"aggs={plan.count('HashAggregate')}",
            # codegen'd operators print with "*(n)" stage markers
            f"codegen_stages={n_codegen}",
            f"joins={'+'.join(joins) if joins else 'none'}",
        ]
        if "PushedFilters: [" in plan and not re.search(
            r"PushedFilters: \[\]", plan
        ):
            feats.append("pushdown=yes")
        if "TakeOrderedAndProject" in plan:
            feats.append("topk=TakeOrdered")
        py = [n for n in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas") if n in plan]
        feats.append(f"python={'+'.join(py) if py else 'none'}")
        rows.append((name, ", ".join(feats)))

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan dossier (headline queries, sf0.001)\n\n"
            "Generated by `tools/gen_plan_dossier.py`. Properties the engine\n"
            "relies on at scale, made diff-reviewable; "
            "`tests/test_plan_quality.py` asserts the critical ones.\n\n"
            "Counting notes: a cached relation's build subtree is counted\n"
            "once (its repeat printouts under further consumers are elided);\n"
            "`shuffles` counts plan NODES, not bytes — the r12 dedup spreads\n"
            "deliberately add narrow (id, text) exchanges that raised this\n"
            "count while cutting measured runtime 13-34% (see\n"
            "OPTIMIZATION_r12.md), so compare this column only per-query\n"
            "against its own history, never as a quality score. The r13\n"
            "search-cache drops (OPTIMIZATION_r13.md Batch G) inline the\n"
            "previously-cached subtree into BOTH consumers of the static\n"
            "plan — hybrid_search's printed counts jumped accordingly —\n"
            "while at runtime AQE's ReusedExchange dedupes the duplicated\n"
            "exchanges (executed-plan assertion in\n"
            "test_bm25_corpus_tokenized_once).\n\n"
            "| Query | Plan properties |\n| --- | --- |\n"
        )
        for name, feats in rows:
            f.write(f"| {name} | {feats} |\n")
    print(f"wrote PLANS.md: {len(rows)} headline queries")


if __name__ == "__main__":
    main()
