"""The benchmark's workloads: which public engine calls one pass makes.

Each operation has three steps:

* ``build`` — the public call that returns a plan (a registry query
  function, ``staging.*``, ``deaths.run``, ``plants.build_power_plants``,
  ``spatial.near_join``). Time spent here is plan building.
* ``run`` — executes the plan: the noop sink for queries and stages, the
  engine's own sink for ETL steps, a collect for the per-plant counts.
* ``answer`` — the value compared against the expected answer. For
  queries and stages it is the row count and an order-insensitive hash
  (computed once per run, in the warm-up pass); for ETL steps it is the
  run result itself, checked on every pass.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

RELATIONAL = (
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_supplier_revenue",
    "q7_nation_pair_volume",
    "asof_latest_order",
    "sessionize_events",
    "window_rank_events",
    "events_hourly_rollup",
    "funnel_conversion",
    "zscore_outlier_events",
    "flagship_points_near_sites",
    "flagship_site_density",
)
TEXT_DEDUP = (
    "hybrid_search",
    "lang_id_heuristic",
    "text_quality_scores",
    "winnowing_fingerprints",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "similarity_topk",
    "embedding_dup_pairs_blocked",
)
ETL_RADIUS_KM = 20.0


@dataclass
class Op:
    name: str
    kind: str  # "query" | "staging" | "etl"
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    answer: Callable[[Any], Any]
    # Ops with ordered=True keep their position; the seed shuffles the rest.
    ordered: bool = False
    # Returns the plan whose candidate-verifying filters ``filter_yields``
    # counts once per traced run; None for ops that verify no candidates.
    probe: Callable[[], Any] | None = None


def answer_digest(df) -> dict:
    """Row count and an order-insensitive hash of ``df``: doubles are
    rounded to 6 decimals (and -0.0 folded into 0.0) so the hash holds
    across partitionings; the row hashes are summed modulo a prime."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.round(F.col(f"`{f.name}`").cast("double"), 6) + F.lit(0.0)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return {"rows": int(row["n"]), "hash": int(row["s"] or 0)}


# Filters that verify candidates, by layer: the exact-distance check of
# the grid-cell spatial join and the exact-similarity check of dedup pairs.
YIELD_FILTERS = {
    "spatial": re.compile(r"\bdist_km#\d+ <= "),
    "dedup": re.compile(r"\b(jaccard|similarity|cosine|containment)#\d+ >= "),
}


def filter_yields(spark, df) -> dict:
    """{layer: (rows kept, candidate rows)} for each verifying filter in
    ``df``'s analyzed plan. Catalyst later folds such a filter into its
    join's condition, so no execution metric sees the candidates; the
    benchmark counts the filter's input and output as separate plans."""
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    out: dict = {}
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Filter":
            cond = node.condition().toString()
            for layer, pattern in YIELD_FILTERS.items():
                if pattern.search(cond):
                    kept = dataset.ofRows(spark._jsparkSession, node).count()
                    cand = dataset.ofRows(spark._jsparkSession, node.child()).count()
                    k0, c0 = out.get(layer, (0, 0))
                    out[layer] = (k0 + kept, c0 + cand)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def query_ops(spark, names, tables_dir: str, probe: bool = True) -> list[Op]:
    from data_eng_project_spark.plans import REGISTRY

    def op(name):
        fn = REGISTRY[name].fn

        def build():
            return fn(spark, tables_dir)

        return Op(name, "query", build, _noop, answer_digest, probe=build if probe else None)

    return [op(n) for n in names]


def staged_ops(spark, tables_dir: str) -> list[Op]:
    """Cold build of the staged pair graph and components, then the five
    registry consumers reading the stage. The caller points
    $SPARK_GRAFT_STAGE_DIR at a fresh directory before every pass."""
    from data_eng_project_spark.operators import dedup
    from data_eng_project_spark.pipelines import staging
    from data_eng_project_spark.tables import load_table

    def pairs_plan():
        # The producer staging.near_dup_pairs materializes, at its defaults.
        docs = load_table(spark, tables_dir, "documents")
        return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)

    builds = [
        Op(f"staging.{fn.__name__}", "staging", (lambda fn=fn: fn(spark, tables_dir)),
           _noop, answer_digest, ordered=True, probe=probe)
        for fn, probe in ((staging.near_dup_pairs, pairs_plan), (staging.dup_components, None))
    ]
    # The consumers filter stored similarities; they verify no candidates.
    return builds + query_ops(spark, staging.STAGED_CONSUMERS, tables_dir, probe=False)


def etl_ops(spark, inputs: dict, out_dir: Callable[[], str]) -> list[Op]:
    """The reference pipeline: two death batches through the idempotent
    sink, the plants through a full refresh, then deaths within
    ETL_RADIUS_KM of each plant. ``out_dir()`` is the pass's table root."""
    from pyspark.sql import functions as F

    from data_eng_project_spark.operators import sink, spatial
    from data_eng_project_spark.pipelines import deaths, plants

    p = inputs["paths"]

    def deaths_table():
        return os.path.join(out_dir(), "deaths")

    def plants_table():
        return os.path.join(out_dir(), "power_plants")

    def batch(i):
        def write(df):
            return {"written": sink.write_idempotent(spark, df, deaths_table(), "id")}

        def answer(df):
            return {"kept": df.count(), **write(df)}

        return Op(
            f"etl.deaths_batch{i}",
            "etl",
            lambda: deaths.run(spark, p[f"deaths_{i}"], p["geo"]),
            write,
            answer,
            ordered=True,
        )

    def build_plants():
        return plants.build_power_plants(spark, p["nuclear"], p["thermal"])

    def refresh(df):
        sink.write_full_refresh(df, plants_table())
        return {}

    def plants_answer(df):
        refresh(df)
        return {"plants": spark.read.parquet(plants_table()).count()}

    def near():
        pts = spark.read.parquet(deaths_table()).select(
            "id", F.col("latitude").alias("lat"), F.col("longitude").alias("lon")
        )
        sites = spark.read.parquet(plants_table()).select(
            "plant_name",
            F.col("latitude").alias("site_lat"),
            F.col("longitude").alias("site_lon"),
        )
        pairs = spatial.near_join(pts, sites, radius_km=ETL_RADIUS_KM)
        return pairs.groupBy("plant_name").count()

    def counts(df):
        return {"near_counts": {r["plant_name"]: r["count"] for r in df.collect()}}

    return [
        batch(1),
        batch(2),
        Op("etl.power_plants", "etl", build_plants, refresh, plants_answer, ordered=True),
        Op("etl.deaths_near_plants", "etl", near, counts, counts, ordered=True, probe=near),
    ]


def etl_expected(expected: dict) -> dict:
    """The generator's answers in the shape the ETL ops report them."""
    return {
        "etl.deaths_batch1": {"kept": expected["kept"][0], "written": expected["written"][0]},
        "etl.deaths_batch2": {"kept": expected["kept"][1], "written": expected["written"][1]},
        "etl.power_plants": {"plants": expected["plants"]},
        "etl.deaths_near_plants": {"near_counts": expected["near_counts"]},
    }


def etl_pass_expected(expected: dict) -> dict:
    """What the timed passes check: the run results, without the counts
    only the answer steps take."""
    return {
        op: {k: v for k, v in answer.items() if k not in ("kept", "plants")}
        for op, answer in etl_expected(expected).items()
    }


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
