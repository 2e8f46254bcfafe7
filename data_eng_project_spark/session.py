"""SparkSession construction and per-session config hygiene.

Two concerns live here:

1. ``get_session`` — build a local session with the defaults we want for
   tests/bench (AQE on, Arrow on, shuffle partitions sized to cores).

2. ``prepare`` — *runtime* conf hygiene applied to any externally-provided
   session (the verify driver constructs its own ``SparkSession`` and hands
   it to ``__spark_entry__``).  It runs in two places: ``get_session``, and
   the wrapper ``plans.registry.register`` puts around every query, so each
   query call re-applies it to whatever session it is given.  Everything
   set here must be a runtime-settable SQL conf.  Most important is
   ``spark.sql.ansi.enabled=false``: the reference's scalar semantics are
   "NULL on failure, never error" (reference ``dags/global_dag.py:111-118``
   — try/except-to-None date parsing), so the engine pins non-ANSI
   evaluation rather than relying on whoever built the session.

``get_session`` also sizes Spark's compiled-class cache to the engine's
working set (``_CODEGEN_CACHE_ENTRIES``), so a repeated pass reuses its
whole-stage-codegen classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to every session the engine touches.
_RUNTIME_CONFS: dict[str, str] = {
    # NULL-on-failure scalar semantics (reference parity, see module doc).
    "spark.sql.ansi.enabled": "false",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and broadcast-join conversion. Essential at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (pandas_udf / applyInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Restore the Arrow batch-row default on every prepare(): media
    # queries (audio fingerprints, scene cuts) lower it to bound
    # payload-bearing batches, and without this pin the lowered cap
    # would leak into whatever query runs next on the shared session.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Junk date strings parse to NULL instead of raising (F1 semantics).
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # Pin the session timezone so timestamp values collected from Spark
    # agree byte-for-byte with the (naive, UTC-stored) parquet values the
    # DuckDB oracle reads, regardless of the host timezone.
    "spark.sql.session.timeZone": "UTC",
    # The events table stores TIMESTAMP(NANOS), which the vectorized
    # parquet reader rejects; read as long and convert in the loader
    # (tables.load_table) with the same ns→µs truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Session-window / streaming state via RocksDB would go here on a real
    # cluster; local default state store is fine for tests.
}


# Compiled codegen classes the JVM keeps for reuse. Static
# conf: spark.conf.set refuses it, so it is set on the builder, not in
# _RUNTIME_CONFS. Spark's default of 100 is smaller than the engine's
# repeated loops: one staged_graph pass uses 156 classes and one bench.py
# sweep about 416, so LRU eviction made every pass recompile its plans
# with Janino (a reference_etl pass uses 63 and already fit). Measured
# on a 4-core host (CHANGES.md): staged_graph pass_s 6.94 -> 4.78 s and
# cpu_s 21.3 -> 13.4 s, medians of 10 alternated perfbench pairs, lower
# in all 10. 2000 is over 4x the largest working set. A session someone
# else builds keeps the default; it runs each query once and gains
# nothing.
_CODEGEN_CACHE_ENTRIES = 2000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime conf hygiene to an externally-built session.

    Safe to call repeatedly; ignores confs the session refuses to set.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    # Size the fixed shuffle width to the machine; AQE coalesces down from
    # here at runtime. On a 1000-executor cluster this would be set to
    # O(2-3x total cores) instead.
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:
        pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes (whole-stage code, projections, predicates) that
    Janino has compiled so far in this session's JVM, on the driver and on
    local-mode executors. A cache hit does not count, so over a repeated
    loop this reads the recompiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_session(app_name: str = "data-eng-project-spark") -> SparkSession:
    """Build (or fetch) a local session with scale-appropriate defaults,
    as wide as ``default_parallelism()``."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode split sizing: benchmark tables are single sub-128MB
        # parquet files, which the default maxPartitionBytes turns into
        # ONE scan task — serializing every scan+partial-agg on a 32-core
        # box. 8MB splits ≈ input/cores here. A production cluster keeps
        # the 128MB default (its files arrive in many splits already);
        # this is builder-time local tuning, not engine semantics, so it
        # deliberately does NOT go in prepare()/_RUNTIME_CONFS.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # Class names without codegen stage ids: AQE numbers stages in
        # planning order, which varies by run, so a rerun that swapped two
        # stages recompiled both (4 classes of pagerank_dup_docs, sf0.001).
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
