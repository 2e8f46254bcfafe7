"""The skew-probe lesson as executable checks (VERDICT r3 task 7):

tools/skew_probe.py measured that AQE's DEFAULT skew threshold
(256 MB) silently misses a moderate hot partition, and that salting
fixes extreme skew threshold-free. These tests pin both mitigations on
a deliberately pathological fixture — half the fact rows on ONE key —
so the knobs in operators/skew.py stay honest:

- apply_skew_profile makes AQE actually SPLIT the hot partition
  (plan-level assertion: the final adaptive plan marks the join
  skew=true), where the default profile leaves it whole;
- salted_join scatters the hot key across salt buckets (deterministic
  distribution assertion) and beats the naive single-hot-task
  sort-merge join on the critical path — the largest partition one
  task must process, which is what wall time means on a cluster.
"""

from __future__ import annotations



import pytest
from pyspark.sql import functions as F

from data_eng_project_spark.operators.skew import apply_skew_profile, salted_join

N_ROWS = 2_000_000
N_KEYS = 50_000
HOT = 7
SHUFFLE_WIDTH = 8


@pytest.fixture()
def skew_tables(spark, tmp_path):
    fact = spark.range(N_ROWS).select(
        F.when(F.col("id") % 2 == 0, F.lit(HOT))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(N_KEYS)))
        .alias("k"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("grp")
    )
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    return spark.read.parquet(str(tmp_path / "fact")), spark.read.parquet(
        str(tmp_path / "dim")
    )


@pytest.fixture()
def no_broadcast(spark):
    # A 100 TB dim side isn't broadcastable; locally it would be, which
    # would hide the shuffle and measure nothing.
    saved = {}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)
    for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        spark.conf.unset(k)


@pytest.fixture()
def fixture_width(spark):
    # The fixture is sized for the conftest session's 8-wide shuffle;
    # prepare() re-sizes the width to $SPARK_GRAFT_CPUS, and at 4 the
    # hot partition no longer clears AQE's skew factor over the median.
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_WIDTH))
    yield
    spark.conf.set("spark.sql.shuffle.partitions", saved)


def _join_count(fact, dim):
    df = fact.join(dim, on="k").groupBy("grp").agg(F.sum("v").alias("s"))
    df.collect()
    return df


def test_apply_skew_profile_triggers_aqe_split(
    spark, skew_tables, no_broadcast, fixture_width
):
    fact, dim = skew_tables
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # Default 256 MB threshold: the ~hot partition is far under it, so
    # the final plan contains no skew-split join.
    plain = _join_count(fact, dim)
    plan_default = plain._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" not in plan_default

    # Profile tuned to the partition size a task should chew: AQE now
    # marks and splits the hot partition.
    apply_skew_profile(spark, target_partition_mb=2)
    tuned = _join_count(fact, dim)
    plan_tuned = tuned._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan_tuned


def test_salted_join_scatters_hot_key(spark, skew_tables, no_broadcast):
    fact, dim = skew_tables
    num_salts = 16
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(num_salts))
    dist = (
        fact.withColumn("_salt", salt)
        .filter(F.col("k") == HOT)
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(dist) == num_salts  # hot key occupies every salt bucket
    counts = [r["count"] for r in dist]
    assert max(counts) < (N_ROWS / 2) / num_salts * 1.5  # roughly even


def test_salted_join_beats_naive_smj_critical_path(spark, skew_tables, no_broadcast):
    """"Beats" asserted on the deterministic quantity that IS wall time
    on a cluster: the critical path, i.e. the largest shuffle partition
    a single task must process. (A single-host CPU-bound pytest can't
    see the idle-executor cost of a hot task — tools/skew_probe.py at
    local[32] measures the wall-time version, recorded in BASELINE.md.)
    """
    fact, dim = skew_tables
    num_salts, n_parts = 16, 32

    def max_partition_rows(df, *cols):
        sizes = (
            df.repartition(n_parts, *[F.col(c) for c in cols])
            .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
            .collect()
        )
        return max(sizes)

    naive_max = max_partition_rows(fact, "k")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(num_salts))
    salted_max = max_partition_rows(fact.withColumn("_salt", salt), "k", "_salt")

    # Naive: the hot key pins ~N/2 rows in one partition. Salted: the
    # hot key's rows spread over num_salts buckets; even with several
    # (k, salt) buckets hash-colliding into one of the 32 partitions
    # (plus the uniform keys' share), the critical path shrinks by ≥4×.
    assert naive_max >= N_ROWS / 2
    assert salted_max < naive_max / 4

    # And the rewrite is semantics-preserving on the same fixture.
    naive_rows = {
        r["grp"]: r["s"]
        for r in fact.join(dim, on="k").groupBy("grp").agg(F.sum("v").alias("s")).collect()
    }
    salted_rows = {
        r["grp"]: r["s"]
        for r in salted_join(fact, dim, on="k")
        .groupBy("grp")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert salted_rows.keys() == naive_rows.keys()
    for g in naive_rows:
        assert abs(salted_rows[g] - naive_rows[g]) < 1e-6 * max(1.0, abs(naive_rows[g]))


def test_salted_join_rejects_right_and_full(spark):
    """Regression: the small side exists in num_salts copies, so
    right/full joins would emit each unmatched small row once per copy
    — the operator must refuse rather than silently multiply output."""
    import pytest

    from data_eng_project_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "d")], "k long, d string")
    for how in ("right", "full", "left_anti"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, on="k", how=how)
    # supported modes still work
    assert salted_join(big, small, on="k", how="inner").count() == 1
    assert salted_join(big, small, on="k", how="left").count() == 1
