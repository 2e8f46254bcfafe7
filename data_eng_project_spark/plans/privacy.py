"""Privacy-preserving release plans: k-anonymity generalization ladder.

Complements the PII detect/redact stage (plans/curation.py) with the
aggregate-release side of privacy: before publishing per-segment
statistics out of a 100 TB lake, small groups must be generalized or
suppressed so no quasi-identifier combination isolates < k individuals
(Sweeney 2002, "k-anonymity: a model for protecting privacy").

The ladder is pure DataFrame algebra — three grouped counts and two
anti-join-shaped filters, no Python — and exactly mirrored in the SQL
oracle, so the release invariant (every published row has n ≥ k) is
driver-certified, not just promised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

K_ANON = 10


@register(
    "kanonymize_customer_release",
    oracle=f"""
        WITH base AS (
            SELECT CAST(c_nationkey AS VARCHAR) AS nation_q,
                   c_mktsegment AS segment_q,
                   CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR) AS band_q
            FROM customer
        ), g0 AS (
            SELECT nation_q, segment_q, band_q, count(*) AS n
            FROM base GROUP BY 1, 2, 3
        ), pass0 AS (
            SELECT nation_q, segment_q, band_q, CAST(n AS BIGINT) AS n,
                   0 AS anon_level
            FROM g0 WHERE n >= {K_ANON}
        ), rest0 AS (
            SELECT nation_q, segment_q, n FROM g0 WHERE n < {K_ANON}
        ), g1 AS (
            SELECT nation_q, segment_q, CAST(sum(n) AS BIGINT) AS n
            FROM rest0 GROUP BY 1, 2
        ), pass1 AS (
            SELECT nation_q, segment_q, '*' AS band_q, n, 1 AS anon_level
            FROM g1 WHERE n >= {K_ANON}
        ), rest1 AS (
            SELECT CAST(sum(n) AS BIGINT) AS n FROM g1 WHERE n < {K_ANON}
        ), pass2 AS (
            SELECT '*' AS nation_q, '*' AS segment_q, '*' AS band_q,
                   n, 2 AS anon_level
            FROM rest1 WHERE n >= {K_ANON}
        )
        SELECT nation_q, segment_q, band_q, n, CAST(anon_level AS BIGINT) AS anon_level
        FROM (
            SELECT * FROM pass0
            UNION ALL SELECT * FROM pass1
            UNION ALL SELECT * FROM pass2
        )
    """,
    tags=("privacy", "kanonymity", "analytics"),
)
def kanonymize_customer_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous release of customer counts over the quasi-identifier
    (nation, market segment, account-balance band): groups ≥ k publish
    as-is (level 0); failing groups generalize the finest attribute away
    (level 1); still-failing mass collapses to one fully-suppressed row
    (level 2) — which itself publishes only when it reaches k (a sub-k
    residual is dropped, never released). Three grouped counts, no
    Python; the k-invariant is in the oracle, so the driver certifies
    the release property itself."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_nationkey").cast("string").alias("nation_q"),
        F.col("c_mktsegment").alias("segment_q"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").cast("string").alias("band_q"),
    )
    g0 = base.groupBy("nation_q", "segment_q", "band_q").agg(
        F.count(F.lit(1)).alias("n")
    )
    pass0 = g0.filter(F.col("n") >= K_ANON).withColumn(
        "anon_level", F.lit(0).cast("bigint")
    )
    rest0 = g0.filter(F.col("n") < K_ANON)
    g1 = rest0.groupBy("nation_q", "segment_q").agg(F.sum("n").alias("n"))
    pass1 = (
        g1.filter(F.col("n") >= K_ANON)
        .select(
            "nation_q",
            "segment_q",
            F.lit("*").alias("band_q"),
            "n",
            F.lit(1).cast("bigint").alias("anon_level"),
        )
    )
    # The fully-suppressed residual publishes ONLY if it itself reaches
    # k — a residual mass of 1..k-1 is dropped outright, otherwise the
    # release would contain a row with n < k and the documented
    # invariant (every published row has n ≥ k) would be violated by
    # the very row meant to enforce it.
    rest1 = g1.filter(F.col("n") < K_ANON).agg(F.sum("n").alias("n")).filter(
        F.col("n") >= K_ANON
    )
    pass2 = rest1.select(
        F.lit("*").alias("nation_q"),
        F.lit("*").alias("segment_q"),
        F.lit("*").alias("band_q"),
        "n",
        F.lit(2).cast("bigint").alias("anon_level"),
    )
    cols = ["nation_q", "segment_q", "band_q", "n", "anon_level"]
    return pass0.select(*cols).unionByName(pass1).unionByName(pass2)


@register(
    "ldiversity_check",
    oracle="""
        WITH g AS (
            SELECT CAST(c_nationkey AS VARCHAR) AS nation_q,
                   CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR)
                       AS band_q,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT c_mktsegment) AS BIGINT)
                       AS n_distinct_segments
            FROM customer
            GROUP BY 1, 2
        )
        SELECT nation_q, band_q, n, n_distinct_segments,
               n_distinct_segments >= 3 AS l_diverse
        FROM g
    """,
    tags=("privacy", "ldiversity"),
)
def ldiversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit, the check k-anonymity alone misses: a
    quasi-identifier group where every member shares one sensitive
    value (here: market segment) leaks that value even at count ≥ k.
    Per (nation, balance-band) group: size, distinct sensitive values,
    and the l ≥ 3 verdict. One grouped aggregate with a distinct count
    — partial-aggregable, no Python, no windows."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy(
            F.col("c_nationkey").cast("string").alias("nation_q"),
            F.floor(F.col("c_acctbal") / 2000)
            .cast("bigint")
            .cast("string")
            .alias("band_q"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("c_mktsegment").cast("bigint").alias(
                "n_distinct_segments"
            ),
        )
        .select(
            "nation_q",
            "band_q",
            "n",
            "n_distinct_segments",
            (F.col("n_distinct_segments") >= 3).alias("l_diverse"),
        )
    )
