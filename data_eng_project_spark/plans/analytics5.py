"""Fifth analytics batch: behavioral / operational analytics over the
events and orders tables — funnel conversion, weekly cohort retention,
SCD Type-2 interval construction, and single-pass data profiling.

These are the product-analytics and warehouse-maintenance shapes a team
replacing the reference's Postgres serving layer (SURVEY §0) would run
daily; none need anything beyond declarative DataFrame ops, and each is
oracle-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

_DEC = "decimal(28,6)"


def _funnel_stage_times(ev: DataFrame):
    """The ordered view→click→purchase stage chain shared by
    funnel_conversion and funnel_time_to_convert — ONE definition so the
    conversion counts and the time-to-convert quartiles can never
    describe different funnels. Each stage is the per-user min timestamp
    of the stage event STRICTLY AFTER the user's previous-stage time;
    three groupBys chained by equi-joins on user_id, so every stage
    shuffles on the same key and AQE reuses the partitioning."""
    # NB (r12): although v and c fan out into several consumers, do NOT
    # localCheckpoint them — each stage ends in a groupBy exchange that
    # Spark's exchange reuse already dedupes across consumers at
    # runtime, and a checkpoint replaces that free reuse with a forced
    # RDD materialization (measured +40% on funnel_conversion).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return v, c, p


def _attribution_touches(events: DataFrame, ts_alias: str = "ts") -> DataFrame:
    """The touch universe shared by the three attribution models (last-
    touch, first-touch, time-decay): one row per (user, ts) click/view
    touchpoint, channel = max(event_type) on exact-timestamp ties. One
    definition so the models can never attribute over inconsistent
    touch sets."""
    return (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts")
        .agg(F.max("event_type").alias("touch_type"))
        .select("user_id", F.col("ts").alias(ts_alias), "touch_type")
    )


def _attribution_purchases(events: DataFrame, ts_alias: str = "ts") -> DataFrame:
    """The purchase set the attribution models credit."""
    return events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias(ts_alias), "value"
    )


@register(
    "funnel_conversion",
    headline=True,
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS tv FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS tc
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.tv
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS tp
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.tc
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_viewed,
               (SELECT count(*) FROM c) AS n_clicked_after_view,
               (SELECT count(*) FROM p) AS n_purchased_after_click
    """,
    tags=("analytics", "events", "funnel"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): each stage is the
    per-user min timestamp of the stage event STRICTLY AFTER the user's
    previous-stage time — three groupBys chained by equi-joins on
    user_id, so every stage shuffles on the same key and AQE reuses the
    partitioning. Stage populations shrink monotonically; the final
    counts are one-row aggregates."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v, c, p = _funnel_stage_times(ev)
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .join(F.broadcast(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view"))))
        .join(F.broadcast(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click"))))
    )


@register(
    "cohort_retention",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_week,
                   CAST(datediff('day', f.cohort_week,
                                 date_trunc('week', e.ts)) / 7 AS BIGINT) AS week_n
            FROM events e JOIN first_seen f ON e.user_id = f.user_id
        )
        SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
               week_n, count(*) AS n_active_users
        FROM activity GROUP BY cohort_week, week_n
    """,
    tags=("analytics", "events", "cohort"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by the week of
    their first event; activity counted as distinct (user, week-offset)
    cells. Week arithmetic stays in whole days ÷ 7 (both engines
    truncate weeks to Monday, so the difference is always a multiple of
    7 — no engine-specific week-diff semantics). Two shuffles: per-user
    min, then the cohort-cell distinct+count."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week_d")
    ).select(
        "user_id",
        "cohort_week_d",
        F.date_format("cohort_week_d", "yyyy-MM-dd").alias("cohort_week"),
    )
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(
                    F.to_date(F.date_trunc("week", F.col("ts"))), F.col("cohort_week_d")
                )
                / 7
            )
            .cast("bigint")
            .alias("week_n"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_n").agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@register(
    "scd2_customer_status",
    oracle="""
        SELECT o_custkey, o_orderstatus,
               strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
               strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
               lead(o_orderdate) OVER w IS NULL AS is_current
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("analytics", "scd", "window"),
)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 interval construction: each
    customer's order-status change stream becomes [valid_from, valid_to)
    rows via a single lead() window — the standard warehouse pattern for
    turning event logs into temporally-joinable dimensions (pairs with
    the as-of join in plans/temporal.py for point-in-time lookups). One
    shuffle, partitioned by the dimension key; the unique o_orderkey
    tie-break makes interval boundaries deterministic."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "profile_orders",
    oracle="""
        SELECT count(*) AS n_rows,
               count(DISTINCT o_orderstatus) AS n_statuses,
               count(DISTINCT o_custkey) AS n_customers,
               strftime(min(o_orderdate), '%Y-%m-%d') AS first_order,
               strftime(max(o_orderdate), '%Y-%m-%d') AS last_order,
               count(*) FILTER (WHERE o_totalprice IS NULL) AS null_prices,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 6) AS avg_price,
               round(CAST(min(o_totalprice) AS DOUBLE), 6) AS min_price,
               round(CAST(max(o_totalprice) AS DOUBLE), 6) AS max_price
        FROM orders
    """,
    tags=("analytics", "profiling"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiling (the data-quality summary a pipeline
    emits before publishing a partition): row/null/distinct counts,
    value ranges, exact-decimal mean — every statistic partial-aggregable
    in one scan except the two exact distincts, which Spark expands with
    one extra exchange; at 100 TB you'd flip those to HLL
    (approx_count_distinct, see approx_distinct_users)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1)).alias("null_prices"),
        F.round(
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("avg_price"),
        F.round(F.min("o_totalprice").cast("double"), 6).alias("min_price"),
        F.round(F.max("o_totalprice").cast("double"), 6).alias("max_price"),
    )


@register(
    "null_safe_join_counts",
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN event_type = 'error' THEN NULL
                        ELSE event_type END AS type_key,
                   value
            FROM events
        ),
        dim AS (SELECT DISTINCT type_key FROM keyed)
        SELECT d.type_key, count(*) AS n_events,
               round(CAST(sum(CAST(k.value AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_value
        FROM keyed k JOIN dim d ON k.type_key IS NOT DISTINCT FROM d.type_key
        GROUP BY d.type_key
    """,
    tags=("analytics", "join", "nullsafe"),
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join semantics (Spark `<=>` ≡ SQL IS NOT DISTINCT
    FROM): a derived key maps one event type to NULL, and the join
    against the distinct-key dimension must still pair those rows —
    NULL matches NULL, exactly once. Compiles to a plain hash join on
    the null-safe comparator, not a nested loop; the dimension side
    broadcasts."""
    keyed = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("type_key"),
        "value",
    )
    dim = keyed.select("type_key").distinct().withColumnRenamed("type_key", "_dk")
    return (
        keyed.join(F.broadcast(dim), F.col("type_key").eqNullSafe(F.col("_dk")))
        .groupBy(F.col("_dk").alias("type_key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 6).alias(
                "total_value"
            ),
        )
    )


@register(
    "locf_user_values",
    oracle="""
        SELECT event_id, user_id,
               last_value(gappy IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS gappy
            FROM events
        ) g
    """,
    tags=("analytics", "window", "gapfill"),
)
def locf_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over a sparse sensor stream:
    every 5th reading is (deterministically) dropped, then filled from
    the user's most recent non-null value with an IGNORE NULLS running
    last_value — the standard LOCF gap-fill, one window shuffle on the
    series key. Leading gaps (no prior observation) stay NULL on both
    engines."""
    g = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("value"))
        .alias("gappy"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "event_id",
        "user_id",
        F.last("gappy", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "zscore_outlier_events",
    headline=True,
    oracle="""
        WITH stats AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
                   CAST(sum(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
            FROM events GROUP BY event_type
        ),
        scored AS (
            SELECT e.event_id, e.event_type, e.value,
                   (e.value - s1 / n) / sqrt((s2 - (s1 / n) * (s1 / n) * n) / (n - 1))
                       AS z
            FROM events e JOIN stats s ON e.event_type = s.event_type
        )
        SELECT event_id, event_type, value, round(z, 6) AS zscore
        FROM scored WHERE abs(z) > 3.0
    """,
    tags=("analytics", "quality", "outliers"),
)
def zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier detection (the numeric-quality filter a
    training pipeline runs before ingesting telemetry): per-group mean
    and sample variance derived from EXACT decimal Σx and Σx² — so the
    doubles that feed the z-score are bit-identical across engines and
    the |z|>3 cut selects identical rows — then one broadcast join back
    to score the stream. Single fact scan for stats (decimal partial
    aggs), single scan to score; no window, no sort."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - mean * mean * F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        ev.join(F.broadcast(stats.withColumnRenamed("event_type", "_et")),
                F.col("event_type") == F.col("_et"))
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 3.0)
        .select("event_id", "event_type", "value", F.round("zscore", 6).alias("zscore"))
    )


@register(
    "sql_api_revenue_report",
    oracle="""
        SELECT n.n_name AS nation, o.o_orderpriority,
               count(DISTINCT o.o_orderkey) AS n_orders,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        GROUP BY n.n_name, o.o_orderpriority
    """,
    tags=("analytics", "sql-api"),
)
def sql_api_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-SQL front door: tables registered as temp views, the
    query expressed as ONE spark.sql string (same text a BI tool would
    send), Catalyst planning it identically to the DataFrame API —
    broadcastable dims, pushed date filter, distinct-agg expansion.
    Everything else in this registry uses the DataFrame API; this entry
    proves the SQL surface serves the same engine."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT n.n_name AS nation, o.o_orderpriority,
               count(DISTINCT o.o_orderkey) AS n_orders,
               round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM v_lineitem l
        JOIN v_orders o ON o.o_orderkey = l.l_orderkey
        JOIN v_customer c ON c.c_custkey = o.o_custkey
        JOIN v_nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        GROUP BY n.n_name, o.o_orderpriority
        """
    )


@register(
    "histogram_order_prices",
    oracle="""
        WITH b AS (
            SELECT CAST(min(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS lo,
                   CAST(max(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS hi
            FROM orders
        )
        SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)), 9.0)
                    AS BIGINT) AS bucket,
               count(*) AS n_orders,
               round(lo + CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)), 9.0)
                               AS BIGINT) * ((hi - lo) / 10.0), 6) AS bucket_lo
        FROM orders CROSS JOIN b
        GROUP BY 1, 3
    """,
    tags=("analytics", "profiling", "histogram"),
)
def histogram_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width 10-bin histogram of order prices — the distribution
    summary behind data-drift monitors. Bin edges derive from exact
    decimal min/max cast to double, bucketing is the same
    floor((v-lo)/w) expression on both engines (max clamped into the
    last bin), so bucket boundaries are bit-identical. One scan for
    bounds (broadcast one-row), one scan to bucket."""
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    b = o.agg(
        F.min(F.col("o_totalprice").cast(_DEC)).cast("double").alias("lo"),
        F.max(F.col("o_totalprice").cast(_DEC)).cast("double").alias("hi"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(9.0)
    ).cast("bigint")
    return (
        o.join(F.broadcast(b))
        .groupBy(
            bucket.alias("bucket"),
            F.round(F.col("lo") + bucket * width, 6).alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select("bucket", "n_orders", "bucket_lo")
    )


@register(
    "trailing_hour_sum",
    oracle="""
        SELECT event_id, user_id,
               count(*) OVER w AS n_in_hour,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE), 6)
                   AS hour_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("analytics", "window", "temporal"),
)
def trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding frame (RANGE, not ROWS): each event's trailing
    one-hour activity per user. Spark expresses interval frames as
    rangeBetween over the epoch-microsecond ordering — the same instants
    the oracle's RANGE INTERVAL frame covers, including tie/peer-row
    semantics. One window shuffle on the series key; decimal sums keep
    the frame aggregate exact."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_in_hour"),
        F.round(F.sum(F.col("value").cast(_DEC)).over(w).cast("double"), 6).alias(
            "hour_sum"
        ),
    )


@register(
    "pareto_customer_revenue",
    oracle="""
        WITH per_cust AS (
            SELECT o_custkey,
                   sum(CAST(o_totalprice AS DECIMAL(28,6))) AS revenue
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, revenue,
                   sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                      ROWS UNBOUNDED PRECEDING) AS cum_rev,
                   sum(revenue) OVER () AS total_rev,
                   row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rnk
            FROM per_cust
        )
        SELECT o_custkey, rnk,
               round(CAST(revenue AS DOUBLE), 6) AS revenue,
               round(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
                   AS cum_share
        FROM ranked
        WHERE CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.8
    """,
    tags=("analytics", "window", "pareto"),
)
def pareto_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto analysis: the customers who make up the first 80% of
    revenue, via an exact-decimal running sum over the revenue-ranked
    customer list. Cumulative and total sums stay decimal (exact) until
    the final share division.

    Scale (r5 VERDICT fix, same argument as rfm_segments): the customer
    rollup is not a bound, so the rank + running sum come from
    operators/datasetops.distributed_order_cumsum (order-aligned
    percentile buckets, bucket-partitioned window, one-row
    array-prefix-sum base offsets (_bucket_base_offsets) — no partitionless window; decimal offsets keep the
    running sum bit-identical to the oracle's global window), and the
    grand total is a broadcast one-row aggregate instead of an
    unbounded window."""
    from data_eng_project_spark.operators.datasetops import distributed_order_cumsum

    # No materialization of the fan-out (r13, measured tie: lc 1.017 s
    # vs no-cache 1.071 s min-of-6): the groupBy ends in an exchange
    # AQE dedupes across the cumsum and total consumers at runtime —
    # the funnel lesson at the top of this module — and recompute keeps
    # lineage replayable on executor loss (§5).
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(_DEC)).alias("revenue"))
    )
    ranked = distributed_order_cumsum(
        per_cust, "revenue", ["o_custkey"], "revenue",
        descending=True, rank_col="rnk", cum_col="_cum",
    )
    total = per_cust.agg(F.sum("revenue").alias("_total"))
    share = F.col("_cum").cast("double") / F.col("_total").cast("double")
    return (
        ranked.join(F.broadcast(total))
        .withColumn("_share", share)
        .filter(F.col("_share") <= 0.8)
        .select(
            "o_custkey",
            "rnk",
            F.round(F.col("revenue").cast("double"), 6).alias("revenue"),
            F.round("_share", 6).alias("cum_share"),
        )
    )


@register(
    "market_basket_part_pairs",
    oracle="""
        WITH order_parts AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders_together
        FROM order_parts a
        JOIN order_parts b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    """,
    tags=("analytics", "basket", "selfjoin"),
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (the recommendation shape): part
    pairs appearing in ≥2 common orders, from a distinct-projected
    self-join on the order key. The join fans out per order as
    C(parts_in_order, 2) — bounded by basket size (~7), NOT by table
    size, so the candidate count stays ~20× orders at any scale; the
    '<' predicate halves it and dedups mirror pairs."""
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(F.col("l_orderkey").alias("_ok"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("_ok2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("_ok") == F.col("_ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
        .filter(F.col("n_orders_together") >= 2)
    )


@register(
    "data_quality_report",
    oracle="""
        SELECT 'totalprice_positive' AS rule,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_violations,
               round(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                     / count(*), 6) AS violation_rate
        FROM orders
        UNION ALL
        SELECT 'orderdate_present', count(*),
               CAST(sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
                    AS BIGINT),
               round(sum(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END)
                     / count(*), 6)
        FROM orders
        UNION ALL
        SELECT 'status_in_domain', count(*),
               CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
                    AS BIGINT),
               round(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
                     / count(*), 6)
        FROM orders
        UNION ALL
        SELECT 'totalprice_under_300k', count(*),
               CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END)
                    AS BIGINT),
               round(sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END)
                     / count(*), 6)
        FROM orders
        UNION ALL
        SELECT 'custkey_references_customer',
               (SELECT count(*) FROM orders),
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                WHERE c.c_custkey IS NULL),
               round((SELECT count(*) FROM orders o
                      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                      WHERE c.c_custkey IS NULL)
                     / (SELECT count(*) FROM orders), 6)
    """,
    tags=("quality", "expectations", "operational"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations gate for the orders table: four single-scan
    conditional-aggregate rules (one of them deliberately tight so the
    report carries non-zero violations) plus a referential-integrity
    anti-join against customer — the pre-promotion check a lake pipeline
    runs (see operators/quality.dq_report)."""
    from data_eng_project_spark.operators.quality import dq_orphan_count, dq_report

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    report = dq_report(
        orders,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "orderdate_present": F.col("o_orderdate").isNotNull(),
            "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "totalprice_under_300k": F.col("o_totalprice") <= 300000,
        },
    )
    orphans = dq_orphan_count(
        orders, customer, "o_custkey", "c_custkey", "custkey_references_customer"
    )
    return report.unionByName(orphans)


@register(
    "cusum_changepoints",
    oracle="""
        WITH observed AS (
            SELECT event_type, date_trunc('hour', ts) AS window_start,
                   count(*) AS x
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ), span AS (
            SELECT event_type, min(window_start) AS h0, max(window_start) AS h1
            FROM observed GROUP BY event_type
        ), grid AS (
            SELECT event_type,
                   unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                       AS window_start
            FROM span
        ), hourly AS (
            -- zero-event hours enter the series as x = 0 (mirrors the
            -- Spark-side densify: an outage is a signal, not a gap)
            SELECT g.event_type, g.window_start, coalesce(o.x, 0) AS x
            FROM grid g LEFT JOIN observed o
              ON o.event_type = g.event_type
             AND o.window_start = g.window_start
        ), stats AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS total,
                   CAST(sum(x * x) AS BIGINT) AS sumsq
            FROM hourly GROUP BY event_type
        ), withr AS (
            SELECT h.event_type, h.window_start, h.x, s.n, s.total, s.sumsq,
                   CAST(sum(s.n * h.x - s.total) OVER w AS BIGINT) AS r
            FROM hourly h JOIN stats s USING (event_type)
            WINDOW w AS (PARTITION BY h.event_type ORDER BY h.window_start
                         ROWS UNBOUNDED PRECEDING)
        )
        SELECT event_type, window_start, CAST(x AS BIGINT) AS x,
               CAST(r - least(min(r) OVER w2, 0) AS BIGINT) AS cusum_scaled,
               CAST(r - least(min(r) OVER w2, 0) AS DOUBLE) >
                   4.0 * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sumsq
                                   - CAST(total AS DECIMAL(38,0)) * total
                                   AS DOUBLE)) AS alarm
        FROM withr
        WINDOW w2 AS (PARTITION BY event_type ORDER BY window_start
                      ROWS UNBOUNDED PRECEDING)
    """,
    tags=("analytics", "timeseries", "changepoint"),
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over hourly event counts — the max(0,·)
    recursion as prefix-sum-minus-running-min windows, integer-exact
    (see operators/temporal.cusum_hourly_changepoints)."""
    from data_eng_project_spark.operators.temporal import cusum_hourly_changepoints

    return cusum_hourly_changepoints(load_table(spark, sf_dir, "events"))


@register(
    "attribution_last_touch",
    oracle="""
        WITH touches AS (
            SELECT user_id, ts, max(event_type) AS touch_type
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY user_id, ts
        ), purch AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ), attributed AS (
            SELECT p.event_id, p.value, p.ts AS pts,
                   (SELECT t.touch_type FROM touches t
                    WHERE t.user_id = p.user_id AND t.ts <= p.ts
                    ORDER BY t.ts DESC LIMIT 1) AS touch_type,
                   (SELECT max(t.ts) FROM touches t
                    WHERE t.user_id = p.user_id AND t.ts <= p.ts) AS touch_ts
            FROM purch p
        )
        SELECT CASE WHEN touch_ts IS NULL
                         OR epoch_us(pts) - epoch_us(touch_ts) > 86400000000
                    THEN 'none' ELSE touch_type END AS channel,
               count(*) AS n_purchases,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS attributed_value
        FROM attributed GROUP BY 1
    """,
    tags=("analytics", "attribution", "behavioral"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent click/view within a 24h lookback, else 'none' —
    the generic backward as-of join (union-merge, one shuffle on
    user_id, no row explosion) followed by a channel rollup. The oracle
    states the same semantics as correlated scalar subqueries, which is
    exactly what the as-of merge computes without the O(touches) rescan
    per purchase."""
    from data_eng_project_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    touches = _attribution_touches(events).withColumn("touch_ts", F.col("ts"))
    purch = _attribution_purchases(events)
    att = asof_join(
        purch, touches, on="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["touch_type", "touch_ts"],
    )
    channel = F.when(
        F.col("asof_touch_ts").isNull()
        | (F.unix_micros("ts") - F.unix_micros("asof_touch_ts") > 86_400_000_000),
        F.lit("none"),
    ).otherwise(F.col("asof_touch_type"))
    return att.groupBy(channel.alias("channel")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("attributed_value"),
    )


@register(
    "mad_outlier_summary",
    oracle="""
        WITH v AS (
            SELECT event_type, value FROM events WHERE value IS NOT NULL
        ), ranked AS (
            SELECT event_type, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM v
        ), med AS (
            SELECT event_type, value AS med FROM ranked WHERE rn = (n + 1) // 2
        ), dev AS (
            SELECT v.event_type, v.value, abs(v.value - m.med) AS d, m.med
            FROM v JOIN med m USING (event_type)
        ), dranked AS (
            SELECT event_type, d, med,
                   row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ), mad AS (
            SELECT event_type, med, d AS mad FROM dranked WHERE rn = (n + 1) // 2
        )
        SELECT d.event_type,
               count(*) AS n_values,
               round(m.med, 6) AS median_value,
               round(m.mad, 6) AS mad,
               CAST(sum(CASE WHEN d.d > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type, m.med, m.mad
    """,
    tags=("analytics", "robust", "outliers"),
)
def mad_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screening per event type — the
    heavy-tail-safe twin of zscore_outlier_events. Medians are EXACT
    rank selections ((n+1) div 2, lower median) rather than float
    interpolation, so the chosen values are bit-identical across
    engines; the 3·1.4826·MAD fence then needs only deterministic
    double arithmetic.

    Scale (r6 self-review — the low-cardinality-partition-key variant
    of the partitionless-window trap): a per-event_type rank window
    over RAW values funnels each type's full value set through one
    task, and WindowGroupLimit cannot help a mid-rank (median)
    predicate. The events value domain is 2-decimal and range-bounded,
    so each exact median is selected from a VALUE HISTOGRAM: one
    partial-aggregable (type, value)-count shuffle, then the rank walk
    runs over histogram rows — bounded by the value DOMAIN, not the
    corpus (the PSI-bucket pattern). |A−med| of a bounded 2-dp domain
    is itself domain-bounded, so the MAD reuses the same selection.
    Exact, same oracle, no whole-type sort anywhere. For unbounded
    continuous domains the engine's general form is
    operators/datasetops.distributed_rank_select (sort only the one
    percentile bucket containing the target rank)."""
    # No materialization (r13, measured tie: lc 1.002 s vs no-cache
    # 0.974 s min-of-6): the fan-out recomputes a 2-column
    # pruned-pushdown parquet scan — cheaper than a checkpoint's forced
    # RDD materialization, and lineage stays replayable (§5).
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    targets = v.groupBy("event_type").agg(
        F.expr("(count(1) + 1) div 2").alias("_target")
    )

    def _median_hist(df, col, out):
        hist = df.groupBy("event_type", col).agg(F.count(F.lit(1)).alias("_c"))
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = hist.withColumn("_cum", F.sum("_c").over(w))
        return (
            cum.join(F.broadcast(targets), "event_type")
            .filter(
                (F.col("_cum") - F.col("_c") < F.col("_target"))
                & (F.col("_target") <= F.col("_cum"))
            )
            .select("event_type", F.col(col).alias(out))
        )

    med = _median_hist(v, "value", "med")
    dev = v.join(F.broadcast(med), on="event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("med"))
    )
    mad = _median_hist(dev.select("event_type", "d"), "d", "mad").join(
        F.broadcast(med.select("event_type", F.col("med").alias("_med"))),
        "event_type",
    )
    return (
        dev.join(mad, on="event_type")
        .groupBy("event_type", "_med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(
                F.when(F.col("d") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_values",
            F.round("_med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


@register(
    "attribution_first_touch",
    oracle="""
        WITH touches AS (
            SELECT user_id, ts, max(event_type) AS touch_type
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY user_id, ts
        ), purch AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ), firsts AS (
            SELECT p.event_id, p.value,
                   min(t.ts) AS first_ts
            FROM purch p
            LEFT JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts <= p.ts
             AND epoch_us(p.ts) - epoch_us(t.ts) <= 86400000000
            GROUP BY p.event_id, p.value
        ), chan AS (
            SELECT f.event_id, f.value,
                   coalesce(
                       (SELECT max(t2.touch_type) FROM touches t2
                        JOIN purch p2 ON p2.event_id = f.event_id
                        WHERE t2.user_id = p2.user_id AND t2.ts = f.first_ts),
                       'none') AS channel
            FROM firsts f
        )
        SELECT channel, count(*) AS n_purchases,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS attributed_value
        FROM chan GROUP BY channel
    """,
    tags=("analytics", "attribution", "behavioral"),
)
def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credits the EARLIEST
    click/view within its 24h lookback. A user-keyed equi-join with a
    range predicate (bounded by per-user event density — AQE handles
    hot users), then a min-struct aggregate picks the first touch and
    its channel in one pass; 'none' when the window is empty."""
    events = load_table(spark, sf_dir, "events")
    touches = _attribution_touches(events, ts_alias="tts")
    purch = _attribution_purchases(events)
    joined = purch.join(
        touches,
        (purch["user_id"] == touches["user_id"])
        & (touches["tts"] <= purch["ts"])
        & (F.unix_micros(purch["ts"]) - F.unix_micros(touches["tts"]) <= 86_400_000_000),
        "left",
    )
    per_purchase = joined.groupBy("event_id", "value").agg(
        F.min(F.struct(F.col("tts"), F.col("touch_type"))).alias("_first")
    )
    channel = F.coalesce(F.col("_first.touch_type"), F.lit("none"))
    return per_purchase.groupBy(channel.alias("channel")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6
        ).alias("attributed_value"),
    )


@register(
    "log_histogram_quantiles",
    oracle="""
        WITH b AS (
            SELECT length(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR))
                       AS mag,
                   CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 2) AS BIGINT) AS lead2,
                   count(*) AS n
            FROM orders WHERE o_totalprice >= 10
            GROUP BY 1, 2
        ), c AS (
            SELECT mag, lead2, n,
                   sum(n) OVER (ORDER BY mag ASC, lead2 ASC) AS cum,
                   sum(n) OVER () AS total
            FROM b
        ), q AS (
            SELECT CAST(p AS DOUBLE) AS p
            FROM (VALUES (0.5), (0.9), (0.99)) v(p)
        )
        SELECT p,
               round(min((lead2 + 0.5)
                         * CAST('1e' || CAST(mag - 2 AS VARCHAR) AS DOUBLE)), 6)
                   AS est_value
        FROM q JOIN c ON c.cum >= CAST(ceil(p * c.total) AS BIGINT)
        GROUP BY p
    """,
    tags=("analytics", "sketch", "percentile"),
)
def log_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch as pure DataFrame algebra: HDR-style
    two-significant-digit buckets — (decimal magnitude, leading two
    digits) of each price — whose counts are a plain groupBy, so partial
    aggregation, cross-shard merging, and incremental maintenance are
    free, unlike percentile_approx's opaque state. Quantile = first
    bucket whose cumulative count crosses ⌈p·N⌉, estimated at the bucket
    midpoint; relative error ≤ 0.5/lead2 ≤ 5% by construction (pinned in
    tests/test_datasetops.py against exact percentiles).

    Cross-engine determinism is why the bucketing is STRING-based: log/
    pow are transcendental (not IEEE correctly-rounded, so Spark's JVM
    and DuckDB's libm may differ by an ulp exactly at a bucket
    boundary); integer decimal-digit extraction and a '1e<k>'-literal
    cast are bit-identical everywhere."""
    orders = load_table(spark, sf_dir, "orders")
    s = F.floor(F.col("o_totalprice")).cast("bigint").cast("string")
    b = (
        orders.filter(F.col("o_totalprice") >= 10)
        .select(
            F.length(s).alias("mag"),
            F.substring(s, 1, 2).cast("bigint").alias("lead2"),
        )
        .groupBy("mag", "lead2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = Window.orderBy(F.col("mag").asc(), F.col("lead2").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = b.select(
        "mag",
        "lead2",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    q = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "p double")
    est = (F.col("lead2") + 0.5) * F.concat(
        F.lit("1e"), (F.col("mag") - 2).cast("string")
    ).cast("double")
    return (
        q.join(c, F.col("cum") >= F.ceil(F.col("p") * F.col("total")).cast("bigint"))
        .groupBy("p")
        .agg(F.round(F.min(est), 6).alias("est_value"))
    )


@register(
    "chisq_source_lang_independence",
    oracle="""
        WITH obs AS (
            SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2
        ), m AS (
            SELECT source, sum(o) AS rs FROM obs GROUP BY 1
        ), c AS (
            SELECT lang, sum(o) AS cs FROM obs GROUP BY 1
        ), t AS (
            SELECT sum(o) AS n FROM obs
        ), grid AS (
            SELECT m.source, c.lang, coalesce(obs.o, 0) AS o,
                   CAST(m.rs AS DOUBLE) * c.cs / t.n AS e
            FROM m CROSS JOIN c CROSS JOIN t
            LEFT JOIN obs ON obs.source = m.source AND obs.lang = c.lang
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST((count(DISTINCT source) - 1) * (count(DISTINCT lang) - 1)
                    AS BIGINT) AS dof,
               round(CAST(sum(CAST((o - e) * (o - e) / e AS DECIMAL(38,12)))
                          AS DOUBLE), 6) AS chi_square
        FROM grid
    """,
    tags=("analytics", "statistics", "quality"),
)
def chisq_source_lang_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between document source and language —
    the drift/contingency check a corpus QA stage runs when one crawl
    source suddenly skews monolingual. Expected counts come from the
    row/column marginals (including structurally-zero cells via the
    marginal cross join — |sources|×|langs| rows, broadcast); the only
    corpus-sized pass is one grouped count. Per-cell terms are pure IEEE
    arithmetic (identical on both engines); the cross-cell sum goes
    through DECIMAL(38,12) so accumulation order cannot move the
    result."""
    docs = load_table(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("o"))
    m = obs.groupBy("source").agg(F.sum("o").alias("rs"))
    c = obs.groupBy("lang").agg(F.sum("o").alias("cs"))
    t = obs.agg(F.sum("o").alias("n"))
    grid = (
        m.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(t))
        .join(obs, on=["source", "lang"], how="left")
        .select(
            "source",
            "lang",
            F.coalesce("o", F.lit(0)).alias("o"),
            (F.col("rs").cast("double") * F.col("cs") / F.col("n")).alias("e"),
        )
    )
    term = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return grid.agg(
        F.count(F.lit(1)).alias("n_cells"),
        (
            (F.count_distinct(F.col("source")) - 1)
            * (F.count_distinct(F.col("lang")) - 1)
        ).cast("bigint").alias("dof"),
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double"), 6
        ).alias("chi_square"),
    )


@register(
    "attribution_time_decay",
    oracle="""
        WITH touches AS (
            SELECT user_id, ts, max(event_type) AS touch_type
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY user_id, ts
        ), purch AS (
            SELECT event_id, user_id, ts, value
            FROM events WHERE event_type = 'purchase'
        ), joined AS (
            SELECT p.event_id, p.value, t.touch_type,
                   CAST(1.0 / (1.0 + CAST(epoch_us(p.ts) - epoch_us(t.ts)
                                          AS DOUBLE) / 3600000000.0)
                        AS DECIMAL(38,12)) AS w_d
            FROM purch p
            LEFT JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts <= p.ts
             AND epoch_us(p.ts) - epoch_us(t.ts) <= 86400000000
        ), shared AS (
            SELECT event_id, value, touch_type, w_d,
                   sum(w_d) OVER (PARTITION BY event_id) AS sum_w
            FROM joined
        ), credited AS (
            SELECT CASE WHEN touch_type IS NULL THEN 'none'
                        ELSE touch_type END AS channel,
                   CASE WHEN touch_type IS NULL THEN value
                        ELSE value * CAST(w_d AS DOUBLE)
                                   / CAST(sum_w AS DOUBLE) END AS credit
            FROM shared
        )
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_credited_touches,
               round(CAST(sum(CAST(credit AS DECIMAL(38,12))) AS DOUBLE), 6)
                   AS attributed_value
        FROM credited GROUP BY channel
    """,
    tags=("analytics", "attribution", "behavioral"),
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every click/view in the 24h
    lookback shares a purchase's value, weighted 1/(1+Δhours) and
    normalized per purchase — the multi-touch generalization of
    attribution_last_touch. The decay is deliberately RATIONAL, not
    exp(−Δ/τ): transcendentals are not IEEE correctly-rounded, so the
    exponential form could differ in the last ulp across engines, while
    division is bit-exact everywhere. Per-purchase weight sums and the
    channel rollup accumulate in DECIMAL(38,12) (order-free); each
    credit term is pure IEEE arithmetic on identical inputs."""
    events = load_table(spark, sf_dir, "events")
    touches = _attribution_touches(events, ts_alias="tts")
    purch = _attribution_purchases(events, ts_alias="pts")
    gap_us = F.unix_micros("pts") - F.unix_micros("tts")
    joined = purch.join(
        touches,
        (purch["user_id"] == touches["user_id"])
        & (F.col("tts") <= F.col("pts"))
        & (gap_us <= 86_400_000_000),
        how="left",
    ).select(
        "event_id",
        "value",
        "touch_type",
        (F.lit(1.0) / (F.lit(1.0) + gap_us.cast("double") / F.lit(3.6e9)))
        .cast("decimal(38,12)")
        .alias("w_d"),
    )
    shared = joined.withColumn(
        "sum_w", F.sum("w_d").over(Window.partitionBy("event_id"))
    )
    credit = F.when(F.col("touch_type").isNull(), F.col("value")).otherwise(
        F.col("value") * F.col("w_d").cast("double") / F.col("sum_w").cast("double")
    )
    channel = F.coalesce(F.col("touch_type"), F.lit("none"))
    return (
        shared.select(channel.alias("channel"), credit.alias("credit"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credited_touches"),
            F.round(
                F.sum(F.col("credit").cast("decimal(38,12)")).cast("double"), 6
            ).alias("attributed_value"),
        )
    )


# Benford expected first-digit shares log10(1 + 1/d), d = 1..9, as shared
# literals on both engines (transcendental-free cross-engine determinism).
_BENFORD = {
    1: 0.301029995664,
    2: 0.176091259056,
    3: 0.124938736608,
    4: 0.096910013008,
    5: 0.079181246048,
    6: 0.066946789631,
    7: 0.057991946978,
    8: 0.051152522447,
    9: 0.045757490561,
}

_BENFORD_VALUES_SQL = ", ".join(f"({d}, {p!r})" for d, p in _BENFORD.items())


@register(
    "benford_price_digits",
    oracle=f"""
        WITH obs AS (
            SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                   count(*) AS n
            FROM orders WHERE o_totalprice >= 1
            GROUP BY 1
        ), t AS (SELECT sum(n) AS total FROM obs),
        exp_t AS (
            SELECT CAST(d AS BIGINT) AS digit, CAST(p AS DOUBLE) AS expected_pct
            FROM (VALUES {_BENFORD_VALUES_SQL}) v(d, p)
        )
        SELECT e.digit,
               CAST(coalesce(obs.n, 0) AS BIGINT) AS n,
               round(CAST(coalesce(obs.n, 0) AS DOUBLE) / t.total, 6)
                   AS observed_pct,
               round(e.expected_pct, 6) AS expected_pct,
               round(CAST(coalesce(obs.n, 0) AS DOUBLE) / t.total
                     - e.expected_pct, 6) + 0.0 AS deviation
        FROM exp_t e LEFT JOIN obs ON obs.digit = e.digit CROSS JOIN t
    """,
    tags=("analytics", "quality", "statistics"),
)
def benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order prices — the classic
    fabricated-data screen for numeric columns. Digit extraction is
    string-based (deterministic); the expected shares log10(1+1/d) are
    shared 12-digit literals on both engines, so no transcendental is
    evaluated at query time."""
    orders = load_table(spark, sf_dir, "orders")
    s = F.floor(F.col("o_totalprice")).cast("bigint").cast("string")
    obs = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(F.substring(s, 1, 1).cast("bigint").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = obs.agg(F.sum("n").alias("total"))
    exp_rows = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], "digit bigint, expected_pct double"
    )
    return (
        exp_rows.join(obs, on="digit", how="left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.round(
                F.coalesce("n", F.lit(0)).cast("double") / F.col("total"), 6
            ).alias("observed_pct"),
            F.round("expected_pct", 6).alias("expected_pct"),
            (
                F.round(
                    F.coalesce("n", F.lit(0)).cast("double") / F.col("total")
                    - F.col("expected_pct"),
                    6,
                )
                + F.lit(0.0)
            ).alias("deviation"),
        )
    )


@register(
    "grouped_value_quartiles",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(value, 0.25), 6) AS q1,
               round(quantile_cont(value, 0.5), 6) AS median,
               round(quantile_cont(value, 0.75), 6) AS q3
        FROM events
        GROUP BY event_type
    """,
    tags=("analytics", "percentile", "events"),
)
def grouped_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quartiles of event values: Spark's percentile
    aggregate and DuckDB's quantile_cont share the (n−1)·p linear-
    interpolation definition, so the cross-engine agreement certifies
    the implementation, not a mirrored plan. At scale exact grouped
    percentiles are one sort-based shuffle per group partition; the
    sketch alternative is log_histogram_quantiles."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("q1"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("q3"),
    )


@register(
    "rfm_segments",
    oracle="""
        WITH cu AS (
            SELECT o_custkey AS custkey,
                   max(o_orderdate) AS last_order,
                   CAST(count(*) AS BIGINT) AS frequency,
                   sum(CAST(o_totalprice AS DECIMAL(28,6))) AS monetary
            FROM orders GROUP BY o_custkey
        ), q AS (
            SELECT custkey,
                   ntile(5) OVER (ORDER BY last_order, custkey) AS r_q,
                   ntile(5) OVER (ORDER BY frequency, custkey) AS f_q,
                   ntile(5) OVER (ORDER BY monetary, custkey) AS m_q
            FROM cu
        )
        SELECT CAST(r_q AS BIGINT) AS r_q,
               CAST(f_q AS BIGINT) AS f_q,
               CAST(m_q AS BIGINT) AS m_q,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM q GROUP BY r_q, f_q, m_q
    """,
    tags=("analytics", "rfm", "segmentation"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency / frequency / monetary quintiles per
    customer (higher = better on each axis), reported as the 5×5×5
    segment-population cube marketing reads. Quintiles are exact
    ntile(5) with custkey tie-breaks (deterministic cross-engine);
    monetary sums in decimal.

    Scale (r5 VERDICT fix): "customer-dimension rollup" is not a bound
    — customers scale with the business, and the previous three
    partitionless ntile windows were 3× single-partition passes. Each
    axis now ranks via operators/datasetops.distributed_order_rank
    (bucketed rank + broadcast offsets, no partitionless window) and
    the quintile comes from the exact ntile arithmetic on that rank
    (q = n div 5, r = n mod 5, first r buckets one row bigger) with n
    broadcast from a one-row count — bit-identical to the oracle's
    ntile(5), plan-gated. The rollup's groupBy exchange is computed
    once and reused across the axis consumers (AQE exchange reuse);
    the orders scan stays one partial-aggregable groupBy."""
    from data_eng_project_spark.operators.datasetops import distributed_order_rank

    orders = load_table(spark, sf_dir, "orders")
    # No materialization of the rollup fan-out (r13, measured: lc
    # 1.870 s vs no-cache 1.792 s min-of-6): the groupBy exchange is
    # reused across the three quintile consumers + n1 at runtime, and
    # recompute keeps lineage replayable (§5).
    cu = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("monetary"),
    )
    n1 = cu.agg(F.count(F.lit(1)).alias("_n"))

    def _quintile(axis_col: str, out: str, image=None) -> DataFrame:
        ranked = distributed_order_rank(
            cu.select("custkey", axis_col), axis_col, ["custkey"],
            image=image, out_col="_r",
        )
        withn = ranked.join(F.broadcast(n1))
        # Exact ntile(5) from the global rank: the first (n mod 5)
        # buckets hold (n div 5)+1 rows, the rest (n div 5). With
        # n < 5 the otherwise-branch divisor is 0 → NULL, but the
        # when-branch then covers every rank, so it is never selected.
        tile = F.when(
            F.col("_r") <= F.expr("(_n % 5) * ((_n div 5) + 1)"),
            F.expr("((_r - 1) div ((_n div 5) + 1)) + 1"),
        ).otherwise(
            F.expr(
                "(_n % 5) + ((_r - (_n % 5) * ((_n div 5) + 1) - 1)"
                " div (_n div 5)) + 1"
            )
        )
        return withn.select("custkey", tile.cast("bigint").alias(out))

    q = (
        # Image need only be monotone NON-strict (image ties merge
        # buckets, never reorder) — so day truncation of the NTZ
        # timestamp is a valid bucketing image.
        _quintile(
            "last_order",
            "r_q",
            image=F.unix_date(F.col("last_order").cast("date")).cast("double"),
        )
        .join(_quintile("frequency", "f_q"), "custkey")
        .join(_quintile("monetary", "m_q"), "custkey")
    )
    return q.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


@register(
    "funnel_time_to_convert",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS tv FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS tc
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.tv
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS tp
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.tc
            GROUP BY e.user_id
        ), d AS (
            SELECT p.user_id,
                   (epoch_us(p.tp) - epoch_us(v.tv)) / 60000000.0 AS mins
            FROM p JOIN v ON p.user_id = v.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(mins, 0.25), 6) AS q1_minutes,
               round(quantile_cont(mins, 0.5), 6) AS median_minutes,
               round(quantile_cont(mins, 0.75), 6) AS q3_minutes,
               round(max(mins), 6) AS max_minutes
        FROM d
    """,
    tags=("analytics", "funnel", "latency"),
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel's latency dimension: for users completing
    view→click→purchase (same stage chaining as funnel_conversion),
    exact quartiles of total minutes from first view to converting
    purchase — the time-to-convert profile behind campaign-window
    decisions. Exact percentile over the converter rollup (one row per
    converting user)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v, c, p = _funnel_stage_times(ev)
    d = p.join(v, on="user_id").select(
        (
            (F.unix_micros("tp") - F.unix_micros("tv")) / F.lit(60000000.0)
        ).alias("mins")
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(mins, 0.25)"), 6).alias("q1_minutes"),
        F.round(F.expr("percentile(mins, 0.5)"), 6).alias("median_minutes"),
        F.round(F.expr("percentile(mins, 0.75)"), 6).alias("q3_minutes"),
        F.round(F.max("mins"), 6).alias("max_minutes"),
    )


@register(
    "new_vs_returning_hourly",
    oracle="""
        WITH f AS (
            SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
        )
        SELECT date_trunc('hour', e.ts) AS window_start,
               CAST(count(DISTINCT CASE WHEN e.ts = f.first_ts
                                        THEN e.user_id END)
                    AS BIGINT) AS n_new_users,
               CAST(count(DISTINCT CASE WHEN e.ts > f.first_ts
                                        THEN e.user_id END)
                    AS BIGINT) AS n_returning_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events e JOIN f ON e.user_id = f.user_id
        GROUP BY 1
    """,
    tags=("analytics", "growth", "events"),
)
def new_vs_returning_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth decomposition: per hour, users seen for the first time
    ever vs returning users active in that hour — the acquisition /
    retention split every growth dashboard leads with. Both columns
    count USERS (distinct), so a user with two events at an identical
    first timestamp is one new user, keeping the two columns in the
    same unit. First-seen times are one user-keyed aggregate
    (broadcastable at dimension scale); the hourly rollup is a single
    conditional aggregate over the fact scan."""
    events = load_table(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = events.join(f, on="user_id")
    return joined.groupBy(
        F.date_trunc("hour", "ts").alias("window_start")
    ).agg(
        F.countDistinct(
            F.when(F.col("ts") == F.col("first_ts"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_new_users"),
        F.countDistinct(
            F.when(F.col("ts") > F.col("first_ts"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("n_returning_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "order_lead_time_quartiles",
    oracle="""
        WITH lt AS (
            SELECT o.o_orderpriority,
                   CAST(date_diff('day', o.o_orderdate, min(l.l_shipdate)) AS BIGINT)
                       AS days
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(quantile_cont(days, 0.25), 6) AS q1_days,
               round(quantile_cont(days, 0.5), 6) AS median_days,
               round(quantile_cont(days, 0.75), 6) AS q3_days,
               CAST(max(days) AS BIGINT) AS max_days
        FROM lt GROUP BY o_orderpriority
    """,
    tags=("analytics", "latency", "tpch-shape"),
)
def order_lead_time_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment latency: per order priority, exact quartiles of days
    from order date to FIRST shipment — the ops-SLA readout. One
    orders⋈lineitem equi-join rolled up per order (partial-aggregable
    min), then a priority-keyed exact percentile over the order-sized
    rollup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lt = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            "o_orderpriority",
            F.datediff("first_ship", "o_orderdate").cast("bigint").alias("days"),
        )
    )
    return lt.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.expr("percentile(days, 0.25)"), 6).alias("q1_days"),
        F.round(F.expr("percentile(days, 0.5)"), 6).alias("median_days"),
        F.round(F.expr("percentile(days, 0.75)"), 6).alias("q3_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


@register(
    "part_supplier_hhi",
    oracle="""
        WITH s AS (
            SELECT l_partkey, l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS rev
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), t AS (
            SELECT l_partkey,
                   CAST(count(*) AS BIGINT) AS n_suppliers,
                   sum(rev) AS tot
            FROM s GROUP BY l_partkey
        )
        SELECT s.l_partkey,
               t.n_suppliers,
               round(CAST(sum(CAST(
                   (CAST(s.rev AS DOUBLE) / CAST(t.tot AS DOUBLE))
                   * (CAST(s.rev AS DOUBLE) / CAST(t.tot AS DOUBLE))
                   AS DECIMAL(38,18))) AS DOUBLE), 6) AS hhi
        FROM s JOIN t ON s.l_partkey = t.l_partkey
        GROUP BY s.l_partkey, t.n_suppliers
        HAVING t.n_suppliers >= 2
    """,
    tags=("analytics", "supply-chain", "concentration"),
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration risk: per part (with ≥2 suppliers), the
    Herfindahl–Hirschman index of supplier revenue shares — HHI → 1
    means one supplier dominates that part, the single-source-risk
    flag a procurement review sorts by. Two partial-aggregable
    rollups; decimal share-square sums so partition order cannot move
    the 6-dp result."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).alias("rev")
    )
    t = s.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        F.sum("rev").alias("tot"),
    )
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    return (
        s.join(t, on="l_partkey")
        .groupBy("l_partkey", "n_suppliers")
        .agg(
            F.round(
                F.sum((share * share).cast("decimal(38,18)")).cast("double"), 6
            ).alias("hhi")
        )
        .filter(F.col("n_suppliers") >= 2)
    )


@register(
    "weekly_growth_rates",
    oracle="""
        WITH w AS (
            SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk, event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT wk AS week_start, event_type, n,
               CAST(lag(n) OVER (
                   PARTITION BY event_type ORDER BY wk
               ) AS BIGINT) AS prev_n,
               round(CASE
                   WHEN lag(n) OVER (PARTITION BY event_type ORDER BY wk) > 0
                   THEN CAST(n AS DOUBLE)
                        / lag(n) OVER (PARTITION BY event_type ORDER BY wk)
                        - 1.0
               END, 6) + 0.0 AS wow_growth
        FROM w
    """,
    tags=("analytics", "growth", "timeseries"),
)
def weekly_growth_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly rollup + lag
    window over the rollup-sized series — the dashboard growth-rate
    table, NULL on the first week of each series. The window runs on
    |weeks|×|types| rows, never the fact table."""
    events = load_table(spark, sf_dir, "events")
    w = events.groupBy(
        F.date_trunc("week", "ts").alias("week_start"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    win = Window.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n").over(win)
    return w.select(
        "week_start",
        "event_type",
        "n",
        prev.cast("bigint").alias("prev_n"),
        (
            F.round(
                F.when(prev > 0, F.col("n").cast("double") / prev - 1.0), 6
            )
            + 0.0
        ).alias("wow_growth"),
    )


@register(
    "clv_cohort_curves",
    oracle="""
        WITH fo AS (
            SELECT o_custkey,
                   date_trunc('month', min(o_orderdate)) AS cohort
            FROM orders GROUP BY o_custkey
        ), x AS (
            SELECT fo.cohort,
                   date_diff('month', fo.cohort,
                             date_trunc('month', o.o_orderdate)) AS age_m,
                   CAST(o.o_totalprice AS DECIMAL(28,6)) AS rev
            FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
        ), sz AS (
            SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
            FROM fo GROUP BY cohort
        ), m AS (
            SELECT cohort, age_m, sum(rev) AS rev_m
            FROM x GROUP BY cohort, age_m
        )
        SELECT strftime(m.cohort, '%Y-%m') AS cohort_month,
               CAST(m.age_m AS BIGINT) AS months_since_first,
               sz.cohort_users,
               round(CAST(sum(m.rev_m) OVER (
                   PARTITION BY m.cohort ORDER BY m.age_m
               ) AS DOUBLE) / sz.cohort_users, 6) AS cum_rev_per_user
        FROM m JOIN sz ON sz.cohort = m.cohort
    """,
    tags=("analytics", "cohort", "clv"),
)
def clv_cohort_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value curves: acquisition cohort (month of
    first order) × months-since-first → cumulative revenue per
    cohort member — the retention economics table. Fact work is two
    partial-aggregable rollups; the cumulative window runs on the
    cohorts×months grid. Decimal revenue accumulation end to end."""
    orders = load_table(spark, sf_dir, "orders")
    fo = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    x = orders.join(fo, on="o_custkey").select(
        "cohort",
        (
            (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort")) * 12
            + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort"))
        ).alias("age_m"),
        F.col("o_totalprice").cast("decimal(28,6)").alias("rev"),
    )
    sz = fo.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    m = x.groupBy("cohort", "age_m").agg(F.sum("rev").alias("rev_m"))
    w = Window.partitionBy("cohort").orderBy("age_m")
    return (
        m.join(sz, on="cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.col("age_m").cast("bigint").alias("months_since_first"),
            "cohort_users",
            F.round(
                F.sum("rev_m").over(w).cast("double") / F.col("cohort_users"), 6
            ).alias("cum_rev_per_user"),
        )
    )


@register(
    "discount_band_effects",
    oracle="""
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)
                   AS total_qty,
               round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(28,6))) AS DOUBLE), 2)
                   AS net_revenue,
               round(CAST(sum(CAST(l_extendedprice * l_discount
                                   AS DECIMAL(28,6))) AS DOUBLE), 2)
                   AS discount_given
        FROM lineitem
        GROUP BY 1
    """,
    tags=("analytics", "pricing"),
)
def discount_band_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing-lever readout: per whole-percent discount band, line
    volume, quantity moved, net revenue, and revenue given away — the
    q19-flavored scan every pricing review starts from. One
    partial-aggregable rollup with decimal money math."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.round(F.col("l_discount") * 100).cast("bigint").alias("discount_pct")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_qty"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,6)"
                )
            ).cast("double"),
            2,
        ).alias("net_revenue"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(28,6)"
                )
            ).cast("double"),
            2,
        ).alias("discount_given"),
    )


@register(
    "supplier_ship_delay",
    oracle="""
        WITH x AS (
            SELECT l.l_suppkey,
                   date_diff('day', o.o_orderdate, l.l_shipdate) AS delay
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               round(CAST(sum(CAST(delay AS DECIMAL(28,6))) AS DOUBLE)
                     / count(*), 6) AS avg_delay_days,
               CAST(sum(CASE WHEN delay <= 30 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_within_30d,
               round(CAST(sum(CASE WHEN delay <= 30 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS within_30d_rate,
               CAST(max(delay) AS BIGINT) AS worst_delay_days
        FROM x GROUP BY l_suppkey HAVING count(*) >= 20
    """,
    tags=("analytics", "sla", "supply-chain"),
)
def supplier_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier ship-delay scorecard: per supplier (≥20 lines), mean
    days from order to shipment, the ≤30-day rate, and the worst
    delay — the vendor SLA row (this schema carries no commit date, so
    order date is the clock). One equi-join + conditional rollup with
    decimal-exact delay sums."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    x = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").alias("delay"),
    )
    within = F.when(F.col("delay") <= 30, 1).otherwise(0)
    return (
        x.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(F.col("delay").cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_delay_days"),
            F.sum(within).cast("bigint").alias("n_within_30d"),
            F.round(F.sum(within) / F.count(F.lit(1)), 6).alias("within_30d_rate"),
            F.max("delay").cast("bigint").alias("worst_delay_days"),
        )
        .filter(F.col("n_lines") >= 20)
    )


@register(
    "order_status_mix_monthly",
    oracle="""
        WITH m AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS order_month,
                   o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        ), t AS (
            SELECT order_month, CAST(sum(n) AS BIGINT) AS tot
            FROM m GROUP BY order_month
        )
        SELECT m.order_month, m.o_orderstatus, m.n,
               round(CAST(m.n AS DOUBLE) / t.tot, 6) AS share
        FROM m JOIN t USING (order_month)
    """,
    tags=("analytics", "mix", "timeseries"),
)
def order_status_mix_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status composition per month with within-month shares —
    the fulfillment-mix trend (a growing 'F' share means the backlog
    is clearing). Rollup + broadcast month totals."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "order_month"
        ),
        "o_orderstatus",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = m.groupBy("order_month").agg(F.sum("n").cast("bigint").alias("tot"))
    return m.join(F.broadcast(t), on="order_month").select(
        "order_month",
        "o_orderstatus",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("share"),
    )
