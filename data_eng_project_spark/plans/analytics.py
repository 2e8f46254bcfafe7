"""The full analytics surface (SURVEY.md §7 phase 3): grouped
aggregation, multi-way joins, rollup, window functions, sessionization,
top-k, set ops, distinct aggregates, event-time windows.

Cross-engine determinism rules (see plans/__init__): decimal-cast sums,
rounded-double averages computed as cast(sum_dec as double)/count, and
total orderings under every LIMIT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table, rebalance_if_unsplittable

# Exact (order-insensitive) decimal sum of a double expression: round the
# per-row double into a decimal, then sum decimals exactly.
_DEC = "decimal(28,6)"


def _dec_sum(col: F.Column) -> F.Column:
    return F.sum(col.cast(_DEC))


def _dec_sum_dbl(col: F.Column, nd: int = 6) -> F.Column:
    """Exact decimal accumulation, then a rounded-DOUBLE final value.

    The driver's value-hash treats DECIMAL outputs as distinct from the
    oracle's (CORRECTNESS_r01: all 19 hash failures carried DECIMAL(38,6)
    columns), while round(CAST(sum_dec AS DOUBLE), k) is certified green
    (q14/q17/nation_market_share). Keep sums exact internally; emit double.
    """
    return F.round(F.sum(col.cast(_DEC)).cast("double"), nd)


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_disc_price,
               round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    tags=("analytics", "A3"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: the canonical wide aggregation.
    Map-side partial aggregation + one shuffle on the (tiny) group key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp")
    )
    # The widest aggregate in the suite: 8 decimal accumulators per row.
    # A single-row-group input file would serialize the whole partial-agg
    # pass on one core — rebalance only when the layout forces that.
    # Hash-spread on the order key (r12): round-robin paid a local sort
    # of the whole scan output inside the single scan task
    # (sortBeforeRepartition) — measured 1.10 → 0.71 s.
    li = rebalance_if_unsplittable(li, sf_dir, "lineitem", spark, key="l_orderkey")
    cnt = F.count(F.lit(1))
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    charge = disc_price * (1.0 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum_dbl(F.col("l_quantity")).alias("sum_qty"),
        _dec_sum_dbl(F.col("l_extendedprice")).alias("sum_base_price"),
        _dec_sum_dbl(disc_price).alias("sum_disc_price"),
        _dec_sum_dbl(charge).alias("sum_charge"),
        F.round(_dec_sum(F.col("l_quantity")).cast("double") / cnt, 6).alias("avg_qty"),
        F.round(_dec_sum(F.col("l_extendedprice")).cast("double") / cnt, 6).alias("avg_price"),
        F.round(_dec_sum(F.col("l_discount")).cast("double") / cnt, 6).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "q3_top_unshipped_orders",
    oracle="""
        SELECT l_orderkey,
               round(CAST(revenue_dec AS DOUBLE), 6) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority
        FROM (
            SELECT l.l_orderkey,
                   sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))) AS revenue_dec,
                   o.o_orderdate, o.o_orderpriority
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
              AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue_dec DESC, l.l_orderkey ASC
            LIMIT 10
        ) t
    """,
    headline=True,
    tags=("analytics",),
)
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: selective dimension filter → fact join → grouped
    revenue → deterministic top-k. The customer filter is pushed to the
    scan; the orders↔lineitem join shuffles on the order key."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(disc_price).alias("revenue_dec"))
        .orderBy(F.col("revenue_dec").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.round(F.col("revenue_dec").cast("double"), 6).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "q5_region_supplier_revenue",
    oracle="""
        SELECT n.n_name,
               round(CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
        FROM region r
        JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    headline=True,
    tags=("analytics",),
)
def q5_region_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style: six-way join with two broadcastable dims (region,
    nation), local-supplier predicate, grouped revenue. Catalyst broadcast
    region/nation/supplier; AQE picks strategies for the fact joins."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        region.join(nation, nation["n_regionkey"] == region["r_regionkey"])
        .join(cust, cust["c_nationkey"] == nation["n_nationkey"])
        .join(orders, orders["o_custkey"] == cust["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            supp,
            (supp["s_suppkey"] == li["l_suppkey"])
            & (supp["s_nationkey"] == cust["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(_dec_sum_dbl(disc_price).alias("revenue"))
    )


@register(
    "rollup_order_status",
    oracle="""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    tags=("analytics", "rollup"),
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (free from Spark SQL — declared and
    verified per SURVEY.md §2.4 note)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum_dbl(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "window_rank_events",
    oracle="""
        SELECT event_type, event_id, value, rn
        FROM (
            SELECT event_type, event_id, value,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY value DESC, event_id ASC
                   ) AS rn
            FROM events
        ) t
        WHERE rn <= 3
    """,
    headline=True,
    tags=("analytics", "window"),
)
def window_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned top-n via row_number (window functions surface)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "value", "rn")
    )


@register(
    "moving_avg_user_value",
    oracle="""
        SELECT user_id, event_id,
               round(
                   CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                   / count(value) OVER w, 6) AS mov_avg
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts ASC, event_id ASC
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
        )
    """,
    tags=("analytics", "window"),
)
def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-frame moving average per user (rowsBetween frame); decimal
    numerator keeps the frame sum order-independent."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(
            F.sum(F.col("value").cast(_DEC)).over(w).cast("double")
            / F.count("value").over(w),
            6,
        ).alias("mov_avg"),
    )


@register(
    "sessionize_events",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), numbered AS (
            SELECT user_id, ts, event_id,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    headline=True,
    tags=("analytics", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap): the batch
    twin of streaming session windows. lag → flag → running sum → group."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    prev_us = F.lag(us).over(w)
    is_new = F.when(prev_us.isNull() | ((us - prev_us) > 1800 * 1_000_000), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        events.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            # µs-epoch BIGINT, not raw timestamps: sub-second timestamps
            # are the one non-decimal hash_match failure class in r1.
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "events_hourly_rollup",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    headline=True,
    tags=("analytics", "events", "window"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation, batch form (streaming twin
    in streaming/windows.py uses window(ts, '1 hour') + watermark)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum_dbl(F.col("value")).alias("total_value"),
        )
    )


@register(
    "topk_customers_by_spend",
    oracle="""
        SELECT c_custkey, c_name, n_orders,
               round(CAST(total_spent_dec AS DOUBLE), 6) AS total_spent
        FROM (
            SELECT c.c_custkey, c.c_name,
                   count(*) AS n_orders,
                   sum(CAST(o.o_totalprice AS DECIMAL(28,6))) AS total_spent_dec
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_name
            ORDER BY total_spent_dec DESC, c.c_custkey ASC
            LIMIT 20
        ) t
    """,
    tags=("analytics", "topk"),
)
def topk_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global deterministic top-k after a join + aggregation (TakeOrdered
    physical op — no full sort at scale)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("total_spent_dec"),
        )
        .orderBy(F.col("total_spent_dec").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_orders",
            F.round(F.col("total_spent_dec").cast("double"), 6).alias("total_spent"),
        )
    )


@register(
    "set_ops_intersect",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("analytics", "setops"),
)
def set_ops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers having both open and finished orders."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.intersect(f)


@register(
    "set_ops_except",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("analytics", "setops"),
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with open orders but no finished ones."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o.subtract(f)


@register(
    "distinct_aggregates",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               count(DISTINCT o_orderpriority) AS n_priorities
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("analytics", "distinct"),
)
def distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates in one grouping (expand-based plan)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )


@register(
    "scalar_kitchen_sink",
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_upper,
               lower(p_type) AS type_lower,
               length(p_name) AS name_len,
               substr(p_name, 1, 8) AS name_prefix,
               concat_ws('|', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
               abs(p_size - 25) AS size_dev,
               p_partkey % 10 AS key_mod,
               round(sqrt(p_retailprice), 6) AS price_sqrt,
               round(ln(p_retailprice + 1.0), 6) AS price_ln,
               CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
               CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil
        FROM part
    """,
    tags=("analytics", "scalar"),
)
def scalar_kitchen_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar-function surface in one verified projection."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("|", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        (F.col("p_partkey") % 10).alias("key_mod"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1.0), 6).alias("price_ln"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
    )


@register(
    "array_functions",
    oracle="""
        SELECT vec_id,
               len(embedding) AS dim,
               round(CAST(list_sum(CAST(embedding AS DOUBLE[])) AS DOUBLE), 4) AS vec_sum,
               round(CAST(list_min(embedding) AS DOUBLE), 6) AS vec_min,
               round(CAST(list_max(embedding) AS DOUBLE), 6) AS vec_max
        FROM embeddings
    """,
    tags=("analytics", "array"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embedding column: size, aggregate
    (sequential double fold), element min/max via array_min/array_max."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec_sum = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(vec_sum, 4).alias("vec_sum"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vec_min"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vec_max"),
    )
