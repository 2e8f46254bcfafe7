"""Temporal-join query surface: backward as-of join and bounded-gap
interval self-join over the ``events`` stream table.

The reference has no temporal joins (SURVEY.md §2.3); these are the
standard time-series extensions, implemented scale-first in
operators/temporal.py (union-merge as-of: one shuffle, no explosion;
bucketed range join: inequality → equi-join). DuckDB's native ASOF JOIN
and inequality joins provide independent oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.operators.temporal import (
    asof_join,
    hourly_ohlc,
    range_pairs,
    time_weighted_avg,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table


@register(
    "asof_latest_order",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id,
               o.o_orderkey AS asof_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS asof_orderdate
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    tags=("temporal", "asof"),
    headline=True,
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent order at event time
    (backward inclusive as-of).

    The oracle pre-aggregates the right side to max(o_orderkey) per
    (custkey, orderdate); here raw orders feed the as-of union directly
    (r12): asof_join's tie-break orders (key, ts) duplicates by the
    payload struct, whose leading field is o_orderkey, so last() over a
    tie group IS max(o_orderkey) — the same value the aggregate
    produced, without the aggregate's exchange + two hash passes
    (measured 0.87 → 0.68 s; verified row-identical at sf0.1)."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey"
    )
    out = asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.date_format("asof_o_orderdate", "yyyy-MM-dd").alias("asof_orderdate"),
    )


@register(
    "events_within_minute",
    oracle="""
        SELECT a.event_type,
               a.event_id AS id_a,
               b.event_id AS id_b,
               epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        FROM events a
        JOIN events b
          ON a.event_type = b.event_type
         AND b.ts > a.ts
         AND b.ts <= a.ts + INTERVAL 1 MINUTE
    """,
    tags=("temporal", "rangejoin"),
)
def events_within_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs of same-type events ≤ 1 minute apart — an interval
    self-join the oracle runs as a pure inequality join; ours compiles to
    a bucketed equi-join (see range_pairs) whose shuffle stays linear."""
    events = load_table(spark, sf_dir, "events")
    pairs = range_pairs(
        events, ts_col="ts", id_col="event_id", max_gap_seconds=60,
        partition_cols=["event_type"],
    )
    return pairs.select("event_type", "id_a", "id_b", "gap_us")


@register(
    "ewma_user_values",
    # The recurrence y_t = α·x_t + (1−α)·y_{t−1} is not window-frame
    # expressible, but a recursive CTE walks it per user by sequence
    # number — recursion depth = max events per user, each step one
    # equi-join. Both engines evaluate the identical double recurrence
    # in the identical order (pandas ewm(adjust=False) divides by
    # old_wt+new_wt, which is exactly 1.0 for α=0.3), then round once.
    # NULL values are excluded from the series on BOTH sides (operator
    # filter + WHERE here): pandas ewm renormalizes across a NaN while
    # this recurrence would cascade NULL — dropping is the one semantics
    # both engines state identically (r5 review).
    oracle="""
        WITH RECURSIVE e AS (
            SELECT event_id, user_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS seq
            FROM events WHERE value IS NOT NULL
        ), ew AS (
            SELECT event_id, user_id, value, seq, value AS y
            FROM e WHERE seq = 1
            UNION ALL
            SELECT e.event_id, e.user_id, e.value, e.seq,
                   CAST(0.3 AS DOUBLE) * e.value
                   + CAST(0.7 AS DOUBLE) * ew.y
            FROM e JOIN ew ON e.user_id = ew.user_id AND e.seq = ew.seq + 1
        )
        SELECT event_id, user_id, value, round(y, 6) AS ewma FROM ew
    """,
    tags=("temporal", "stateful", "pandas-udf"),
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (α=0.3) — the order-dependent
    recurrence computed via applyInPandas (see operators/temporal.
    ewma_per_key); one key-hash shuffle, vectorized pandas inside."""
    from data_eng_project_spark.operators.temporal import ewma_per_key

    return ewma_per_key(load_table(spark, sf_dir, "events"))


@register(
    "incremental_rollup_merge",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("temporal", "incremental", "rollup"),
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the hourly rollup is built
    INCREMENTALLY — partial-aggregate state from the 'historical' half of
    events (event_id even) merged with the state of the 'new batch' half
    (event_id odd) — and must equal the oracle's one-shot full rollup
    exactly (counts and decimal sums are associative). The merge touches
    only rollup-sized state, never historical events — the maintenance
    pattern that keeps a 100 TB events lake's serving rollup fresh at
    delta cost (see operators/temporal.merge_rollup_states)."""
    from data_eng_project_spark.operators.temporal import (
        finalize_rollup,
        hourly_rollup_state,
        merge_rollup_states,
    )

    events = load_table(spark, sf_dir, "events")
    history = hourly_rollup_state(events.filter(F.col("event_id") % 2 == 0))
    new_batch = hourly_rollup_state(events.filter(F.col("event_id") % 2 == 1))
    return finalize_rollup(merge_rollup_states(history, new_batch))


@register(
    "time_weighted_avg_user",
    oracle="""
        WITH p AS (
            SELECT user_id AS key,
                   epoch_us(lead(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )) - epoch_us(ts) AS dt_us,
                   CAST(value AS DECIMAL(12,2)) AS v
            FROM events
        ), a AS (
            SELECT key, count(*) AS n_obs, sum(dt_us) AS span_us,
                   sum(v * CAST(dt_us AS DECIMAL(18,0))) AS wsum
            FROM p GROUP BY key
        )
        SELECT key AS user_id,
               CAST(n_obs AS BIGINT) AS n_obs,
               CAST(span_us AS BIGINT) AS span_us,
               round(CAST(wsum AS DOUBLE) / CAST(span_us AS DOUBLE), 6) AS twa
        FROM a WHERE n_obs >= 2 AND span_us > 0
    """,
    tags=("temporal", "timeseries", "twa"),
)
def time_weighted_avg_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of event value (irregular-sampling
    mean: each value weighted by how long it stayed current — the
    TimescaleDB time_weight shape). Exact decimal×microsecond weighted
    sums; only the final division is floating point."""
    events = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        events, key_col="user_id", ts_col="ts", value_col="value",
        order_tiebreak="event_id",
    ).withColumnRenamed("key", "user_id")


@register(
    "events_hourly_ohlc",
    oracle="""
        WITH r AS (
            SELECT date_trunc('hour', ts) AS hour_start, value AS v,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY ts ASC, event_id ASC
                   ) AS ra,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rd
            FROM events
        )
        SELECT hour_start, CAST(count(*) AS BIGINT) AS n_events,
               max(CASE WHEN ra = 1 THEN v END) AS open,
               max(v) AS high, min(v) AS low,
               max(CASE WHEN rd = 1 THEN v END) AS close
        FROM r GROUP BY hour_start
    """,
    tags=("temporal", "timeseries", "ohlc"),
)
def events_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candlesticks over the event value stream — classic
    monitoring downsample. Open/close resolved by rank-1 rows of
    deterministic asc/desc windows (identical tie handling on both
    engines); values pass through with no arithmetic."""
    events = load_table(spark, sf_dir, "events")
    return hourly_ohlc(
        events, ts_col="ts", value_col="value", order_tiebreak="event_id"
    )


@register(
    "hour_of_week_profile",
    oracle="""
        WITH e AS (
            SELECT CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
                   CAST(hour(ts) AS BIGINT) AS hod,
                   value AS v
            FROM events
        )
        SELECT dow, hod, CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
                   + 0.0 AS avg_value
        FROM e GROUP BY dow, hod
    """,
    tags=("temporal", "timeseries", "seasonal"),
)
def hour_of_week_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """168-slot hour-of-week seasonal profile of the event stream — the
    baseline table behind seasonality-aware anomaly detection. Day-of-
    week comes from pure epoch arithmetic ((days+4) % 7, Sunday=0) so
    both engines agree without touching locale-dependent date parts."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            # exact integer `div` (not double-division + floor, whose
            # exactness silently depends on the timestamp range)
            (F.expr("unix_micros(ts) div 86400000000") + 4)
            .cast("bigint")
            .alias("_d"),
            F.hour("ts").cast("bigint").alias("hod"),
            F.col("value").alias("v"),
        )
        .select((F.col("_d") % 7).alias("dow"), "hod", "v")
        .groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.round(
                    F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_value"),
        )
    )


@register(
    "seasonal_anomaly_events",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, value AS v,
                   CAST((epoch_us(ts) // 86400000000 + 4) % 7 AS BIGINT) AS dow,
                   CAST(hour(ts) AS BIGINT) AS hod
            FROM events
        ), prof AS (
            SELECT dow, hod, count(*) AS n,
                   CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mu,
                   CAST(sum(CAST(v * v AS DECIMAL(28,6))) AS DOUBLE) / count(*)
                     - (CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                       * (CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*))
                       AS var
            FROM e GROUP BY dow, hod
        )
        SELECT e.event_id, e.user_id, e.dow, e.hod,
               round(e.v, 6) AS value,
               round((e.v - p.mu) / sqrt(p.var), 6) + 0.0 AS seasonal_z
        FROM e JOIN prof p ON e.dow = p.dow AND e.hod = p.hod
        WHERE p.var > 0 AND abs((e.v - p.mu) / sqrt(p.var)) > 2.0
        ORDER BY abs((e.v - p.mu) / sqrt(p.var)) DESC, e.event_id ASC
        LIMIT 100
    """,
    tags=("temporal", "timeseries", "seasonal", "quality"),
)
def seasonal_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-conditioned outliers: events > 2σ from their OWN
    hour-of-week slot (the global z-score twin is zscore_outlier_events;
    conditioning on the 168-slot profile is what stops nightly troughs
    flagging every daytime peak). Profile join is 168 rows — broadcast;
    decimal sums keep μ/σ² order-free; top-100 with a total tie-break."""
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        "user_id",
        F.col("value").alias("v"),
        ((F.expr("unix_micros(ts) div 86400000000") + 4) % 7)
        .cast("bigint")
        .alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    )
    dec = F.col("v").cast("decimal(28,6)")
    prof = e.groupBy("dow", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("mu"),
        (
            F.sum((F.col("v") * F.col("v")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
            - (F.sum(dec).cast("double") / F.count(F.lit(1)))
            * (F.sum(dec).cast("double") / F.count(F.lit(1)))
        ).alias("var"),
    )
    z = (F.col("v") - F.col("mu")) / F.sqrt(F.col("var"))
    return (
        e.join(F.broadcast(prof), on=["dow", "hod"])
        .filter((F.col("var") > 0) & (F.abs(z) > 2.0))
        .select(
            "event_id",
            "user_id",
            "dow",
            "hod",
            F.round(F.col("v"), 6).alias("value"),
            (F.round(z, 6) + F.lit(0.0)).alias("seasonal_z"),
            F.abs(z).alias("_absz"),
        )
        .orderBy(F.col("_absz").desc(), F.col("event_id").asc())
        .limit(100)
        .drop("_absz")
    )


@register(
    "acf_event_counts",
    oracle="""
        WITH hc AS (
            SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT a.event_type, l.lag,
                   CAST(a.n AS DECIMAL(28,6)) AS x,
                   CAST(b.n AS DECIMAL(28,6)) AS y
            FROM hc a
            CROSS JOIN (SELECT unnest(range(1, 7)) AS lag) l
            JOIN hc b
              ON b.event_type = a.event_type AND b.h = a.h - l.lag
        ), s AS (
            SELECT event_type, lag,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(x) AS DOUBLE) AS sx,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(x * x) AS DOUBLE) AS sxx,
                   CAST(sum(y * y) AS DOUBLE) AS syy,
                   CAST(sum(x * y) AS DOUBLE) AS sxy
            FROM lagged GROUP BY 1, 2
        )
        SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
               round(CASE
                   WHEN (n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)
                        <= 0 THEN NULL
                   ELSE (n_pairs * sxy - sx * sy)
                        / sqrt((n_pairs * sxx - sx * sx)
                               * (n_pairs * syy - sy * sy))
               END, 6) + 0.0 AS acf
        FROM s
    """,
    tags=("temporal", "diagnostics", "acf"),
)
def acf_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation diagnostics of the hourly event-rate series:
    Pearson r between each type's hourly counts and the same series
    lagged 1–6 hours — the periodicity screen run before picking
    seasonal-anomaly windows or forecasting features. Exact: integer
    counts accumulate in DECIMAL, the Pearson formula then runs on the
    exact sums in double — identical on both engines regardless of
    partitioning. Costs one rollup + one rollup-sized self-join per
    lag (the lag fan-out is an explode over 6 values, not a shuffle
    multiplier: everything is keyed by event_type)."""
    events = load_table(spark, sf_dir, "events")
    hc = (
        events.groupBy(
            F.expr("unix_micros(date_trunc('hour', ts)) div 3600000000").alias("h"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        # No materialization (r13, measured tie: lc 0.452 s vs
        # no-cache 0.462 s min-of-6): the rollup's groupBy exchange is
        # reused on both sides of the lag self-join at runtime, and
        # recompute keeps lineage replayable on executor loss (§5).
    )
    a = hc.select(
        "event_type",
        F.col("h").alias("_ha"),
        F.col("n").cast("decimal(28,6)").alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(6))).alias("lag"),
    )
    b = hc.select(
        F.col("event_type").alias("_et"),
        F.col("h").alias("_hb"),
        F.col("n").cast("decimal(28,6)").alias("y"),
    )
    lagged = a.join(
        b,
        (F.col("_et") == F.col("event_type"))
        & (F.col("_hb") == F.col("_ha") - F.col("lag")),
    )
    s = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    acf = F.when(dx * dy <= 0, F.lit(None)).otherwise(num / F.sqrt(dx * dy))
    return s.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        "n_pairs",
        (F.round(acf, 6) + 0.0).alias("acf"),
    )


@register(
    "asof_next_order",
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
            FROM orders GROUP BY o_custkey, o_orderdate
        )
        SELECT e.event_id, e.user_id,
               o.o_orderkey AS next_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS next_orderdate
        FROM events e
        ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    tags=("temporal", "asof", "forward"),
)
def asof_next_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: for every event, the user's EARLIEST order at or
    after event time — the 'what did the touchpoint lead to' join,
    attribution's other half. Union-merge with a FOLLOWING-frame
    first() (operators/temporal.asof_join_forward): one shuffle on the
    user key, no inequality join node, no row explosion."""
    from data_eng_project_spark.operators.temporal import asof_join_forward

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join_forward(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("next_o_orderkey").alias("next_orderkey"),
        F.date_format("next_o_orderdate", "yyyy-MM-dd").alias("next_orderdate"),
    )


@register(
    "event_debounce_summary",
    oracle="""
        WITH x AS (
            SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                   ) AS prev_us
            FROM events
        ), isl AS (
            SELECT user_id, event_type, event_id, us,
                   sum(CASE WHEN prev_us IS NULL
                                 OR us - prev_us > 300000000
                            THEN 1 ELSE 0 END) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY us, event_id
                   ) AS island
            FROM x
        ), flagged AS (
            SELECT event_type,
                   row_number() OVER (
                       PARTITION BY user_id, event_type, island
                       ORDER BY us, event_id
                   ) = 1 AS keep
            FROM isl
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_suppressed,
               round(CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS DOUBLE)
                     / count(*), 6) AS suppression_rate
        FROM flagged GROUP BY event_type
    """,
    tags=("temporal", "debounce", "quality"),
)
def event_debounce_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-coalescing debounce audit: per event type, how many events
    a 5-minute per-(user, type) debounce would keep vs suppress — the
    double-fire/retry-storm accounting run before trusting event
    counts. Gaps-and-islands, one window shuffle."""
    from data_eng_project_spark.operators.temporal import debounce_events

    events = load_table(spark, sf_dir, "events")
    flagged = debounce_events(
        events, key_cols=["user_id", "event_type"], gap_seconds=300
    )
    keep = F.col("debounce_keep")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, 0).otherwise(1)).cast("bigint").alias("n_suppressed"),
        F.round(
            F.sum(F.when(keep, 0).otherwise(1)) / F.count(F.lit(1)), 6
        ).alias("suppression_rate"),
    )


_FUNNEL_H_US = 24 * 3600 * 1_000_000  # 24-hour completion horizon


@register(
    "window_funnel_levels",
    oracle=f"""
        WITH a AS (
            SELECT user_id, event_id, ts AS t1 FROM events
            WHERE event_type = 'view'
        ), b AS (
            SELECT user_id, ts FROM events WHERE event_type = 'click'
        ), ab AS (
            SELECT a.user_id, a.t1, b.ts AS t2
            FROM a ASOF LEFT JOIN b
              ON a.user_id = b.user_id AND a.t1 <= b.ts
        ), c AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), abc AS (
            SELECT ab.user_id, ab.t1, ab.t2, c.ts AS t3
            FROM ab ASOF LEFT JOIN c
              ON ab.user_id = c.user_id AND ab.t2 <= c.ts
        ), lvl AS (
            SELECT user_id, CASE
                WHEN t2 IS NOT NULL
                     AND epoch_us(t2) - epoch_us(t1) <= {_FUNNEL_H_US}
                     AND t3 IS NOT NULL
                     AND epoch_us(t3) - epoch_us(t1) <= {_FUNNEL_H_US} THEN 3
                WHEN t2 IS NOT NULL
                     AND epoch_us(t2) - epoch_us(t1) <= {_FUNNEL_H_US} THEN 2
                ELSE 1 END AS lv
            FROM abc
        ), m AS (SELECT user_id, max(lv) AS lv FROM lvl GROUP BY user_id)
        SELECT CAST(lv AS BIGINT) AS funnel_level,
               CAST(count(*) AS BIGINT) AS n_users
        FROM m GROUP BY lv
    """,
    tags=("temporal", "funnel", "window"),
)
def window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-windowFunnel-style ordered funnel with a completion
    horizon: for EVERY view anchor (not just each user's first), chain
    the next click and then the next purchase via forward as-of joins,
    score the chain's depth if it completes within 24 h of the anchor,
    and report users by their best level. Anchor-per-event is what the
    horizon requires — a user whose first view fizzles but whose later
    view converts still counts — and each chain link is one union-merge
    window on the user key, never an inequality join."""
    from data_eng_project_spark.operators.temporal import asof_join_forward

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    a = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("t1"), "event_id"
    )
    b = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("bts")
    ).distinct()
    ab = asof_join_forward(
        a, b, on="user_id", left_ts="t1", right_ts="bts",
        payload_cols=["bts"],
    ).select("user_id", "t1", F.col("next_bts").alias("t2"), "event_id")
    c = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("cts")
    ).distinct()
    # rows with no click never reach stage 3; keep them aside so NULL
    # t2 can't misorder the forward-merge window
    ab_hit = ab.filter(F.col("t2").isNotNull())
    ab_miss = ab.filter(F.col("t2").isNull()).withColumn(
        "t3", F.lit(None).cast("timestamp")
    )
    abc = asof_join_forward(
        ab_hit, c, on="user_id", left_ts="t2", right_ts="cts",
        payload_cols=["cts"],
    ).select(
        "user_id", "t1", "t2", F.col("next_cts").alias("t3")
    ).unionByName(ab_miss.select("user_id", "t1", "t2", "t3"))
    h = F.lit(_FUNNEL_H_US)
    d2 = F.unix_micros("t2") - F.unix_micros("t1")
    d3 = F.unix_micros("t3") - F.unix_micros("t1")
    lv = (
        F.when(
            F.col("t2").isNotNull() & (d2 <= h)
            & F.col("t3").isNotNull() & (d3 <= h),
            3,
        )
        .when(F.col("t2").isNotNull() & (d2 <= h), 2)
        .otherwise(1)
    )
    m = abc.select("user_id", lv.alias("lv")).groupBy("user_id").agg(
        F.max("lv").alias("lv")
    )
    return m.groupBy(F.col("lv").cast("bigint").alias("funnel_level")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@register(
    "holt_linear_event_trend",
    # Holt's recurrence is order-dependent like the EWMA, so the oracle
    # walks it with a recursive CTE per event_type over the daily-count
    # series. Every float term is written as the SAME expression tree
    # the operator evaluates (l_new inlined into b's update), so both
    # engines run the identical IEEE-double operation sequence and agree
    # bit-exactly before the single 6-dp output rounding. All smoothing
    # constants are CAST(... AS DOUBLE): DuckDB would otherwise parse
    # 0.5 as DECIMAL(2,1) and run decimal arithmetic.
    oracle="""
        WITH RECURSIVE s AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS DOUBLE) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), q AS (
            SELECT event_type, day, x,
                   row_number() OVER (
                       PARTITION BY event_type ORDER BY day
                   ) AS seq
            FROM s
        ), hw AS (
            SELECT event_type, day, x, seq,
                   x AS l, CAST(0 AS DOUBLE) AS b
            FROM q WHERE seq = 1
            UNION ALL
            SELECT q.event_type, q.day, q.x, q.seq,
                   CAST(0.5 AS DOUBLE) * q.x
                   + CAST(0.5 AS DOUBLE) * (hw.l + hw.b) AS l,
                   CAST(0.3 AS DOUBLE)
                   * ((CAST(0.5 AS DOUBLE) * q.x
                       + CAST(0.5 AS DOUBLE) * (hw.l + hw.b)) - hw.l)
                   + CAST(0.7 AS DOUBLE) * hw.b AS b
            FROM q JOIN hw
              ON q.event_type = hw.event_type AND q.seq = hw.seq + 1
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
               CAST(x AS BIGINT) AS n_events,
               round(l, 6) AS level, round(b, 6) AS trend,
               round(l + b, 6) AS forecast_next
        FROM hw
    """,
    tags=("temporal", "forecast", "stateful", "pandas-udf"),
)
def holt_linear_event_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3) of the daily
    event-count series per event_type: level, linear trend, and the
    one-step forecast level+trend — the load-forecasting primitive a
    drifting series needs where a plain EWMA lags by design. The series
    build is one word-count-shaped (type, day) aggregate; the recurrence
    runs per key via applyInPandas (operators/temporal.
    holt_linear_per_key), so state never crosses keys and the Python
    walk is days-long, never corpus-long."""
    from data_eng_project_spark.operators.temporal import holt_linear_per_key

    events = load_table(spark, sf_dir, "events")
    series = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    out = holt_linear_per_key(
        series, key_col="event_type", order_col="day", value_col="x",
        alpha=0.5, beta=0.3,
    )
    return out.select(
        "event_type",
        # DATE output columns are unproven at the driver's hash layer
        # (tools/driver_audit.risky_fields) — serve the ISO string.
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("x").cast("bigint").alias("n_events"),
        "level",
        "trend",
        "forecast_next",
    )


_XCORR_MAX_LAG, _XCORR_MIN_N = 6, 24


@register(
    "xcorr_event_types",
    # Pearson correlation from EXACT integer sufficient statistics
    # (hourly counts are BIGINTs; their sums and product sums are exact
    # on both engines), with the closed form evaluated in double as the
    # SAME expression tree on both sides — the groupwise_ols recipe
    # applied to lagged series pairs. sqrt() is IEEE correctly-rounded
    # (unlike ln), so it is safe in an exact-match oracle; the +0.0
    # collapses a −0.0 rounding of a tiny negative correlation. The
    # variance guard runs in exact BIGINT arithmetic.
    oracle=f"""
        WITH h AS (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS hr,
                   count(*) AS c
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        ), lags AS (
            SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag
        ), j AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   l.lag, a.c AS ca, b.c AS cb
            FROM h a
            CROSS JOIN lags l
            JOIN h b ON b.hr = a.hr + l.lag
            WHERE a.event_type <> b.event_type
        ), s AS (
            SELECT type_a, type_b, lag,
                   count(*) AS n,
                   CAST(sum(ca) AS BIGINT) AS sx,
                   CAST(sum(cb) AS BIGINT) AS sy,
                   CAST(sum(ca * ca) AS BIGINT) AS sxx,
                   CAST(sum(cb * cb) AS BIGINT) AS syy,
                   CAST(sum(ca * cb) AS BIGINT) AS sxy
            FROM j GROUP BY type_a, type_b, lag
        )
        SELECT type_a, type_b, CAST(lag AS BIGINT) AS lag_hours,
               CAST(n AS BIGINT) AS n_hours,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) + 0.0 AS xcorr
        FROM s
        WHERE n >= {_XCORR_MIN_N}
          AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
    tags=("temporal", "xcorr", "diagnostics"),
)
def xcorr_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between every ordered pair of DISTINCT
    event types' hourly count series (lags 0–6 h, hours where both
    series have events): does activity of type A lead activity of
    type B? — the companion diagnostic to acf_event_counts (which
    correlates a series with itself). One word-count-shaped hourly
    aggregate, a 7-way lag explode, an equi-join on the integer hour,
    then a |types|²×7-cardinality sufficient-statistics aggregate — the
    corr never sees raw events, and every sum it consumes is an exact
    BIGINT."""
    events = load_table(spark, sf_dir, "events")
    hr = F.floor(
        F.unix_micros(F.date_trunc("hour", F.col("ts"))) / F.lit(3_600_000_000)
    ).cast("bigint")
    h = events.groupBy("event_type", hr.alias("hr")).agg(
        F.count(F.lit(1)).alias("c")
    )
    lag = F.explode(F.sequence(F.lit(0), F.lit(_XCORR_MAX_LAG))).alias("lag")
    probes = h.select(
        F.col("event_type").alias("type_a"), "hr", F.col("c").alias("ca"), lag
    ).select("type_a", (F.col("hr") + F.col("lag")).alias("hr"), "ca", "lag")
    j = probes.join(
        h.select(F.col("event_type").alias("type_b"), "hr", F.col("c").alias("cb")),
        "hr",
    ).filter(F.col("type_a") != F.col("type_b"))
    s = j.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ca").alias("sx"),
        F.sum("cb").alias("sy"),
        F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
        F.sum(F.col("cb") * F.col("cb")).alias("syy"),
        F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
    )
    dn = F.col("n").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxx, dsyy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    dsxy = F.col("sxy").cast("double")
    corr = (dn * dsxy - dsx * dsy) / (
        F.sqrt(dn * dsxx - dsx * dsx) * F.sqrt(dn * dsyy - dsy * dsy)
    )
    return (
        s.filter(
            (F.col("n") >= _XCORR_MIN_N)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select(
            "type_a",
            "type_b",
            F.col("lag").cast("bigint").alias("lag_hours"),
            F.col("n").cast("bigint").alias("n_hours"),
            (F.round(corr, 6) + F.lit(0.0)).alias("xcorr"),
        )
    )


@register(
    "rollup_retraction_merge",
    oracle="""
        WITH post AS (
            SELECT ts, event_type,
                   CASE WHEN event_id % 89 = 0
                        THEN CAST(value AS DECIMAL(28,6))
                             + CAST(5.0 AS DECIMAL(28,6))
                        ELSE CAST(value AS DECIMAL(28,6)) END AS v
            FROM events
            WHERE event_id % 97 >= 5
        )
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               round(CAST(sum(v) AS DOUBLE), 6) AS total_value
        FROM post
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("temporal", "streaming", "cdc", "retraction"),
)
def rollup_retraction_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance under a CDC batch WITH DELETES —
    the retraction case incremental_rollup_merge (append-only) doesn't
    cover. A deterministic CDC batch is derived from events (event_id %
    97 < 5 → DELETE; event_id % 89 == 0 → UPDATE value += 5), and the
    serving rollup is produced purely from rollup-sized deltas: the
    delete rows' state NEGATED (operators/temporal.negate_rollup_state —
    counts/decimal sums form a group, so retraction = merging the
    inverse) plus a +5-per-updated-row sum delta with a zero count
    delta. The oracle is a ONE-SHOT recompute over the post-CDC table,
    so the grade proves the algebraic maintenance path lands exactly
    where a full rebuild would — at delta cost: history events are never
    rescanned, only hour×type state reshuffles (same contract as
    merge_rollup_states).

    NULL discipline: updated rows with a NULL value stay NULL after
    ``NULL + 5`` in the oracle, so the Spark delta adds 5 only where
    value IS NOT NULL; fully-retracted groups cancel to n_events = 0 and
    are dropped, exactly as a recompute omits them."""
    from data_eng_project_spark.operators.temporal import (
        finalize_rollup,
        hourly_rollup_state,
        merge_rollup_states,
        negate_rollup_state,
    )

    events = load_table(spark, sf_dir, "events")
    dec = "decimal(28,6)"
    is_del = F.col("event_id") % 97 < 5
    is_upd = F.col("event_id") % 89 == 0

    base = hourly_rollup_state(events)
    del_retract = negate_rollup_state(hourly_rollup_state(events.filter(is_del)))
    upd_delta = (
        events.filter(is_upd & ~is_del)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.lit(0).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("value").isNotNull(), F.lit(5.0).cast(dec)).otherwise(
                    F.lit(0.0).cast(dec)
                )
            ).alias("_sum_dec"),
        )
    )
    merged = merge_rollup_states(base, del_retract, upd_delta)
    return finalize_rollup(merged.filter(F.col("n_events") > 0))
