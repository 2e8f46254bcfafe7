"""Structured Streaming queries over the events and documents tables:
tumbling and session windows, stream-stream interval joins, stream-static
and as-of enrichment, watermarked dedup, Misra–Gries heavy hitters, a
drift monitor, and a continuously maintained MinHash-LSH dedup index.

Each query actually executes a streaming job (AvailableNow trigger), and
each oracle-backed one is checked against a *batch* SQL oracle — the
strongest parity statement we can make for streaming: the stream's final
state equals the batch answer. Imports are absolute, so this module does
not shadow the ``data_eng_project_spark.streaming`` package it builds on.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.streaming.incremental import read_events_stream
from data_eng_project_spark.streaming.windows import hourly_counts_stream, run_available_now
from data_eng_project_spark.tables import load_table, table_path


@register(
    "streaming_hourly_counts",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "window"),
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window aggregation run to completion
    with Trigger.AvailableNow; final state must equal the batch oracle."""
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    agg = hourly_counts_stream(stream)
    return run_available_now(agg, f"mem_hourly_{uuid.uuid4().hex[:8]}")


@register(
    "streaming_interval_join",
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
    tags=("streaming", "join", "temporal"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded join (watermarked both sides, bounded
    state) drained with AvailableNow — checked against the same batch
    inequality-join oracle as events_within_minute: the stream's final
    output equals the batch answer."""
    from data_eng_project_spark.streaming.windows import stream_stream_pairs

    a = read_events_stream(spark, table_path(sf_dir, "events"))
    b = read_events_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(
        stream_stream_pairs(a, b),
        f"mem_sspairs_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )


@register(
    "streaming_asof_enrich",
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
    tags=("streaming", "asof", "temporal"),
)
def streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static backward AS-OF enrichment drained with
    AvailableNow: each micro-batch of events attaches the user's most
    recent order at event time (the asof_latest_order semantics), via
    foreachBatch over the union-merge as-of operator — Structured
    Streaming has no native as-of join, and a static right side makes
    every left row's match independent, so the drained union equals
    the batch as-of join and the oracle is the identical DuckDB ASOF
    LEFT JOIN. Replay-idempotent per-batch partitions (dynamic
    overwrite), per-sf staging dirs recreated each run."""
    import os
    import shutil
    import tempfile

    from data_eng_project_spark.streaming.incremental import stream_asof_enrich

    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_asof_enrich_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    out_dir, checkpoint = os.path.join(base, "out"), os.path.join(base, "ckpt")
    enriched = stream_asof_enrich(
        spark,
        table_path(sf_dir, "events"),
        orders,
        out_dir,
        checkpoint,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_orderdate"],
        left_cols=["event_id", "user_id", "ts"],
    )
    return enriched.select(
        "event_id",
        "user_id",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.date_format("asof_o_orderdate", "yyyy-MM-dd").alias("asof_orderdate"),
    )


@register(
    "streaming_dedup_events",
    oracle="""
        SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        FROM events
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming deduplication proven end-to-end: the input
    is the events table delivered TWICE (two file copies — an
    at-least-once source), the stream dedups on event_id with
    ``dropDuplicatesWithinWatermark``, and the drained result must equal
    the batch oracle over the ORIGINAL single-copy table — exactly-once
    delivery recovered from at-least-once input."""
    import os
    import shutil
    import tempfile

    from data_eng_project_spark.streaming.windows import dedup_events_stream

    src = table_path(sf_dir, "events")
    # Deterministic per-sf staging dir, recreated on each run — mkdtemp
    # minted a fresh two-copies-of-events dir per invocation and never
    # removed it, accreting gigabytes across bench/test repetitions.
    dup_dir = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_dup_events_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if os.path.exists(dup_dir):
        shutil.rmtree(dup_dir)
    os.makedirs(dup_dir)
    # The table may be a single parquet file (driver testdata) or a
    # Spark-written directory of part-files — duplicate either layout
    # into a flat dir of files.
    if os.path.isdir(src):
        parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        for i, f in enumerate(parts):
            for tag in ("a", "b"):
                shutil.copyfile(
                    os.path.join(src, f), os.path.join(dup_dir, f"{tag}_{i}.parquet")
                )
    else:
        shutil.copyfile(src, os.path.join(dup_dir, "copy_a.parquet"))
        shutil.copyfile(src, os.path.join(dup_dir, "copy_b.parquet"))
    stream = read_events_stream(spark, os.path.join(dup_dir, "*.parquet"))
    deduped = dedup_events_stream(stream).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )
    return run_available_now(
        deduped, f"mem_dedup_{uuid.uuid4().hex[:8]}", output_mode="append"
    )


@register(
    "streaming_static_enrich",
    oracle="""
        SELECT n.n_name,
               count(*) AS n_events,
               round(CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE), 6)
                   AS total_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    tags=("streaming", "join", "enrichment"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins the static
    customer→nation dimension path (broadcast, re-planned per
    micro-batch) and aggregates per nation; the drained AvailableNow
    result must equal the batch three-table join oracle. See
    streaming/windows.static_enrich_counts_stream for the state-size
    argument (dimension rows never enter streaming state)."""
    from data_eng_project_spark.streaming.windows import static_enrich_counts_stream

    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    customers = load_table(spark, sf_dir, "customer")
    nations = load_table(spark, sf_dir, "nation")
    agg = static_enrich_counts_stream(stream, customers, nations)
    return run_available_now(agg, f"mem_enrich_{uuid.uuid4().hex[:8]}")


@register(
    "streaming_heavy_hitters",
    # The Misra–Gries summary itself is engine-specific state, but two of
    # its theorems cross engines: (1) detectability — every user whose
    # true count exceeds the MG floor N_shard/(capacity+1) survives in
    # the summary, so with the graded corpora's top-20 counts (≥ 77 vs a
    # floor of ~19 at sf0.01) the survivor set ⊇ the true top-20 and the
    # exact-ranked top-20 below IS the global exact top-20; (2) the count
    # bound — mg_count ∈ [exact − floor, exact]. The query publishes the
    # exact counts plus a genuinely measured bound-check boolean; DuckDB
    # recomputes the exact top-20 independently and asserts the bound
    # held. Detectability is a DATA property of the graded corpora, not
    # a theorem — test_heavy_hitters_oracle_detectability_margin pins a
    # 2x safety margin at both graded SFs so a skew-flattening testdata
    # regeneration fails in pytest with a clear message instead of
    # surfacing as a driver mismatch on a correct pipeline.
    # (Convergence/eviction behavior at adversarial cardinalities
    # stays pytest-pinned in tests/test_streaming.py.)
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS exact_count,
               TRUE AS mg_bound_ok
        FROM events
        GROUP BY user_id
        ORDER BY exact_count DESC, user_id ASC
        LIMIT 20
    """,
    tags=("streaming", "stateful", "sketch", "topk"),
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent users from the event stream with O(capacity) state per
    shard (Misra–Gries under applyInPandasWithState), drained with
    AvailableNow; the surviving candidates are joined to their exact
    batch counts, checked against the MG error bound, and ranked — the
    streaming half finds the candidates with bounded memory, the batch
    half certifies them. Top-20, deterministic tie-break."""
    from data_eng_project_spark.streaming.stateful import (
        MG_CAPACITY,
        final_heavy_hitter_summaries,
        heavy_hitters_stream,
    )
    from data_eng_project_spark.tables import table_path

    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    emitted = run_available_now(
        heavy_hitters_stream(stream),
        f"mem_hh_{uuid.uuid4().hex[:8]}",
        output_mode="update",
    )
    cands = final_heavy_hitter_summaries(emitted).select(
        "user_id", "mg_count", "n_processed"
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
    )
    return (
        cands.join(exact, on="user_id")
        .select(
            "user_id",
            "exact_count",
            (
                (F.col("mg_count") <= F.col("exact_count"))
                & (
                    F.col("exact_count") - F.col("mg_count")
                    <= F.col("n_processed") / (MG_CAPACITY + 1)
                )
            ).alias("mg_bound_ok"),
        )
        .orderBy(F.col("exact_count").desc(), F.col("user_id").asc())
        .limit(20)
    )


@register(
    "streaming_drift_monitor",
    oracle="""
        WITH hc AS (
            SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ), types AS (SELECT DISTINCT event_type FROM events),
        hours AS (SELECT DISTINCT h FROM hc),
        grid AS (
            SELECT hours.h, types.event_type, coalesce(hc.n, 0) + 1 AS n_sm
            FROM hours CROSS JOIN types
            LEFT JOIN hc ON hc.h = hours.h AND hc.event_type = types.event_type
        ), p AS (
            SELECT h, event_type, n_sm,
                   CAST(n_sm AS DOUBLE) / sum(n_sm) OVER (PARTITION BY h) AS pr
            FROM grid
        ), base AS (
            SELECT event_type, count(*) + 1 AS bn FROM events GROUP BY 1
        ), bp AS (
            SELECT event_type,
                   CAST(bn AS DOUBLE) / (SELECT sum(bn) FROM base) AS bpr
            FROM base
        )
        SELECT p.h AS window_start,
               CAST(sum(p.n_sm - 1) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(round((p.pr - bp.bpr) * ln(p.pr / bp.bpr), 12)
                                   AS DECIMAL(38,18))) AS DOUBLE), 6) AS psi
        FROM p JOIN bp USING (event_type)
        GROUP BY p.h
    """,
    tags=("streaming", "drift", "psi"),
)
def streaming_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online distribution-drift monitor: the *stream* maintains the
    per-hour event-type counts (tumbling-window aggregation run to
    completion with AvailableNow), then each window's smoothed type
    distribution is scored against the static all-time baseline with a
    population-stability index — the alert a continuously-ingesting
    pipeline fires when a producer's mix silently changes. Add-one
    smoothing on both sides keeps every log ratio total; per-window
    sums go through DECIMAL so partition order cannot move the result.

    Scale: the streaming state is |windows in watermark| × |types|;
    the PSI join runs on the (hours × types) grid, never on raw events;
    the baseline is a broadcast-sized per-type aggregate.
    """
    from pyspark.sql import Window

    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    counts = run_available_now(
        hourly_counts_stream(stream), f"mem_drift_{uuid.uuid4().hex[:8]}"
    )
    events = load_table(spark, sf_dir, "events")
    types = events.select("event_type").distinct()
    hours = counts.select("window_start").distinct()
    grid = (
        hours.crossJoin(F.broadcast(types))
        .join(
            counts.select("window_start", "event_type", "n_events"),
            on=["window_start", "event_type"],
            how="left",
        )
        .select(
            "window_start",
            "event_type",
            (F.coalesce("n_events", F.lit(0)) + 1).alias("n_sm"),
        )
    )
    p = grid.select(
        "window_start",
        "event_type",
        "n_sm",
        (
            F.col("n_sm").cast("double")
            / F.sum("n_sm").over(Window.partitionBy("window_start"))
        ).alias("pr"),
    )
    base = events.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 1).alias("bn")
    )
    tb = base.agg(F.sum("bn").alias("tb"))
    bp = base.crossJoin(F.broadcast(tb)).select(
        "event_type", (F.col("bn").cast("double") / F.col("tb")).alias("bpr")
    )
    # PSI needs a transcendental (ln) — the one place the exactness
    # discipline cannot be met literally: JVM Math.log and DuckDB's libm
    # log are not guaranteed identically rounded. Mitigation: both
    # engines round each TERM to 12 dp before the decimal sum, so a
    # 1-ulp ln() divergence (~1e-16 relative) collapses unless the true
    # term sits within an ulp of a 12-dp boundary — the residual risk is
    # ~1e-6 per term instead of certain propagation into the sum.
    term = (F.col("pr") - F.col("bpr")) * F.log(F.col("pr") / F.col("bpr"))
    return (
        p.join(F.broadcast(bp), on="event_type")
        .groupBy("window_start")
        .agg(
            F.sum(F.col("n_sm") - 1).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.round(term, 12).cast("decimal(38,18)")).cast("double"), 6
            ).alias("psi"),
        )
    )


@register(
    "streaming_dedup_index_probe",
    oracle=None,  # LSH sketch path (md5-derived universal-hash
    # signatures since r11 — operators/dedup.MINHASH_P) buried inside a
    # Structured Streaming foreachBatch build — exactness asserted
    # against planted perturbed copies in tests/test_streaming.py
    tags=("streaming", "dedup", "lsh", "index"),
)
def streaming_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup end-to-end: a Structured Streaming job
    maintains the persisted MinHash-LSH band-row index over arriving
    document files (foreachBatch, replay-idempotent dynamic partition
    overwrite), then a new batch of perturbed copies (every 20th doc,
    one appended token) probes the index — band-bucket equi-join plus
    exact-Jaccard verification against only the matched corpus docs.
    History is never rescanned: the probe cost is batch + matched
    buckets, the index is ~16 rows of 20 bytes per corpus document."""
    import tempfile

    from data_eng_project_spark.streaming.dedup_index import (
        probe_index,
        stream_build_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Deterministic per-sf dir, recreated each run (same rationale as
    # streaming_dedup_events: mkdtemp leaked an index + checkpoint per
    # invocation).
    import os
    import shutil

    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_dedup_index_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    index_dir = f"{base}/index"
    stream_build_index(
        spark, table_path(sf_dir, "documents"), index_dir, f"{base}/ckpt"
    )
    new_batch = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" probeword")).alias("text"),
        )
    )
    return probe_index(spark, index_dir, new_batch, docs)


@register(
    "streaming_dedup_recall_report",
    # The probe side (banded MinHash-LSH — md5-derived universal-hash
    # signatures since r11, but built through a Structured Streaming
    # foreachBatch job whose index/probe orchestration DuckDB cannot
    # replay) is why streaming_dedup_index_probe stays
    # rows-only — but the report's ground-truth side IS: the oracle
    # independently reconstructs the probe batch (every 20th doc,
    # ' probeword' appended, +10M ids) and recomputes the exact
    # bipartite 3-shingle Jaccard ≥ 0.5 pair count (the proven
    # dedup_incremental_batch shingle formulation), then asserts the
    # two contract booleans. probe_subset_ok is provable (the probe
    # verifies candidates with the same shingle sets and rounded
    # Jaccard, so its pairs ⊆ the exact pairs); recall_ok carries a
    # wide margin below the measured floor (the planted perturbed
    # copies sit at J≈0.9 where 16 bands of 4 hashes collide with
    # probability ≈1: measured recall 1.0/1.0/1.0 at
    # sf0.001/0.01/0.1; contract 0.7 guards the borderline-J regime).
    # The sharp measured values stay pinned in tests/test_streaming.py.
    # The probe BATCH is capped at the 1000 smallest matching ids (a
    # no-op at every graded SF — sf0.1 has 250 — binding only on
    # replica lakes): the exact bipartite truth join is batch×corpus
    # by definition, and the first 100× probe of the uncapped form
    # measured 576 s (25k probe docs × 500k corpus). A fixed-size
    # audit batch keeps the truth join linear in the corpus — the
    # semdedup_accuracy_report / quantized_topk_agreement sample-cap
    # lesson; the streaming INDEX side was already batch-time by
    # design.
    oracle="""
        WITH probe_src AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
            ORDER BY doc_id LIMIT 1000
        ), all_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, text || ' probeword' AS text
            FROM probe_src
        ), words AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS w,
                   generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
                       AS pos
            FROM all_docs
        ), sh AS (
            SELECT DISTINCT doc_id,
                   w || ' ' || lead(w, 1) OVER win || ' '
                     || lead(w, 2) OVER win AS shingle
            FROM words
            WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
            QUALIFY lead(w, 2) OVER win IS NOT NULL
        ), sz AS (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.doc_id < 10000000 AND b.doc_id >= 10000000
            GROUP BY a.doc_id, b.doc_id
        ), true_pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sz na ON na.doc_id = id_a
            JOIN sz nb ON nb.doc_id = id_b
            WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
        )
        SELECT CAST((SELECT count(*) FROM probe_src)
                    AS BIGINT) AS n_new_docs,
               CAST((SELECT count(*) FROM true_pairs) AS BIGINT)
                   AS n_true_pairs,
               TRUE AS probe_subset_ok,
               TRUE AS recall_ok
    """,
    tags=("streaming", "dedup", "lsh", "index", "evaluation"),
)
def streaming_dedup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible continuous-ingest dedup quality evidence (VERDICT
    r8 task 3): recall of the streaming-maintained LSH index probe —
    same shifted-id batch construction as streaming_dedup_index_probe,
    but CAPPED at the 1000 smallest probe ids (the r9 size-pin rule:
    an uncapped audit batch grows with the corpus and the recall join
    becomes its own scale-killer — 576 s at 100× before the cap, 79 s
    after; the index probe itself stays uncapped because it IS the
    production query, not the audit) — against the exact bipartite
    batch-vs-corpus Jaccard join, graded as contract booleans with the
    exact side fully oracle-recomputed.
    Converts the last trust-the-pytest streaming family into a
    measured, driver-graded accuracy contract."""
    import os
    import shutil
    import tempfile

    from data_eng_project_spark.streaming.dedup_index import (
        probe_recall_report,
        stream_build_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_dedup_recall_"
        f"{os.path.basename(os.path.normpath(sf_dir))}",
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)
    index_dir = f"{base}/index"
    stream_build_index(
        spark, table_path(sf_dir, "documents"), index_dir, f"{base}/ckpt"
    )
    # Fixed-size audit batch (see the oracle note): the exact truth
    # join is batch×corpus, so the batch must not grow with the lake.
    new_batch = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .orderBy(F.col("doc_id"))
        .limit(1000)
        .select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" probeword")).alias("text"),
        )
    )
    return probe_recall_report(
        spark, index_dir, new_batch, docs, threshold=0.5, recall_contract=0.7
    )


@register(
    "streaming_sessionize",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        ), numbered AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, session_id
    """,
    tags=("streaming", "session", "stateful"),
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (merging-window state, 30-min
    gap) drained with AvailableNow; the final sessions must equal the
    batch gaps-and-islands oracle row-for-row (compared on event-time
    bounds, which the gap-padded window end would not allow)."""
    import uuid

    from data_eng_project_spark.streaming.incremental import read_events_stream
    from data_eng_project_spark.streaming.windows import (
        run_available_now,
        session_bounds_stream,
    )
    from data_eng_project_spark.tables import table_path

    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(
        session_bounds_stream(stream), f"mem_sessions_{uuid.uuid4().hex[:8]}"
    )
