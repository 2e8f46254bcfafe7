"""Streaming + multimodal queries.

``streaming_hourly_counts`` actually executes a Structured Streaming job
(AvailableNow trigger, memory sink) and is checked against the *batch*
SQL oracle — the strongest parity statement we can make for streaming:
the stream's final state equals the batch answer.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from data_eng_project_spark.operators.multimodal import (
    attach_fake_media,
    attach_png_images,
    extract_media_meta,
    frame_sample_stub,
    resize_png_images,
)
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


def _hexbyte(h: str, i: int) -> str:
    """DuckDB expression for the i-th (1-indexed) byte of hex digest
    ``h`` — DuckDB 1.0 has no hex→int cast, so parse the two nibbles."""
    c1, c2 = f"substr({h},{2 * i - 1},1)", f"substr({h},{2 * i},1)"
    hexd = "'0123456789abcdef'"
    return f"((strpos({hexd},{c1})-1)*16 + (strpos({hexd},{c2})-1))"


# Shared CTE: the deterministic fake-media attachment (attach_fake_media
# + _fake_decode) re-derived in SQL — payload is the utf-8 text, the
# media type cycles on doc_id, and dimensions/duration are minted from
# the sha256 digest bytes exactly as the Python stub does.
_FAKE_MEDIA_CTE = f"""
    m AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN 'image/png'
                   WHEN 1 THEN 'audio/wav'
                   ELSE 'video/mp4' END AS media_type,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               sha256(text) AS h
        FROM documents
    )
"""


@register(
    "multimodal_media_meta",
    oracle=f"""
        WITH {_FAKE_MEDIA_CTE}
        SELECT doc_id, media_type, n_bytes,
               CAST(64 + {_hexbyte('h', 1)} % 192 AS INT) AS width,
               CAST(64 + {_hexbyte('h', 2)} % 192 AS INT) AS height,
               CAST(CASE WHEN media_type = 'image/png' THEN 0
                    ELSE {_hexbyte('h', 3)} * 256 + {_hexbyte('h', 4)}
                    END AS INT) AS duration_ms,
               h AS checksum
        FROM m
    """,
    tags=("multimodal",),
)
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media columns → typed metadata via Arrow-batched
    mapInPandas (decode is a deterministic stub — no codecs in this
    container; the Spark plumbing — binary column, Arrow batch shape,
    schema — is real). The oracle re-derives the stub's digest math in
    SQL, so the driver check covers the whole binary round trip:
    utf-8 encode → sha256 over the payload bytes → byte extraction."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_media_meta(attach_fake_media(docs))


@register(
    "multimodal_frame_samples",
    oracle=f"""
        WITH {_FAKE_MEDIA_CTE},
        v AS (
            SELECT doc_id,
                   CAST(floor(({_hexbyte('h', 3)} * 256 + {_hexbyte('h', 4)})
                              / 1000.0) AS INT) AS max_idx
            FROM m WHERE media_type = 'video/mp4'
        )
        SELECT v.doc_id, CAST(g.i AS INT) AS frame_idx
        FROM v CROSS JOIN generate_series(0, 65) AS g(i)
        WHERE g.i <= v.max_idx
    """,
    # (DuckDB 1.0 table functions take no lateral column args, so the
    # series is the static max — duration_ms < 65536 → max_idx <= 65 —
    # filtered per row.)
    tags=("multimodal", "video"),
)
def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame index
    (every second of fake duration) for each video payload."""
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_stub(attach_fake_media(docs), every_ms=1000)


# Python round() is banker's rounding (half to even); DuckDB round() is
# half away from zero. The resize target-dimension math rounds w*scale,
# which CAN land exactly on .5 — replicate half-even in SQL.
_ROUND_HALF_EVEN = (
    "CAST(floor({x} + 0.5) AS INT) - "
    "CASE WHEN {x} - floor({x}) = 0.5 AND CAST(floor({x}) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE 0 END"
)


@register(
    "multimodal_image_resize",
    oracle=f"""
        WITH src AS (
            SELECT doc_id,
                   CAST(32 + doc_id % 97 AS INT) AS src_width,
                   CAST(24 + doc_id % 71 AS INT) AS src_height
            FROM documents
        ),
        scaled AS (
            SELECT *,
                   CASE WHEN greatest(src_width, src_height) <= 64 THEN 1.0
                        ELSE 64.0 / greatest(src_width, src_height) END AS s
            FROM src
        )
        SELECT doc_id, src_width, src_height,
               greatest(1, {_ROUND_HALF_EVEN.format(x='(src_width * s)')})
                   AS out_width,
               greatest(1, {_ROUND_HALF_EVEN.format(x='(src_height * s)')})
                   AS out_height
        FROM scaled
    """,
    tags=("multimodal", "image"),
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize of COMPRESSED images, fully real: mint
    PNG payloads per document, then zlib-decode → unfilter → bilinear
    resample → PNG re-encode inside Arrow batches (operators/multimodal.py
    stdlib codec — no external image library).

    The driver-facing columns are the decoded source dimensions and the
    resize targets: src_width/src_height come out of the REAL PNG decode
    (zlib inflate + IHDR parse), so the oracle's closed-form dims verify
    the whole encode→decode round trip; the resized payload bytes stay
    pinned by the pytest round-trip/property tests (zlib streams are not
    SQL-reproducible)."""
    docs = load_table(spark, sf_dir, "documents")
    out = resize_png_images(attach_png_images(docs), max_side=64)
    return out.select(
        "doc_id", "src_width", "src_height", "out_width", "out_height",
    )


# IEEE-exact SQL replica of operators/multimodal.bilinear_resize for the
# deterministic gradient source image (R = x·255 // (w−1), G = y·255 //
# (h−1), B = doc_id % 256). Mirrors numpy's op ORDER so every double is
# bit-identical: xs = (ox+0.5)·(w/ow) − 0.5, x0 = floor, fx = clip, then
# channel blend top·(1−fy) + bot·fy, then np.rint (half-to-even). With
# identical doubles on both engines the rounded pixels — and hence the
# integer channel sums — agree exactly.
def _rint_he(v: str) -> str:
    """SQL for np.rint (round half to even) of non-negative double v."""
    return (
        f"CASE WHEN ({v}) - floor({v}) > 0.5 THEN floor({v}) + 1 "
        f"WHEN ({v}) - floor({v}) < 0.5 THEN floor({v}) "
        f"ELSE floor({v}) + (CAST(floor({v}) AS BIGINT) % 2) END"
    )


_RESIZE_RAW_ORACLE = f"""
    WITH src AS (
        SELECT doc_id,
               CAST(32 + doc_id % 97 AS INT) AS w,
               CAST(24 + doc_id % 71 AS INT) AS h,
               CAST(doc_id % 256 AS INT) AS b
        FROM documents
    ),
    dims AS (
        SELECT *,
               CASE WHEN greatest(w, h) <= 64 THEN 1.0
                    ELSE 64.0 / greatest(w, h) END AS s
        FROM src
    ),
    od AS (
        SELECT doc_id, w, h, b,
               greatest(1, {_ROUND_HALF_EVEN.format(x='(w * s)')}) AS ow,
               greatest(1, {_ROUND_HALF_EVEN.format(x='(h * s)')}) AS oh
        FROM dims
    ),
    px AS (
        SELECT od.*, gx.ox, gy.oy,
               (gx.ox + 0.5) * (CAST(w AS DOUBLE) / ow) - 0.5 AS xs,
               (gy.oy + 0.5) * (CAST(h AS DOUBLE) / oh) - 0.5 AS ys
        FROM od
        CROSS JOIN generate_series(0, 63) AS gx(ox)
        CROSS JOIN generate_series(0, 63) AS gy(oy)
        WHERE gx.ox < od.ow AND gy.oy < od.oh
    ),
    gather AS (
        SELECT *,
               least(greatest(CAST(floor(xs) AS BIGINT), 0), w - 1) AS x0,
               least(greatest(CAST(floor(ys) AS BIGINT), 0), h - 1) AS y0
        FROM px
    ),
    blend AS (
        SELECT doc_id, w, h, b, ow, oh,
               least(greatest(xs - x0, 0.0), 1.0) AS fx,
               least(greatest(ys - y0, 0.0), 1.0) AS fy,
               (x0 * 255) // (w - 1) AS r0,
               (least(x0 + 1, w - 1) * 255) // (w - 1) AS r1,
               (y0 * 255) // (h - 1) AS g0,
               (least(y0 + 1, h - 1) * 255) // (h - 1) AS g1
        FROM gather
    ),
    vals AS (
        SELECT doc_id, w, h, ow, oh,
               (r0 * (1 - fx) + r1 * fx) * (1 - fy)
                   + (r0 * (1 - fx) + r1 * fx) * fy AS vr,
               (g0 * (1 - fx) + g0 * fx) * (1 - fy)
                   + (g1 * (1 - fx) + g1 * fx) * fy AS vg,
               (b * (1 - fx) + b * fx) * (1 - fy)
                   + (b * (1 - fx) + b * fx) * fy AS vb
        FROM blend
    )
    SELECT doc_id,
           any_value(w) AS src_width, any_value(h) AS src_height,
           CAST(any_value(ow) AS INT) AS out_width,
           CAST(any_value(oh) AS INT) AS out_height,
           CAST(sum(least(greatest({_rint_he('vr')}, 0), 255)) AS BIGINT) AS sum_r,
           CAST(sum(least(greatest({_rint_he('vg')}, 0), 255)) AS BIGINT) AS sum_g,
           CAST(sum(least(greatest({_rint_he('vb')}, 0), 255)) AS BIGINT) AS sum_b
    FROM vals
    GROUP BY doc_id
"""


@register(
    "multimodal_resize_raw",
    oracle=_RESIZE_RAW_ORACLE,
    tags=("multimodal", "resize"),
)
def multimodal_resize_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image pipeline over an uncompressed raw-RGB format: mint
    deterministic gradient images executor-side, then bilinear-resize
    them in Arrow batches (operators/multimodal.bilinear_resize — actual
    pixel math, unlike the codec-stubbed PNG path). Driver-facing output
    is the decoded dimensions plus the exact integer channel sums of the
    RESIZED pixels; the DuckDB oracle recomputes those sums through an
    IEEE-exact SQL replica of the bilinear kernel (same op order, same
    half-to-even rounding), so the pixel math itself is cross-engine
    verified — not just the plumbing."""
    from data_eng_project_spark.operators.multimodal import (
        attach_raw_images,
        resize_raw_images,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    resized = resize_raw_images(attach_raw_images(docs), max_side=64)
    return resized.select(
        "doc_id",
        "src_width",
        "src_height",
        "out_width",
        "out_height",
        "sum_r",
        "sum_g",
        "sum_b",
    )


@register(
    "multimodal_audio_features",
    # Full replay of the synthetic PCM generator + feature math in SQL:
    # sample k of doc d is trunc(16383.5·sin((2π·freq)·(k/8000))) as
    # int16 (freq = 100 + d%900, n = 4000 + d%1000 samples) — the same
    # IEEE double ops in the same order as the numpy generator, so the
    # quantized samples agree bit-for-bit and RMS/ZCR/peak match at 6 dp.
    # duration_ms replicates Python round-half-even of n/8. The oracle
    # thus checks the REAL decode + DSP path end to end against an
    # independent from-scratch computation.
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   100 + CAST(doc_id % 900 AS INT) AS freq,
                   4000 + CAST(doc_id % 1000 AS INT) AS n
            FROM documents
        ),
        s AS (
            SELECT d.doc_id, d.freq, d.n, g.i AS k,
                   CAST(trunc(16383.5 * sin(((2*pi()) * d.freq)
                                            * (CAST(g.i AS DOUBLE) / 8000)))
                        AS INT) AS v
            FROM d CROSS JOIN generate_series(0, 4999) AS g(i)
            WHERE g.i < d.n
        ),
        x AS (
            SELECT doc_id, n, k, v,
                   lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS pv
            FROM s
        )
        SELECT doc_id,
               8000 AS sample_rate,
               any_value(n) AS n_samples,
               CAST(floor(any_value(n)/8.0 + 0.5) AS INT)
                   - CASE WHEN any_value(n) % 8 = 4
                               AND (any_value(n) // 8) % 2 = 0
                          THEN 1 ELSE 0 END AS duration_ms,
               round(sqrt(sum((v/32767.0)*(v/32767.0)) / any_value(n)), 6) AS rms,
               round(sum(CASE WHEN pv IS NOT NULL
                              AND (v < 0) != (pv < 0) THEN 1 ELSE 0 END)
                     * 8000 / (2.0 * any_value(n)), 6) AS zero_cross_rate_hz,
               round(max(abs(v)) / 32767.0, 6) AS peak
        FROM x
        GROUP BY doc_id
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio pipeline over raw-PCM payloads: mint deterministic sine
    tones executor-side, then extract duration/RMS/zero-crossing-rate/
    peak in Arrow batches (operators/multimodal.extract_audio_features —
    actual DSP, no codec required). Rounded to 6 dp so the rows-only
    check is run-stable."""
    from data_eng_project_spark.operators.multimodal import (
        attach_raw_audio,
        extract_audio_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    feats = extract_audio_features(attach_raw_audio(docs))
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "duration_ms",
        F.round("rms", 6).alias("rms"),
        F.round("zero_cross_rate_hz", 6).alias("zero_cross_rate_hz"),
        F.round("peak", 6).alias("peak"),
    )


@register(
    "multimodal_video_frames_raw",
    # Closed-form replay of the synthetic sweep clip: n = 12 + doc_id%25
    # frames at 12 fps, sampled every 6th; every frame is a 32×24
    # background (luma 16) with one full-bright bar column (luma 250)
    # at x = idx*(w-1)//(n-1), so mean luma is the constant
    # (31·16l + 250l)/32 and peak_col recovers the planted bar — the
    # oracle checks that the REAL decode+stats pipeline reproduces the
    # generator's math, frame by sampled frame.
    oracle="""
        WITH v AS (
            SELECT doc_id, CAST(12 + doc_id % 25 AS INT) AS n
            FROM documents
        )
        SELECT v.doc_id,
               CAST(g.i * 6 AS INT) AS frame_idx,
               CAST(g.i * 500 AS INT) AS ts_ms,
               round((31 * (0.299*16 + 0.587*16 + 0.114*16)
                      + (0.299*250 + 0.587*250 + 0.114*250)) / 32, 6)
                   AS mean_luma,
               CAST((g.i * 6 * 31) // (v.n - 1) AS INT) AS peak_col
        FROM v CROSS JOIN generate_series(0, 5) AS g(i)
        WHERE g.i * 6 < v.n
    """,
    tags=("multimodal", "video"),
)
def multimodal_video_frames_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline over raw frame sequences: mint deterministic
    clips executor-side, sample every 6th frame, and compute per-frame
    statistics (mean luma, brightest-column saliency, frame checksum) in
    the same Arrow batch — the explode happens before rows leave Python,
    so no whole-clip blobs cross stages (operators/multimodal.
    sample_raw_frames). Driver-facing columns are the SQL-verifiable
    stats; the per-frame sha256 stays pinned by the pytest determinism
    test (checksums of constructed pixel buffers are not
    SQL-reproducible)."""
    from data_eng_project_spark.operators.multimodal import (
        attach_raw_video,
        sample_raw_frames,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    frames = sample_raw_frames(attach_raw_video(docs), every_n=6)
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.round("mean_luma", 6).alias("mean_luma"),
        "peak_col",
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


def _hexbyte_at(h: str, pos: str) -> str:
    """Like _hexbyte but with a 0-based byte index EXPRESSION — needed
    when the byte offset varies per row (pixel replay)."""
    c1 = f"substr({h}, 2*({pos})+1, 1)"
    c2 = f"substr({h}, 2*({pos})+2, 1)"
    hexd = "'0123456789abcdef'"
    return f"((strpos({hexd},{c1})-1)*16 + (strpos({hexd},{c2})-1))"


def _dct_basis_sql(k: str, i: str) -> str:
    """SQL replica of operators/multimodal._dct_basis entry B[k, i]:
    cos(pi·(2i+1)·k / (2·32))·sqrt(2/32), row 0 divided by sqrt(2) —
    same op order as the numpy expression."""
    core = f"cos(((pi() * (2*({i})+1)) * ({k})) / 64) * sqrt(2.0/32)"
    return f"(CASE WHEN ({k}) = 0 THEN ({core}) / sqrt(2.0) ELSE {core} END)"


def _phash_chan_sql(c: int) -> str:
    """Base-image channel byte of group g at (gy.y, gx.x): byte x%32 of
    sha256('p:{g}:{c}:{y}:{x//32}') — the generator's closed form."""
    h = f"sha256(concat('p:', grp.g, ':{c}:', gy.y, ':', gx.x // 32))"
    return _hexbyte_at(h, "gx.x % 32")


# Full cross-engine replay of the pHash pipeline. Everything up to the
# DCT is bit-exact by construction: sha256 pixels, the luma weights CAST
# TO DOUBLE (bare 0.299 literals are DECIMAL in DuckDB and round the
# 176.999... knife-edge cases the other way), and the bilinear kernel
# mirrored op-for-op from numpy (same xs/fx formation, same half-to-even
# rounding) so the 32×32 resample is integer-identical. The DCT sums are
# only ~1e-12-identical (BLAS vs SQL summation order), which the
# median-threshold absorbs: coefficient gaps around the median are many
# orders above float noise, and the median ELEMENT itself is compared
# against the very value row_number selected — inside ONE window
# pipeline, so DuckDB cannot re-evaluate the CTE with a different
# parallel summation order for the comparison than for the median (that
# re-evaluation flipped ~half the hashes by one bit until the window
# form pinned it). Final hashes are integers, so pairs + Hamming match
# exactly or not at all.
_PHASH_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, CAST(doc_id % 100 AS INT) AS g
        FROM documents
    ),
    grp AS (
        SELECT DISTINCT g, 40 + g % 17 AS w, 40 + g % 13 AS h FROM d
    ),
    base AS (
        SELECT grp.g, grp.w, grp.h, gy.y, gx.x,
               {_phash_chan_sql(0)} AS r,
               {_phash_chan_sql(1)} AS gg,
               {_phash_chan_sql(2)} AS b
        FROM grp
        CROSS JOIN generate_series(0, 51) AS gy(y)
        CROSS JOIN generate_series(0, 55) AS gx(x)
        WHERE gy.y < grp.h AND gx.x < grp.w
    ),
    nz AS (
        SELECT d.doc_id, d.g, gi.i, grp.w, grp.h,
               sha256(concat('n:', d.doc_id, ':', gi.i)) AS hh
        FROM d JOIN grp USING (g)
        CROSS JOIN generate_series(0, 3) AS gi(i)
    ),
    noise AS (
        SELECT doc_id, i,
               ({_hexbyte_at('hh', '0')}*256 + {_hexbyte_at('hh', '1')}) % h AS y,
               ({_hexbyte_at('hh', '2')}*256 + {_hexbyte_at('hh', '3')}) % w AS x,
               {_hexbyte_at('hh', '4')} AS r,
               {_hexbyte_at('hh', '5')} AS gg,
               {_hexbyte_at('hh', '6')} AS b
        FROM nz
    ),
    ovr AS (
        SELECT doc_id, y, x,
               arg_max(r, i) AS r, arg_max(gg, i) AS gg, arg_max(b, i) AS b
        FROM noise GROUP BY doc_id, y, x
    ),
    gray AS (
        SELECT d.doc_id, bp.y, bp.x, bp.w, bp.h,
               CAST(floor(CAST(0.299 AS DOUBLE) * coalesce(o.r, bp.r)
                          + CAST(0.587 AS DOUBLE) * coalesce(o.gg, bp.gg)
                          + CAST(0.114 AS DOUBLE) * coalesce(o.b, bp.b))
                    AS INT) AS v
        FROM d JOIN base bp USING (g)
        LEFT JOIN ovr o ON o.doc_id = d.doc_id AND o.y = bp.y AND o.x = bp.x
    ),
    rs AS (
        SELECT g2.doc_id, g2.w, g2.h, gx.ox, gy.oy,
               (gx.ox + 0.5) * (CAST(g2.w AS DOUBLE) / 32) - 0.5 AS xs,
               (gy.oy + 0.5) * (CAST(g2.h AS DOUBLE) / 32) - 0.5 AS ys
        FROM (SELECT DISTINCT doc_id, w, h FROM gray) g2
        CROSS JOIN generate_series(0, 31) AS gx(ox)
        CROSS JOIN generate_series(0, 31) AS gy(oy)
    ),
    gat AS (
        SELECT doc_id, w, h, ox, oy,
               least(greatest(CAST(floor(xs) AS BIGINT), 0), w - 1) AS x0,
               least(greatest(CAST(floor(ys) AS BIGINT), 0), h - 1) AS y0,
               least(least(greatest(CAST(floor(xs) AS BIGINT), 0), w - 1) + 1,
                     w - 1) AS x1,
               least(least(greatest(CAST(floor(ys) AS BIGINT), 0), h - 1) + 1,
                     h - 1) AS y1,
               least(greatest(
                   xs - least(greatest(CAST(floor(xs) AS BIGINT), 0), w - 1),
                   0.0), 1.0) AS fx,
               least(greatest(
                   ys - least(greatest(CAST(floor(ys) AS BIGINT), 0), h - 1),
                   0.0), 1.0) AS fy
        FROM rs
    ),
    small AS (
        SELECT r.doc_id, r.oy, r.ox,
               least(greatest({_rint_he(
                   '((p00.v*(1-r.fx) + p01.v*r.fx) * (1-r.fy)'
                   ' + (p10.v*(1-r.fx) + p11.v*r.fx) * r.fy)')}, 0), 255) AS v
        FROM gat r
        JOIN gray p00 ON p00.doc_id = r.doc_id AND p00.y = r.y0 AND p00.x = r.x0
        JOIN gray p01 ON p01.doc_id = r.doc_id AND p01.y = r.y0 AND p01.x = r.x1
        JOIN gray p10 ON p10.doc_id = r.doc_id AND p10.y = r.y1 AND p10.x = r.x0
        JOIN gray p11 ON p11.doc_id = r.doc_id AND p11.y = r.y1 AND p11.x = r.x1
    ),
    dct AS (
        SELECT s.doc_id, u.u, v.v,
               sum({_dct_basis_sql('u.u', 's.oy')} * CAST(s.v AS DOUBLE)
                   * {_dct_basis_sql('v.v', 's.ox')}) AS coef
        FROM small s
        CROSS JOIN generate_series(0, 7) AS u(u)
        CROSS JOIN generate_series(0, 7) AS v(v)
        GROUP BY s.doc_id, u.u, v.v
    ),
    blk AS (
        SELECT doc_id, (u * 8 + v) AS idx8, coef
        FROM dct WHERE NOT (u = 0 AND v = 0)
    ),
    ranked AS (
        SELECT doc_id, idx8, coef,
               row_number() OVER (PARTITION BY doc_id ORDER BY coef, idx8) AS rn
        FROM blk
    ),
    wm AS (
        SELECT doc_id, idx8, coef,
               max(CASE WHEN rn = 32 THEN coef END)
                   OVER (PARTITION BY doc_id) AS m
        FROM ranked
    ),
    ph AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN coef > m
                             THEN (CAST(1 AS BIGINT) << (idx8 - 1))
                             ELSE 0 END) AS BIGINT) AS phash
        FROM wm GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
    ORDER BY id_a, id_b
"""


@register(
    "multimodal_phash_dups",
    oracle=_PHASH_ORACLE,
    tags=("multimodal", "image", "dedup"),
)
def multimodal_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection end-to-end: mint noise-grouped
    raw-RGB images (same-group = same base picture with a few pixels
    perturbed), DCT-pHash each in Arrow batches, then find all pairs
    within Hamming ≤ 6 via the generic pigeonhole band join — the
    image-modality column of the dedup matrix. Scale: hashing is
    map-only; candidates come from an 8-band equi-join, never
    all-pairs. The oracle replays the sha256 closed-form pixels, luma,
    bilinear 32×32, DCT, median threshold, and Hamming pairing in SQL
    (all-pairs there — sound because the band join is exact for
    max_hamming ≤ n_bands−1), so the whole image pipeline is
    cross-engine verified; band-join physics stay pinned by
    tests/test_multimodal_phash.py."""
    from data_eng_project_spark.operators.dedup import fingerprint_hamming_pairs
    from data_eng_project_spark.operators.multimodal import (
        attach_noise_grouped_images,
        phash_images,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    fp = phash_images(attach_noise_grouped_images(docs, groups=100))
    return (
        fingerprint_hamming_pairs(fp, "phash", id_col="doc_id", n_bands=8, max_hamming=6)
        .orderBy("id_a", "id_b")
    )


@register(
    "bloom_join_prune_stats",
    oracle="""
        WITH build AS (
            SELECT DISTINCT o_orderkey AS key FROM orders
            WHERE o_orderpriority = '1-URGENT'
        ), seeds AS (
            SELECT unnest(range(0, 3)) AS j
        ), build_idx AS (
            SELECT CAST(list_sum(list_transform(range(1, 9),
                       i -> (strpos('0123456789abcdef',
                             substr(md5(CAST(key AS VARCHAR) || '#'
                                        || CAST(j AS VARCHAR)), i, 1)) - 1)
                            * 16 ** (8 - i))) AS BIGINT) % 65536 AS idx
            FROM build CROSS JOIN seeds
        ), words AS (
            SELECT CAST(idx // 32 AS INT) AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) AS word
            FROM build_idx GROUP BY 1
        ), probe_keys AS (
            SELECT DISTINCT l_orderkey AS key FROM lineitem
        ), probe_idx AS (
            SELECT key,
                   CAST(list_sum(list_transform(range(1, 9),
                       i -> (strpos('0123456789abcdef',
                             substr(md5(CAST(key AS VARCHAR) || '#'
                                        || CAST(j AS VARCHAR)), i, 1)) - 1)
                            * 16 ** (8 - i))) AS BIGINT) % 65536 AS idx
            FROM probe_keys CROSS JOIN seeds
        ), tagged AS (
            SELECT p.key,
                   bool_and((coalesce(w.word, 0)
                             & (CAST(1 AS BIGINT) << CAST(p.idx % 32 AS INT)))
                            <> 0) AS bloom_pass
            FROM probe_idx p
            LEFT JOIN words w ON CAST(p.idx // 32 AS INT) = w.word_idx
            GROUP BY p.key
        ), truth AS (
            SELECT t.key, t.bloom_pass, (b.key IS NOT NULL) AS is_true
            FROM tagged t LEFT JOIN build b ON t.key = b.key
        )
        SELECT CAST(count(*) AS BIGINT) AS n_probe_keys,
               CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
               CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               CAST(sum(CASE WHEN is_true AND NOT bloom_pass THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_neg,
               round(CAST(sum(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / nullif(count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END), 0),
                     6) + 0.0 AS fp_rate
        FROM truth
    """,
    tags=("join", "bloom", "scale"),
)
def bloom_join_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter join pruning, measured: build an 8 KB bitset
    over urgent-order keys (operators/joins.bloom_build), probe every
    distinct lineitem key map-side via a broadcast word-index join, then
    score the filter against exact truth — false negatives MUST be zero
    (Bloom guarantee, oracle-checked), false positives are the tunable
    cost. The big side never shuffles; this is the dataflow form of
    Spark's runtime row-level filtering, made portable and testable."""
    from data_eng_project_spark.operators.joins import bloom_build, bloom_probe_keys

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build_keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    bloom = bloom_build(build_keys, "key")
    tagged = bloom_probe_keys(
        lineitem.select(F.col("l_orderkey").alias("key")), "key", bloom
    )
    truth = tagged.join(
        build_keys.withColumn("is_true", F.lit(True)), on="key", how="left"
    ).withColumn("is_true", F.coalesce("is_true", F.lit(False)))
    fp = F.sum(F.when(F.col("bloom_pass") & ~F.col("is_true"), 1).otherwise(0))
    n_true = F.sum(F.when(F.col("is_true"), 1).otherwise(0))
    return truth.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        n_true.alias("n_true"),
        fp.alias("n_false_pos"),
        F.sum(F.when(F.col("is_true") & ~F.col("bloom_pass"), 1).otherwise(0)).alias(
            "n_false_neg"
        ),
        (
            F.round(
                fp.cast("double")
                / F.when(F.count(F.lit(1)) - n_true != 0, F.count(F.lit(1)) - n_true),
                6,
            )
            + F.lit(0.0)
        ).alias("fp_rate"),
    )


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
    "audio_fingerprint_match",
    oracle=None,  # The peak track needs |rfft| argmax over every STFT
    # window INCLUDING note-boundary windows mixing two tones — a
    # faithful SQL replay is a naive DFT over 510 clips × 125 windows ×
    # 129 bins × 256 samples ≈ 2e9 terms, far past the oracle time
    # budget (the spectrum/pHash replays stop at ~1e7–1e8). Planted-
    # truth recovery (cropped copies match their originals with
    # consistent offsets) is asserted in tests/test_multimodal_phash.py;
    # the contract twin audio_match_accuracy_report grades the same
    # pipeline end-to-end with an oracle-recomputed probe census.
    tags=("multimodal", "audio", "fingerprint"),
)
def audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio dedup/content-ID end-to-end: crop-robust constellation
    fingerprints (stable-run onset QUADRUPLES — (bin1..bin4, Δt/4
    triplet) hashes; see operators/multimodal.audio_fingerprints) for a
    deterministic melody catalog, probed with cropped copies of every
    50th melody — hash equi-join + ±1-tolerance offset-histogram vote
    returns each probe's best time-aligned catalog match. The waveform
    never crosses the join: only ~n_onsets rows of 20 bytes per clip do."""
    from data_eng_project_spark.operators.multimodal import (
        attach_melody_audio,
        audio_fingerprints,
        audio_match_votes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    catalog = attach_melody_audio(docs)
    index_fps = audio_fingerprints(catalog)
    probes = attach_melody_audio(
        docs.filter(F.col("doc_id") % 50 == 0)
    ).mapInPandas(
        _crop_audio_batches, schema="doc_id long, payload binary"
    )
    probe_fps = audio_fingerprints(probes)
    # Payload-bearing Arrow stages: 10k-row default batches hold
    # ~160 MB of PCM per task (16 KB/payload) — at 10× corpus that
    # exhausts an 8 GB local heap before the fingerprints shrink it.
    # 512-row batches cap in-flight buffers at ~8 MB/task; at cluster
    # scale this is the executor-memory sizing knob for media columns.
    return _run_with_arrow_batch_cap(
        spark, 512, audio_match_votes(probe_fps, index_fps)
    )


@register(
    "audio_match_accuracy_report",
    # The constellation fingerprints stay non-SQL (|rfft| peak tracking
    # over STFT windows — why audio_fingerprint_match is rows-only),
    # but the report's facts ARE: the probe set is a deterministic
    # id-filter of documents, so the oracle independently recomputes
    # the probe count and asserts the planted-truth contract booleans
    # — every cropped probe's best vote is its own origin clip
    # (matched_id == probe_id − 5M), and every winning offset sits in
    # the 800-sample-crop band (800/hop = 6.25 hops → true hits at
    # offsets 6-7; the ±1 vote tolerance can crown an adjacent cell on
    # ties, so the band is graded as [5, 8]). This contract EARNED its
    # keep in its birth round: at sf0.01 it caught cropped probes
    # sharing ~0-2 hashes with the catalog (alignment-dependent
    # phantom onsets + exact-Δt hashing), driving the stable-run +
    # quantized-Δt + vote-tolerance fix in operators/multimodal.py.
    # The bpe_roundtrip_report pattern, closing the audio family's
    # quality evidence.
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_probes,
               TRUE AS all_matched_origin,
               TRUE AS offsets_aligned
        FROM documents WHERE doc_id % 50 = 0
    """,
    tags=("multimodal", "audio", "fingerprint", "evaluation"),
)
def audio_match_accuracy_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible audio content-ID quality evidence: planted-truth
    recovery of the constellation-fingerprint match — same catalog,
    probes, and vote pipeline as audio_fingerprint_match — graded as
    contract booleans with the probe census oracle-recomputed (see
    operators/multimodal.audio_match_accuracy_report)."""
    from data_eng_project_spark.operators.multimodal import (
        attach_melody_audio,
        audio_fingerprints,
        audio_match_accuracy_report,
        audio_match_votes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    catalog = attach_melody_audio(docs)
    index_fps = audio_fingerprints(catalog)
    probe_docs = docs.filter(F.col("doc_id") % 50 == 0)
    probes = attach_melody_audio(probe_docs).mapInPandas(
        _crop_audio_batches, schema="doc_id long, payload binary"
    )
    probe_fps = audio_fingerprints(probes)
    matches = _run_with_arrow_batch_cap(
        spark, 512, audio_match_votes(probe_fps, index_fps)
    )
    return audio_match_accuracy_report(
        matches, probe_docs, id_shift=5_000_000, offset_min=5, offset_max=8
    )


def _run_with_arrow_batch_cap(spark: SparkSession, cap: int, df: DataFrame) -> DataFrame:
    """Execute ``df`` with a temporary Arrow max-batch-rows cap, then
    RESTORE the session conf. The cap is read at execution time, so a
    plain try/finally around a lazily-returned plan would restore it
    before the query ever ran — instead the plan is materialized here
    (eager localCheckpoint; these media queries produce small outputs)
    while the cap holds, and later consumers read the checkpointed
    blocks. Leaving the cap set would silently throttle every later
    Arrow stage in the session to media-sized batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(cap))
    try:
        return df.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, old)


def _crop_audio_batches(it):
    """Drop the first 800 samples (0.1 s) and re-id (+5M): a time-
    shifted partial copy, the content-ID probe case."""
    import pandas as pd

    from data_eng_project_spark.operators.multimodal import (
        decode_raw_audio,
        encode_raw_audio,
    )

    for pdf in it:
        ids, payloads = [], []
        for doc_id, pl in zip(pdf["doc_id"], pdf["payload"]):
            samples, sr = decode_raw_audio(bytes(pl))
            ids.append(int(doc_id) + 5_000_000)
            payloads.append(encode_raw_audio(samples[800:], sr))
        yield pd.DataFrame({"doc_id": ids, "payload": payloads})


@register(
    "video_scene_cuts",
    # Closed-form replay of the planted multi-scene generator: doc i has
    # n = 2 + i%3 scenes; scene t runs L_t = 6 + (i·7 + t·13)%8 frames
    # with channel-equal background shade sh_t = 30 + ((i·31 + t·97)%7)·30
    # and one +20 bright column at x = (f + t)%32. Consecutive shades
    # always differ (97 ≡ 6 mod 7 ⇒ the shade index steps by −1 mod 7),
    # so every boundary is a cut; the mean-|Δluma| at cut s is the
    # category-weighted sum over the 768 pixels (background, the old
    # bright column, the new bright column — which can coincide). The
    # oracle recomputes cut frames and diffs from these formulas, so the
    # REAL decode → luma → frame-differencing pipeline is checked against
    # the generator's math. (Intra-scene motion stays at mean |Δ| = 1.25
    # < threshold 8 by construction, hence exactly one row per scene.)
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   CAST(doc_id AS BIGINT) AS i,
                   2 + CAST(doc_id % 3 AS INT) AS n_scenes
            FROM documents
        ),
        cuts AS (
            SELECT d.*, CAST(g.s AS INT) AS s,
                   6 + CAST((i*7 + (g.s-1)*13) % 8 AS INT) AS l_prev,
                   30 + CAST(((i*31 + (g.s-1)*97) % 7) AS INT)*30 AS sh_prev,
                   30 + CAST(((i*31 + g.s*97) % 7) AS INT)*30 AS sh_cur
            FROM d CROSS JOIN generate_series(1, 3) AS g(s)
            WHERE g.s < d.n_scenes
        ),
        geom AS (
            SELECT *,
                   CAST((CASE WHEN s = 1 THEN 0
                         ELSE 6 + CAST((i*7) % 8 AS INT) +
                              CASE WHEN s = 3
                                   THEN 6 + CAST((i*7 + 13) % 8 AS INT)
                                   ELSE 0 END
                         END) + l_prev AS INT) AS cut_frame,
                   CAST((l_prev - 1 + (s-1)) % 32 AS INT) AS col_prev,
                   CAST(s % 32 AS INT) AS col_cur,
                   0.299*sh_prev + 0.587*sh_prev + 0.114*sh_prev AS lp,
                   0.299*(sh_prev+20) + 0.587*(sh_prev+20) + 0.114*(sh_prev+20) AS lpb,
                   0.299*sh_cur + 0.587*sh_cur + 0.114*sh_cur AS lc,
                   0.299*(sh_cur+20) + 0.587*(sh_cur+20) + 0.114*(sh_cur+20) AS lcb
            FROM cuts
        )
        SELECT doc_id, CAST(0 AS INT) AS cut_frame, CAST(0 AS INT) AS scene_idx,
               0.0 AS diff
        FROM d
        UNION ALL
        SELECT doc_id, cut_frame, s AS scene_idx,
               round(CASE WHEN col_prev = col_cur
                     THEN (24*abs(lcb - lpb) + 744*abs(lc - lp)) / 768
                     ELSE (24*abs(lc - lpb) + 24*abs(lcb - lp)
                           + 720*abs(lc - lp)) / 768
                     END, 6) AS diff
        FROM geom
    """,
    tags=("multimodal", "video", "scenes"),
)
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over raw clips: per-frame mean-|Δluma| with a
    threshold cut detector — deterministic multi-scene clips minted
    executor-side, one output row per detected scene start. The
    keyframe-selection primitive of a video curation pipeline; clips
    never leave the Arrow batch."""
    from data_eng_project_spark.operators.multimodal import (
        attach_scene_video,
        detect_scene_cuts,
    )

    # Raw clips are ~70 KB each — cap Arrow batch rows so in-flight
    # payload buffers stay bounded (see audio_fingerprint_match note).
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return _run_with_arrow_batch_cap(
        spark, 256, detect_scene_cuts(attach_scene_video(docs))
    )
