"""Multimodal queries: binary image, audio and video payloads, derived
from document text or minted deterministically on the executors, and
processed inside Arrow batches (mapInPandas over operators/multimodal.py)
— media metadata, frame sampling, PNG and raw-RGB resize, audio
features, video frame statistics and scene cuts, DCT-pHash image
near-dups, and audio content-ID fingerprints with their planted-truth
accuracy report.

Where the payload math has a closed form, the DuckDB oracle replays it
in SQL (digest bytes, round-half-even, the DCT basis), so the driver
check covers the whole pipeline, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.operators.multimodal import (
    attach_fake_media,
    attach_png_images,
    extract_media_meta,
    frame_sample_stub,
    resize_png_images,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table


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
