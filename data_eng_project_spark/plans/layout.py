"""Data-layout query surface: Z-order (Morton-curve) clustering audited
end-to-end. The reference is a civic-data ETL with no layout tooling
(SURVEY.md §2); at 100 TB the layout job IS the difference between a
selective query reading gigabytes and reading the lake, so the engine's
clustered writer (operators/sink.py write_zorder / optimize_table) gets
first-class, oracle-backed inspection queries here:

- zorder_layout_stats: the Z-bucket → (rank-rectangle, raw min/max)
  map, proving every bucket covers a compact rectangle of BOTH
  dimensions (linear sorts give this for the leading column only);
- zorder_pruning_ratio: a file-level data-skipping simulation — files
  are the writer's Z-ranges vs a single-column sort's ranges, scan
  decisions use exactly the parquet footer min/max rule — measuring
  files scanned for a 2-D box predicate and a trailing-column-only
  predicate under each layout.

Both run the SAME rank/interleave math as the writer (zorder_frame is
shared code), so the oracle certifies the layout the writer produces.
All outputs are integer rank-space statistics — bit-stable across
engines with no float rounding in play.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_eng_project_spark.operators.sink import zorder_frame
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

# 8 bits per dimension = a 256x256 rank grid: fine enough that bucket
# rectangles are visibly compact, coarse enough that the generated
# interleave SQL stays readable.
_BITS = 8
_N = 1 << _BITS

# The box predicate used by zorder_pruning_ratio, in rank space
# (rank is monotone in the raw value, so file-skipping behavior for a
# raw-value range predicate is identical; rank space keeps the oracle
# all-integer). Middle ~10% band of each dimension.
_LO, _HI = 115, 140


def _rank_sql(col: str, lo: str, hi: str) -> str:
    """DuckDB twin of operators/sink.zorder_frame's _rank: min/max
    scaled rank with the op order mirrored exactly (sub, div, mul 256,
    floor, least)."""
    return (
        f"least({_N - 1}, CAST(floor(CASE WHEN {hi} > {lo} "
        f"THEN (CAST({col} AS DOUBLE) - {lo}) / ({hi} - {lo}) "
        f"ELSE 0.0 END * {_N}) AS BIGINT))"
    )


def _interleave_sql(a: str, b: str, bits: int = _BITS) -> str:
    """DuckDB twin of operators/sink.zorder_value: Morton-interleave two
    rank columns (a in the odd bit positions)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


_RANKS_CTE = f"""
    bounds AS (
        SELECT min(CAST(l_partkey AS DOUBLE)) AS amin,
               max(CAST(l_partkey AS DOUBLE)) AS amax,
               min(CAST(l_suppkey AS DOUBLE)) AS bmin,
               max(CAST(l_suppkey AS DOUBLE)) AS bmax
        FROM lineitem
    ), ranks AS (
        SELECT CAST(l_partkey AS BIGINT) AS a_raw,
               CAST(l_suppkey AS BIGINT) AS b_raw,
               {_rank_sql('l_partkey', 'amin', 'amax')} AS arank,
               {_rank_sql('l_suppkey', 'bmin', 'bmax')} AS brank
        FROM lineitem CROSS JOIN bounds
    ), zed AS (
        SELECT a_raw, b_raw, arank, brank,
               {_interleave_sql('arank', 'brank')} AS z
        FROM ranks
    )
"""


@register(
    "zorder_layout_stats",
    oracle=f"""
        WITH {_RANKS_CTE}
        SELECT CAST(z >> {2 * _BITS - 4} AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(arank) AS BIGINT) AS a_rank_min,
               CAST(max(arank) AS BIGINT) AS a_rank_max,
               CAST(min(brank) AS BIGINT) AS b_rank_min,
               CAST(max(brank) AS BIGINT) AS b_rank_max,
               CAST(min(a_raw) AS BIGINT) AS a_min,
               CAST(max(a_raw) AS BIGINT) AS a_max,
               CAST(min(b_raw) AS BIGINT) AS b_min,
               CAST(max(b_raw) AS BIGINT) AS b_max
        FROM zed
        GROUP BY 1
    """,
    tags=("layout", "zorder", "scale"),
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality audit over lineitem (l_partkey x l_suppkey):
    bucket rows by the top 4 Morton bits (16 buckets — exactly the
    writer's coarsest file split) and report each bucket's rank-space
    rectangle and raw min/max. Every bucket must cover at most a
    quarter of EACH dimension's rank range — the 2-D locality property
    footer-stat pruning relies on, which no single-column sort has."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    zf = zorder_frame(li, "l_partkey", "l_suppkey", bits=_BITS, keep_ranks=True)
    return (
        zf.groupBy(
            F.shiftright(F.col("_z"), 2 * _BITS - 4).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_arank").cast("long").alias("a_rank_min"),
            F.max("_arank").cast("long").alias("a_rank_max"),
            F.min("_brank").cast("long").alias("b_rank_min"),
            F.max("_brank").cast("long").alias("b_rank_max"),
            F.min("l_partkey").cast("long").alias("a_min"),
            F.max("l_partkey").cast("long").alias("a_max"),
            F.min("l_suppkey").cast("long").alias("b_min"),
            F.max("l_suppkey").cast("long").alias("b_max"),
        )
    )


_FILE_STATS_SQL = """
        SELECT {file_expr} AS file_id,
               min(arank) AS famin, max(arank) AS famax,
               min(brank) AS fbmin, max(brank) AS fbmax
        FROM zed GROUP BY 1
"""


def _scan_counts_sql(files_cte: str, layout: str) -> str:
    return f"""
        SELECT '{layout}' AS layout, 'ab_box' AS predicate,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(coalesce(sum(CASE WHEN famax >= {_LO} AND famin <= {_HI}
                        AND fbmax >= {_LO} AND fbmin <= {_HI}
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS files_scanned
        FROM {files_cte}
        UNION ALL
        SELECT '{layout}' AS layout, 'b_only' AS predicate,
               CAST(count(*) AS BIGINT) AS files_total,
               CAST(coalesce(sum(CASE WHEN fbmax >= {_LO} AND fbmin <= {_HI}
                        THEN 1 ELSE 0 END), 0) AS BIGINT) AS files_scanned
        FROM {files_cte}
    """


@register(
    "zorder_pruning_ratio",
    oracle=f"""
        WITH {_RANKS_CTE},
        zfiles AS ({_FILE_STATS_SQL.format(file_expr=f'z >> {2 * _BITS - 6}')}),
        afiles AS ({_FILE_STATS_SQL.format(file_expr=f'arank >> {_BITS - 6}')})
        {_scan_counts_sql('zfiles', 'zorder')}
        UNION ALL
        {_scan_counts_sql('afiles', 'sort_a')}
    """,
    tags=("layout", "zorder", "pruning", "scale"),
)
def zorder_pruning_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping simulation: lay lineitem out as 64 files under
    (a) the Z-order writer's equal-width Z-ranges and (b) a plain sort
    on l_partkey, compute each file's per-dimension min/max (the
    parquet footer stats), then count files a scan must read for a 2-D
    box predicate and for a trailing-column-only predicate — the exact
    footer-overlap rule every engine's file pruner applies. Z-order
    skips files for BOTH predicates; the linear sort cannot skip any
    file for the trailing column. The decision metric for running
    optimize_table(zorder_cols=...) on a 100 TB table."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    zf = zorder_frame(li, "l_partkey", "l_suppkey", bits=_BITS, keep_ranks=True)

    # Single corpus pass for BOTH layouts and BOTH predicates: each row
    # explodes into its (layout, file_id) pair memberships, ONE grouped
    # aggregate builds every file's footer stats, a |layouts|-row
    # conditional aggregate computes the two predicates' scan counts,
    # and the predicate fan-out is an explode over those rows. The
    # previous union-of-selects form re-executed the rank/Z-interleave
    # lineage once per branch — four corpus passes for a four-row answer
    # (the dq_report finding, same class).
    pairs = zf.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright(F.col("_z"), 2 * _BITS - 6).alias("file_id"),
                ),
                F.struct(
                    F.lit("sort_a").alias("layout"),
                    F.shiftright(F.col("_arank"), _BITS - 6).alias("file_id"),
                ),
            )
        ).alias("_lf"),
        "_arank",
        "_brank",
    )
    files = pairs.groupBy(
        F.col("_lf.layout").alias("layout"),
        F.col("_lf.file_id").alias("file_id"),
    ).agg(
        F.min("_arank").alias("famin"),
        F.max("_arank").alias("famax"),
        F.min("_brank").alias("fbmin"),
        F.max("_brank").alias("fbmax"),
    )
    box = (
        (F.col("famax") >= _LO)
        & (F.col("famin") <= _HI)
        & (F.col("fbmax") >= _LO)
        & (F.col("fbmin") <= _HI)
    )
    b_only = (F.col("fbmax") >= _LO) & (F.col("fbmin") <= _HI)
    per_layout = files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("files_total"),
        F.coalesce(F.sum(F.when(box, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("scan_box"),
        F.coalesce(F.sum(F.when(b_only, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("scan_b"),
    )
    melted = per_layout.select(
        "layout",
        "files_total",
        F.explode(
            F.array(
                F.struct(
                    F.lit("ab_box").alias("predicate"),
                    F.col("scan_box").alias("files_scanned"),
                ),
                F.struct(
                    F.lit("b_only").alias("predicate"),
                    F.col("scan_b").alias("files_scanned"),
                ),
            )
        ).alias("_e"),
    )
    return melted.select(
        "layout",
        F.col("_e.predicate").alias("predicate"),
        "files_total",
        F.col("_e.files_scanned").alias("files_scanned"),
    )
