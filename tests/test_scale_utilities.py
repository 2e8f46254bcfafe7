"""Scale utilities: salted joins return identical results to plain
joins; partitioned writes produce prunable layouts; bucketed tables
join without an exchange."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_eng_project_spark.operators.sink import write_bucketed_table, write_partitioned
from data_eng_project_spark.operators.skew import salted_join


def test_salted_join_equals_plain_join(spark):
    # one massively hot key (0) plus a uniform tail
    big = spark.range(5000).select(
        (F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 100)).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    plain = plainset = {(r.k, r.payload, r.v) for r in big.join(small, on="k").collect()}
    salted = {(r.k, r.payload, r.v) for r in salted_join(big, small, on="k").collect()}
    assert salted == plainset and len(plainset) > 0


def test_partitioned_write_layout_and_pruning(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame(
        [(1, "2022", "a"), (2, "2022", "b"), (3, "2023", "c")], "id int, y string, v string"
    )
    write_partitioned(df, path, ["y"])
    assert sorted(d for d in os.listdir(path) if d.startswith("y=")) == ["y=2022", "y=2023"]
    read = spark.read.parquet(path).filter(F.col("y") == "2023")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert read.count() == 1
    # partition filter must appear as PartitionFilters, not a post-scan filter
    assert "PartitionFilters: [isnotnull(y" in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # (warehouse dir is a static conf — tables land in ./spark-warehouse,
    # dropped at the end and gitignored)
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed_table(a, "bt_a", "k", num_buckets=8)
    write_bucketed_table(b, "bt_b", "k", num_buckets=8)
    joined = spark.table("bt_a").join(spark.table("bt_b"), on="k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert joined.count() == 1000
    assert "Exchange hashpartitioning" not in plan  # bucket co-location
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Compaction: 12 tiny appended files collapse to 1; rows and a
    decimal checksum survive byte-exactly."""
    from data_eng_project_spark.operators.sink import optimize_table
    from data_eng_project_spark.tables import load_table

    path = str(tmp_path / "accreted")
    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    for i in range(12):
        src.filter(F.col("o_orderkey") % 12 == i).write.mode("append").parquet(path)
    before_sum = spark.read.parquet(path).agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
    ).collect()[0][0]
    n_before, n_after = optimize_table(spark, path, target_file_mb=128)
    assert n_before >= 12 and n_after == 1
    after = spark.read.parquet(path)
    assert after.count() == src.count()
    assert after.agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
    ).collect()[0][0] == before_sum


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """Regression: compacting a Hive-partitioned table must keep the
    key=value directory layout (partition pruning) instead of flattening
    it to unpartitioned files — and must not size the table as 0 bytes
    from a top-level-only listing."""
    import os

    from data_eng_project_spark.operators.sink import optimize_table, write_partitioned
    from data_eng_project_spark.tables import load_table

    path = str(tmp_path / "part_table")
    src = load_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "y", F.year("o_orderdate")
    )
    write_partitioned(src, path, ["y"])
    # accrete small files inside each partition
    for i in range(3):
        src.filter(F.col("o_orderkey") % 17 == i).write.mode("append").partitionBy(
            "y"
        ).parquet(path)
    years_before = {d for d in os.listdir(path) if d.startswith("y=")}
    rows_before = spark.read.parquet(path).count()
    optimize_table(spark, path, target_file_mb=128)
    years_after = {d for d in os.listdir(path) if d.startswith("y=")}
    assert years_after == years_before  # layout preserved, not flattened
    after = spark.read.parquet(path)
    assert after.count() == rows_before
    assert "y" in after.columns
    # no leftover rewrite/backup dirs
    assert not os.path.exists(path + "__optimizing")
    assert not os.path.exists(path + "__pre_rewrite")


def test_compact_parquet_splits_skewed_partition_value(spark, tmp_path):
    """ADVICE r4: within-partition size control. A partition value whose
    bytes exceed target_file_mb must come out of compaction as several
    ~target-sized files, not re-accrete into one; tiny values still
    collapse to a single file, and results are row-identical."""
    import os

    from data_eng_project_spark.operators.sink import optimize_table

    path = str(tmp_path / "skewed")
    # hot partition p=hot carries ~200k rows of strings; p=cold has 10
    hot = spark.range(200_000).select(
        F.lit("hot").alias("p"),
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    cold = spark.range(10).select(
        F.lit("cold").alias("p"), F.col("id").alias("k"), F.lit("x").alias("v")
    )
    for i in range(4):  # accrete small files in both values
        hot.filter(F.col("k") % 4 == i).write.mode("append").partitionBy("p").parquet(path)
    cold.write.mode("append").partitionBy("p").parquet(path)
    hot_bytes = sum(
        os.path.getsize(os.path.join(path, "p=hot", f))
        for f in os.listdir(os.path.join(path, "p=hot"))
        if f.endswith(".parquet")
    )
    target_mb = 1
    assert hot_bytes > target_mb * 1024 * 1024  # premise: hot value is skewed
    before = spark.read.parquet(path)
    rows_before = before.count()
    ksum_before = before.agg(F.sum("k")).collect()[0][0]
    optimize_table(spark, path, target_file_mb=target_mb)
    hot_files = [
        f for f in os.listdir(os.path.join(path, "p=hot")) if f.endswith(".parquet")
    ]
    cold_files = [
        f for f in os.listdir(os.path.join(path, "p=cold")) if f.endswith(".parquet")
    ]
    assert len(hot_files) > 1  # skewed value split toward target size
    assert len(cold_files) == 1  # tiny value fully compacted
    after = spark.read.parquet(path)
    assert after.count() == rows_before
    assert after.agg(F.sum("k")).collect()[0][0] == ksum_before  # values intact


def test_range_sorted_layout_has_disjoint_file_ranges(spark, tmp_path):
    """The data-skipping layout: after write_range_sorted on o_orderdate,
    parquet footer min/max statistics of distinct files must not overlap
    — the property an engine needs to prune whole files."""
    import os

    import pyarrow.parquet as pq

    from data_eng_project_spark.operators.sink import write_range_sorted
    from data_eng_project_spark.tables import load_table

    path = str(tmp_path / "sorted")
    src = load_table(spark, "/root/testdata/sf0.001", "orders")
    write_range_sorted(src, path, ["o_orderdate"], num_files=6)
    ranges = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderdate"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner actually spread the data
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: file-level min/max pruning works


def test_bloom_filter_runtime_join_pruning(spark):
    """Runtime row-level filtering: with the bloom-filter join optimizer
    on, a selective dim filter injects a bloom probe into the fact scan
    side (the 100 TB lever that turns a 2% dim selection into a ~2% fact
    read before the join)."""
    from data_eng_project_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    conf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    creation = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    # The injection rule skips tiny scans (production default: only
    # bother above 10GB on the probe side) — drop that floor so the
    # sf0.001 fixture exercises the rule.
    app_side = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old, old_c = spark.conf.get(conf, None), spark.conf.get(creation, None)
    old_a = spark.conf.get(app_side, None)
    spark.conf.set(conf, "true")
    spark.conf.set(creation, "10GB")
    spark.conf.set(app_side, "0")
    # Disable broadcast so the join keeps a shuffle side worth filtering.
    autob = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        part = load_table(spark, sf, "part").filter(F.col("p_size") == 1)
        li = load_table(spark, sf, "lineitem")
        j = li.join(part, li["l_partkey"] == part["p_partkey"]).groupBy().count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower() or "BloomFilter" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autob)
        if old is not None:
            spark.conf.set(conf, old)
        if old_c is not None:
            spark.conf.set(creation, old_c)
        if old_a is not None:
            spark.conf.set(app_side, old_a)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: file-footer min/max must prune files for
    selective predicates on EITHER clustered column, where a linear sort
    on x prunes only x. Grid data, 16 files: a 1/8-wide slice in x or y
    must skip at least half the z-ordered files, while the y-slice on
    the x-sorted layout touches every file."""
    import os

    import pyarrow.parquet as pq

    from data_eng_project_spark.operators.sink import write_range_sorted, write_zorder

    grid = spark.range(256 * 256).selectExpr(
        "id", "CAST(id % 256 AS LONG) AS x", "CAST(id DIV 256 AS LONG) AS y"
    )

    def files_hit(path, col, lo, hi):
        hit = 0
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            fmin, fmax = None, None
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                s = c.statistics
                fmin = s.min if fmin is None else min(fmin, s.min)
                fmax = s.max if fmax is None else max(fmax, s.max)
            if fmin is not None and not (hi < fmin or lo > fmax):
                hit += 1
        return hit

    zpath = str(tmp_path / "zorder")
    write_zorder(grid, zpath, "x", "y", num_files=16)
    lpath = str(tmp_path / "linear")
    write_range_sorted(grid, lpath, ["x"], num_files=16)

    n_files = len([f for f in os.listdir(zpath) if f.endswith(".parquet")])
    assert n_files >= 8
    # Narrow slice on each dimension: Z-order skips on both...
    assert files_hit(zpath, "x", 0, 31) <= n_files // 2
    assert files_hit(zpath, "y", 0, 31) <= n_files // 2
    # ...the linear layout skips on its sort column but not the other.
    assert files_hit(lpath, "x", 0, 31) <= 4
    assert files_hit(lpath, "y", 0, 31) >= 14

    # And the layout is a pure reorganization: same rows.
    assert spark.read.parquet(zpath).count() == 256 * 256


def test_optimize_table_compacts_and_zorders(spark, tmp_path):
    """The maintenance composite: many small appended files fold into a
    Z-ordered layout with the same rows and pruning on both columns."""
    import os

    from data_eng_project_spark.operators.sink import optimize_table

    path = str(tmp_path / "t")
    grid = spark.range(64 * 64).selectExpr(
        "id", "CAST(id % 64 AS LONG) AS x", "CAST(id DIV 64 AS LONG) AS y"
    )
    for i in range(8):
        grid.filter(F.col("id") % 8 == i).write.mode("append").parquet(path)
    before, after = optimize_table(
        spark, path, zorder_cols=("x", "y"), num_files=4
    )
    assert before >= 8 and after == 4
    assert spark.read.parquet(path).count() == 64 * 64
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4


def test_export_training_shards_layout_and_manifest(spark, tmp_path):
    """The training export: per-shard partition dirs, rows in packing
    order inside each shard, and a manifest equal to recomputation."""
    import os

    from data_eng_project_spark.operators.curation import export_training_shards
    from data_eng_project_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    manifest = {r.shard: r for r in export_training_shards(docs, out).collect()}
    shards = sorted(
        d.split("=")[1] for d in os.listdir(out) if d.startswith("shard=")
    )
    assert set(shards) == set(manifest)
    total_docs = docs.count()
    assert sum(m.n_docs for m in manifest.values()) == total_docs
    back = spark.read.parquet(out)
    assert back.count() == total_docs
    # inside one shard, offsets are the packing cumsum: sorted & gapless
    one = sorted(
        back.filter(F.col("shard") == shards[0])
        .select("start_offset", "n_tokens")
        .collect()
    )
    run = 0
    for r in one:
        assert r.start_offset == run
        run += r.n_tokens
    m = manifest[shards[0]]
    assert run == m.n_tokens and m.n_chunks == (run + 511) // 512


def test_prepare_restores_arrow_batch_default(spark):
    """Media queries lower arrow.maxRecordsPerBatch to bound payload
    batches; prepare() must restore the default so the cap never leaks
    into the next query on a shared session."""
    from data_eng_project_spark.session import prepare

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    prepare(spark)
    assert (
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"
    )


def test_registry_prepares_every_query(spark, sf_dir):
    """The registry wraps every query in ``session.prepare``: a query
    called through the driver surface on a session whose confs drifted
    (the driver's vanilla ANSI-on, host-TZ session; a media query's
    lowered Arrow cap) runs with the engine's runtime confs restored."""
    import __spark_entry__
    from data_eng_project_spark.plans import REGISTRY
    from data_eng_project_spark.session import _RUNTIME_CONFS

    assert all(hasattr(spec.fn, "__wrapped__") for spec in REGISTRY.values())
    drifted = {
        "spark.sql.ansi.enabled": "true",
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
    }
    saved = {k: spark.conf.get(k) for k in drifted}
    try:
        for k, v in drifted.items():
            spark.conf.set(k, v)
        __spark_entry__.queries()["q1_pricing_summary"](spark, sf_dir)
        assert {k: spark.conf.get(k) for k in drifted} == {
            k: _RUNTIME_CONFS[k] for k in drifted
        }
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_queries_leave_no_temp_views(spark, sf_dir):
    """Queries written as ``spark.sql`` text bind their tables as
    DataFrame arguments, so they neither replace a same-named view in
    the caller's long-lived session nor leave one behind."""
    from data_eng_project_spark.plans import REGISTRY

    def temp_names() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_names()
    for name in (
        "grouping_sets_revenue",
        "scalar_subquery_above_avg",
        "q2_max_order_per_customer",
        "q16_parts_never_ordered",
        "sql_api_revenue_report",
    ):
        assert REGISTRY[name].fn(spark, sf_dir).count() > 0
    assert temp_names() == before


def test_compact_parquet_handles_map_columns(spark, tmp_path):
    """Regression (r5 review): the sized-compaction salt is xxhash64 of
    the data columns, but Spark's hash functions reject MapType — a
    partitioned table carrying a map attrs column must still compact
    (salting on the hashable columns only), not fail analysis."""
    from pyspark.sql import functions as F

    from data_eng_project_spark.operators.sink import optimize_table

    path = str(tmp_path / "map_tbl")
    df = (
        spark.range(0, 2000)
        .select(
            (F.col("id") % 3).alias("part"),
            F.col("id").alias("v"),
            F.create_map(F.lit("k"), F.col("id").cast("string")).alias("attrs"),
        )
    )
    df.repartition(8).write.partitionBy("part").parquet(path)
    optimize_table(spark, path, target_file_mb=128)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    # values (including the map payload) survive the rewrite
    assert back.selectExpr("sum(v)").first()[0] == sum(range(2000))
    assert back.filter(F.col("attrs")["k"] == "7").count() == 1


def test_compact_parquet_map_only_data_column(spark, tmp_path):
    """A table whose ONLY data column is a map degrades to the plain
    layout-preserving rewrite (no salt available) instead of failing."""
    from pyspark.sql import functions as F

    from data_eng_project_spark.operators.sink import optimize_table

    path = str(tmp_path / "map_only_tbl")
    df = spark.range(0, 500).select(
        (F.col("id") % 2).alias("part"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("attrs"),
    )
    df.repartition(4).write.partitionBy("part").parquet(path)
    optimize_table(spark, path, target_file_mb=128)
    assert spark.read.parquet(path).count() == 500


def test_zorder_frame_interleave_round_trip(spark):
    """zorder_frame's Morton value must de-interleave back to exactly
    the rank pair it was built from (a in odd bit positions), and ranks
    must stay inside [0, 2^bits) with min/max hitting the rail values —
    the contract both the clustered writer and the layout-audit oracles
    (plans/layout.py) rely on."""
    from data_eng_project_spark.operators.sink import zorder_frame

    grid = spark.range(1000).selectExpr(
        "CAST(id % 37 AS LONG) AS x", "CAST(id % 101 AS LONG) AS y"
    )
    rows = zorder_frame(grid, "x", "y", bits=8, keep_ranks=True).collect()
    assert len(rows) == 1000
    for r in rows:
        assert 0 <= r._arank < 256 and 0 <= r._brank < 256
        a = b = 0
        for i in range(8):
            a |= ((r._z >> (2 * i + 1)) & 1) << i
            b |= ((r._z >> (2 * i)) & 1) << i
        assert (a, b) == (r._arank, r._brank)
    assert min(r._arank for r in rows) == 0
    assert max(r._arank for r in rows) == 255
