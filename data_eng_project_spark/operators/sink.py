"""Idempotent keyed sink (reference S14/J4).

The reference gets idempotency from generated ``INSERT ... ON CONFLICT DO
NOTHING`` SQL (``dags/global_dag.py:144,206,213``) — which also happens to
be a SQL-injection hazard via string concat. The dataflow version:
dedup-on-key, anti-join against the existing table, append. Plus the
full-refresh dimension mode ("we update all the power plants every time",
reference ``docs/Report.md:78``).

Known limitation (documented, single-writer assumption): the
read-anti-join-append sequence is not transactional; concurrent writers
need a table format with MERGE (Delta/Iceberg) — the operator's dataflow
is exactly what their MERGE INTO compiles to.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _exists(path: str) -> bool:
    return os.path.exists(path) and bool(os.listdir(path))


def write_idempotent(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str] | str
) -> int:
    """Append only rows whose key is new; returns rows written.

    Append-only fact semantics ("You can only die once",
    reference docs/Report.md:77).
    """
    from data_eng_project_spark.operators.joins import deterministic_dedup

    key_list = [keys] if isinstance(keys, str) else list(keys)
    fresh = deterministic_dedup(df, key_list)
    if _exists(path):
        existing = spark.read.parquet(path).select(*key_list)
        fresh = fresh.join(existing, on=key_list, how="left_anti")
    # Materialize once so the count and the write see the same rows.
    fresh = fresh.cache()
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    fresh.unpersist()
    return n


def write_full_refresh(df: DataFrame, path: str) -> None:
    """Overwrite-the-dimension mode (reference I2, plants table)."""
    df.write.mode("overwrite").parquet(path)


# SQLStates that mean "relation does not exist" across the major
# dialects: 42S02 (MySQL/SQLServer/ODBC), 42P01 (Postgres), 42704
# (Db2 undefined name), S0002 (older SQLServer drivers).
_TABLE_MISSING_SQLSTATES = frozenset({"42S02", "42P01", "42704", "S0002"})
# Dialect messages that name the failure unambiguously even when the
# SQLState is generic (Oracle raises ORA-00942 under SQLState 42000).
_TABLE_MISSING_PHRASES = (
    "table or view does not exist",  # Oracle ORA-00942
    "no such table",  # SQLite
)


def _jdbc_errors(exc: Exception):
    """Yield (sqlstate, message) down a JDBC failure's cause chain.

    Handles both the raw py4j form (``java_exception`` attribute) and
    PySpark's captured exceptions; every reflective call is guarded — a
    probe failure we cannot introspect yields only its Python message
    and will therefore be re-raised by the caller (the safe default)."""
    yield None, str(exc)
    jexc = getattr(exc, "java_exception", None)
    seen = 0
    while jexc is not None and seen < 16:  # cause chains are short; guard cycles
        seen += 1
        state, msg = None, None
        try:
            state = jexc.getSQLState()
        except Exception:  # noqa: BLE001 — not a SQLException level
            state = None
        try:
            msg = jexc.getMessage()
        except Exception:  # noqa: BLE001
            msg = None
        yield state, msg
        try:
            jexc = jexc.getCause()
        except Exception:  # noqa: BLE001
            jexc = None


def _jdbc_error_is_table_missing(exc: Exception, table: str) -> bool:
    """True only for failures that unambiguously mean the TARGET TABLE
    does not exist: a table-missing SQLState anywhere in the cause
    chain, a dialect phrase reserved for missing relations, or a
    missing-object message that names the table itself (which a
    ClassNotFoundException for a JDBC driver or a missing COLUMN
    message does not)."""
    for state, msg in _jdbc_errors(exc):
        if state in _TABLE_MISSING_SQLSTATES:
            return True
        m = (msg or "").lower()
        if any(p in m for p in _TABLE_MISSING_PHRASES):
            return True
        if (
            table.lower() in m
            and ("not found" in m or "does not exist" in m or "doesn't exist" in m)
            and "column" not in m
            and "class" not in m
        ):
            return True
    return False


def write_jdbc_idempotent(
    df: DataFrame,
    url: str,
    table: str,
    key: str,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC twin of write_idempotent — the Spark form of the reference's
    generated ``INSERT ... ON CONFLICT DO NOTHING`` Postgres scripts
    (reference dags/global_dag.py:144,206,213 + :381-397): dedup on the
    key, anti-join against the live table, append only the new rows.
    Same single-writer caveat as write_idempotent; no SQL-string
    generation, so the reference's injection hazard disappears.

    Untestable in this container (no database); exercised structurally
    via the parquet twin, which shares the dedup/anti-join path.
    """
    from data_eng_project_spark.operators.joins import deterministic_dedup

    props = properties or {}
    new = deterministic_dedup(df, [key])
    # One dialect-portable probe (LIMIT-0 scan of the target — valid on
    # engines without FROM-less SELECT, unlike a `SELECT 1` ping), with
    # the failure CLASSIFIED rather than assumed: only a table-missing
    # error (SQLState 42S02/42P01/... or an unambiguous message naming
    # the table) means legitimate first write. Every other failure —
    # missing JDBC driver class, auth/permission denial, network — MUST
    # propagate: silently skipping the anti-join would append duplicates
    # into the one sink whose contract is idempotency. (ADVICE r4 flagged
    # bare "not found" substring matching; the r5 review flagged the
    # opposite failure of treating ANY probe error as first-write.)
    reader = df.sparkSession.read.format("jdbc").option("url", url)
    for k, v in props.items():
        reader = reader.option(k, v)
    try:
        reader.option("query", f"SELECT * FROM {table} WHERE 1=0").load()
    except Exception as exc:  # noqa: BLE001 — classified below, re-raised if unknown
        if not _jdbc_error_is_table_missing(exc, table):
            raise
        table_exists = False
    else:
        table_exists = True
    if table_exists:
        existing = df.sparkSession.read.jdbc(url, table, properties=props).select(key)
        new = new.join(existing, on=key, how="left_anti")
    new.write.jdbc(url, table, mode="append", properties=props)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned lake layout — the 100 TB posture for fact tables
    (e.g. deaths by year(date_of_death), events by date): gives every
    downstream query partition pruning for free and bounds file sizes."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame, table_name: str, bucket_col: str, num_buckets: int = 32
) -> None:
    """Bucketed managed table: co-locates both sides of a recurring join
    key so the join is shuffle-free (Spark reads matching buckets
    directly). The lakehouse answer to 'this join runs every hour'."""
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table_name)
    )


def _parquet_files_recursive(path: str) -> list[str]:
    """All data files under ``path``, including Hive-partitioned
    ``key=value`` subdirectories — sizing from the top level only would
    read a partitioned table as 0 bytes."""
    out = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(".")
        )
    return out


def _partition_columns(path: str) -> list[str]:
    """Hive partition columns of a directory layout (outermost first),
    discovered from the first ``key=value`` directory chain."""
    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            d
            for d in sorted(os.listdir(cur))
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        ]
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = os.path.join(cur, subdirs[0])


def _swap_directories(path: str, tmp: str) -> None:
    """Replace ``path`` with ``tmp``, never deleting data before its
    replacement is fully in place: the original is renamed aside, the
    rewrite renamed in, and only then is the original removed. A crash
    between the two renames leaves the full original intact under
    ``<path>__pre_rewrite`` (recovery = rename it back); the old
    rmtree-then-rename order had a window with NO copy on disk."""
    import shutil

    bak = path.rstrip("/") + "__pre_rewrite"
    if os.path.exists(bak):
        shutil.rmtree(bak)
    os.rename(path, bak)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(bak, path)  # roll back; the rewrite dir is left for inspection
        raise
    shutil.rmtree(bak)


def _rewrite_partitioned_sized(
    df: DataFrame,
    path: str,
    tmp: str,
    part_cols: list[str],
    files_before: list[str],
    target_bytes: int,
) -> None:
    """Partition-layout-preserving rewrite with per-value size control:
    each partition value gets ceil(its bytes on disk / target_bytes) salt
    buckets, so compaction caps file sizes inside skewed values instead
    of re-accreting one file per value (ADVICE r4). Deterministic salt
    (xxhash64 of the hashable data columns — map-typed columns are
    excluded from the salt, and a table with no hashable data column
    degrades to the plain layout-preserving rewrite rather than
    failing), partition pruning untouched."""
    import math

    from pyspark.sql import functions as F

    sizes: dict[tuple, int] = {}
    root = path.rstrip("/")
    for f in files_before:
        rel = os.path.relpath(f, root)
        vals = tuple(seg.split("=", 1)[1] for seg in rel.split(os.sep) if "=" in seg)
        sizes[vals] = sizes.get(vals, 0) + os.path.getsize(f)
    buckets = [
        vals + (max(1, math.ceil(b / target_bytes)),) for vals, b in sizes.items()
    ]
    # Spark's hash expressions reject MapType anywhere in the input type,
    # so salt only on hashable data columns — a map-typed attrs column
    # must not break compaction of an otherwise ordinary table.
    def _hashable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.ArrayType):
            return _hashable(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(_hashable(f.dataType) for f in dt.fields)
        return True

    data_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in part_cols and _hashable(f.dataType)
    ]
    if not buckets or not data_cols:
        # No measurable files (nothing to size against) or a table that
        # is ONLY partition columns (no data column to salt on): plain
        # layout-preserving rewrite.
        (
            df.repartition(*part_cols)
            .write.mode("overwrite")
            .partitionBy(*part_cols)
            .parquet(tmp)
        )
        return
    # Partition-directory values are strings; join on string casts.
    nb = df.sparkSession.createDataFrame(
        buckets, [f"_pv{i}" for i in range(len(part_cols))] + ["_nb"]
    )
    cond = None
    for i, c in enumerate(part_cols):
        eq = F.col(c).cast("string") == F.col(f"_pv{i}")
        cond = eq if cond is None else (cond & eq)
    joined = df.join(F.broadcast(nb), on=cond, how="left").drop(
        *[f"_pv{i}" for i in range(len(part_cols))]
    )
    salted = joined.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*data_cols), F.coalesce(F.col("_nb"), F.lit(1))).cast("int"),
    ).drop("_nb")
    (
        salted.repartition(*part_cols, "_salt")
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )


def write_range_sorted(
    df: DataFrame, path: str, sort_cols: list[str], num_files: int = 8
) -> None:
    """Range-clustered parquet layout for data skipping: rows are
    range-partitioned then sorted within each file on sort_cols, so
    every file covers a DISJOINT range and its row-group min/max
    statistics let any engine skip whole files for selective predicates
    on those columns — poor-man's Z-order for one sort dimension; the
    layout tool behind 'filters on ts should not read 100 TB'."""
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative integer
    columns into a Morton/Z-curve value (a's bits land in the odd
    positions). Pure bitwise codegen — the expression tree is 4·bits
    ops, constant-folded per row, no Python."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(one)
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(one)
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bbit, 2 * i)
        )
    return z


def zorder_frame(
    df: DataFrame, col_a: str, col_b: str, bits: int = 16, keep_ranks: bool = False
) -> DataFrame:
    """Attach the Morton value behind write_zorder as a ``_z`` column
    (plus ``_arank``/``_brank`` when keep_ranks). Each column is bucketed
    into 2^bits ranks between its min and max (the stats come from one
    broadcast aggregate — no driver collect) and the ranks interleave
    into a Z-curve value. Shared by the clustered writer below and the
    layout-inspection queries (plans/layout.py), so the math audited by
    the oracle IS the math the writer lays files out with."""
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(F.col(col_a).cast("double")).alias("_amin"),
        F.max(F.col(col_a).cast("double")).alias("_amax"),
        F.min(F.col(col_b).cast("double")).alias("_bmin"),
        F.max(F.col(col_b).cast("double")).alias("_bmax"),
    )
    n_buckets = 1 << bits

    def _rank(c: str, lo: str, hi: str):
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(lo)) / span).otherwise(
            F.lit(0.0)
        )
        return F.least(
            F.lit(n_buckets - 1), F.floor(frac * n_buckets).cast("long")
        )

    out = (
        df.join(F.broadcast(stats))
        .withColumn("_arank", _rank(col_a, "_amin", "_amax"))
        .withColumn("_brank", _rank(col_b, "_bmin", "_bmax"))
        .withColumn("_z", zorder_value(F.col("_arank"), F.col("_brank"), bits))
        .drop("_amin", "_amax", "_bmin", "_bmax")
    )
    return out if keep_ranks else out.drop("_arank", "_brank")


def write_zorder(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int = 8,
    bits: int = 16,
) -> None:
    """Z-order clustered parquet layout: TWO-dimensional data skipping,
    the upgrade over write_range_sorted's single sort dimension. Rank
    bucketing + Morton interleave come from zorder_frame above; files
    are range-partitioned and sorted on the Z value. Locality on the
    Z-curve means every file covers a compact rectangle-ish region of
    (a, b) space, so footer min/max statistics prune files for selective
    predicates on EITHER column — a linear sort gives this for its
    leading column only.

    At 100 TB this is the table-maintenance job behind "filter on either
    user_id or ts without reading the lake"; engines with native
    clustering (OPTIMIZE ZORDER BY) run the same math. Min/max bucketing
    degrades under heavy skew (most ranks collapse into few buckets) —
    swap the bucket edges for approx quantiles if a dimension is skewed;
    the interleave and layout are unchanged.
    """
    (
        zorder_frame(df, col_a, col_b, bits=bits)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_cols: tuple[str, str] | None = None,
    target_file_mb: int = 128,
    num_files: int | None = None,
) -> tuple[int, int]:
    """Table maintenance (the OPTIMIZE [ZORDER BY] job): rewrite a
    parquet directory into ~target_file_mb files and, when two cluster
    columns are given, lay the rewrite out Z-ordered so footer min/max
    prune on either column. Streaming/incremental sinks accrete small
    files (every micro-batch appends a few); scans then pay per-file
    open/footer costs and lose row-group-sized reads — at 100 TB the
    small-file problem IS the read-performance problem. One read + one
    write; returns (files_before, files_after). ``num_files`` overrides
    the size-derived file count of an unpartitioned rewrite.

    Hive-partitioned layouts are preserved AND size-bounded (and ignore
    zorder_cols — Z-ordering within partitions is a per-partition job,
    not a flatten): partition columns are rediscovered from the
    directory chain, per-partition-value byte sizes are measured from
    the files on disk, and the rewrite repartitions on (partition cols,
    salt) where each value's salt cardinality is
    ceil(partition_bytes / target_file_mb) — so a skewed partition value
    splits into ~target-sized files instead of re-accreting into a
    single multi-GB file that defeats the read-size goal, while pruning
    is untouched. Crash posture: see _swap_directories — no point in the
    rewrite deletes data before its replacement is complete.
    """
    import math

    files_before = _parquet_files_recursive(path)
    if num_files is None:
        total = sum(os.path.getsize(f) for f in files_before)
        num_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    part_cols = _partition_columns(path)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__optimizing"
    if part_cols:
        _rewrite_partitioned_sized(
            df, path, tmp, part_cols, files_before, target_file_mb * 1024 * 1024
        )
    elif zorder_cols is not None:
        write_zorder(df, tmp, zorder_cols[0], zorder_cols[1], num_files=num_files)
    else:
        df.coalesce(num_files).write.mode("overwrite").parquet(tmp)
    _swap_directories(path, tmp)
    return len(files_before), len(_parquet_files_recursive(path))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (full-refresh semantics by default) — the interchange
    counterpart of write_full_refresh for consumers standardized on the
    Hive/ORC toolchain. Columnar, footer-statistics-bearing, and read
    back by read_orc with pushdown intact."""
    df.write.mode(mode).orc(path)
