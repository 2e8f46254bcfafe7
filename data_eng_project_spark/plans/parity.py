"""Reference-parity operators (SURVEY.md §2) expressed as verified queries
over the benchmark tables. Each docstring cites the reference behavior the
query demonstrates; the DuckDB oracle states the same computation in ANSI
SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_eng_project_spark.fixtures import FIXTURE_DIR, ensure_reference_fixtures
from data_eng_project_spark.functions.dates import parse_date_multi
from data_eng_project_spark.operators.joins import (
    anti_join,
    broadcast_lookup_join,
    union_with_discriminator,
    upsert_anti_join,
)
from data_eng_project_spark.plans.registry import register
from data_eng_project_spark.tables import load_table

# Fixture files must exist before the driver evaluates either the Spark
# queries or the DuckDB oracles that read them (see fixtures.py).
ensure_reference_fixtures()


@register(
    "customer_nation_region",
    oracle="""
        SELECT c.c_custkey, n.n_name, r.r_name
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("parity", "J1"),
)
def customer_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup join chain (reference J1: the driver-side INSEE
    geo-dict probe, dags/global_dag.py:129,133-134, as a real broadcast
    hash join with inner/drop-on-miss semantics)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    out = broadcast_lookup_join(
        customer, nation, on=customer["c_nationkey"] == nation["n_nationkey"]
    )
    out = broadcast_lookup_join(out, region, on=out["n_regionkey"] == region["r_regionkey"])
    return out.select("c_custkey", "n_name", "r_name")


@register(
    "orders_not_in_ledger",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
        FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM orders l
            WHERE l.o_orderkey % 7 = 0 AND l.o_orderkey = o.o_orderkey
        )
    """,
    tags=("parity", "J2", "S13"),
)
def orders_not_in_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental anti-join vs an already-processed ledger (reference
    J2/S13: files-on-disk MINUS Redis ledger, dags/global_dag.py:85-91).
    The ledger here is the subset of keys ≡ 0 (mod 7)."""
    orders = load_table(spark, sf_dir, "orders")
    ledger = orders.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    return anti_join(orders, ledger, on="o_orderkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@register(
    "upsert_new_rows",
    oracle="""
        SELECT n.o_orderkey, n.o_totalprice
        FROM orders n
        WHERE NOT EXISTS (
            SELECT 1 FROM orders e
            WHERE e.o_orderkey % 3 = 0 AND e.o_orderkey = n.o_orderkey
        )
    """,
    tags=("parity", "J4", "S14"),
)
def upsert_new_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent-upsert dataflow (reference S14/J4: generated
    INSERT ... ON CONFLICT DO NOTHING, dags/global_dag.py:144,206,213):
    dedup-on-key then anti-join against the 'existing' table."""
    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return upsert_anti_join(orders, existing, keys="o_orderkey").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "union_discriminator",
    oracle="""
        SELECT s_suppkey, s_name, 'NUCLEAR' AS plant_type
        FROM supplier WHERE s_suppkey % 2 = 0
        UNION ALL
        SELECT s_suppkey, s_name, 'THERMAL' AS plant_type
        FROM supplier WHERE s_suppkey % 2 = 1
    """,
    tags=("parity", "J3"),
)
def union_discriminator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-as-integration with a provenance literal (reference J3:
    nuclear ∪ thermal plants, dags/global_dag.py:199-213)."""
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    nuclear = supplier.filter(F.col("s_suppkey") % 2 == 0)
    thermal = supplier.filter(F.col("s_suppkey") % 2 == 1)
    return union_with_discriminator([(nuclear, "NUCLEAR"), (thermal, "THERMAL")], "plant_type")


@register(
    "dedup_first_wins",
    oracle="""
        SELECT c_mktsegment, c_custkey, c_acctbal
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey ASC
                   ) AS rn
            FROM customer
        ) t
        WHERE rn = 1
    """,
    tags=("parity", "A1"),
)
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-wins dedup on a key (reference A1:
    drop_duplicates on plant name, dags/global_dag.py:190,194 — made
    deterministic with an explicit ordering, since pandas' 'first' is
    input-order-dependent)."""
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        customer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
    )


@register(
    "multi_format_date_parse",
    oracle="""
        SELECT o_orderkey,
               strftime(coalesce(
                   try_strptime(ds, '%Y%m%d'),
                   try_strptime(ds, '%Y-%m-%d')
               ), '%Y-%m-%d') AS parsed_date
        FROM (
            SELECT o_orderkey,
                   CASE
                     WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%Y%m%d')
                     WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                     ELSE 'not a date'
                   END AS ds
            FROM orders
        ) t
    """,
    tags=("parity", "F1"),
)
def multi_format_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format, never-throwing date parse (reference F1:
    to_postgres_date, dags/global_dag.py:111-118 — %Y%m%d then %Y-%m-%d,
    NULL on failure). One third of the inputs are deliberately junk."""
    orders = load_table(spark, sf_dir, "orders")
    ds = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyyMMdd"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .otherwise(F.lit("not a date"))
    )
    return orders.select(
        "o_orderkey",
        # ISO string, not DATE: no DateType output was driver-certified in
        # r1, and strings hash identically under every fetch path.
        F.date_format(parse_date_multi(ds), "yyyy-MM-dd").alias("parsed_date"),
    )


@register(
    "fixed_width_slices",
    oracle="""
        SELECT doc_id,
               md5(substr(text, 1, 40)) AS rec_id,
               trim(substr(text, 41, 5)) AS code,
               trim(substr(text, 46, 8)) AS tail8
        FROM documents
    """,
    tags=("parity", "S8", "F2", "F3"),
)
def fixed_width_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-offset substring + trim + content-hash id minting (reference
    S8/F2/F3: byte-offset slicing of death records + sha1 id,
    dags/global_dag.py:94-103; md5 here because the oracle engine lacks
    sha1 — the engine's sha1 path is covered in tests/)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.md5(F.substring(t, 1, 40)).alias("rec_id"),
        F.trim(F.substring(t, 41, 5)).alias("code"),
        F.trim(F.substring(t, 46, 8)).alias("tail8"),
    )


@register(
    "gps_split",
    oracle="""
        SELECT c_custkey,
               CAST(string_split(gps, ',')[1] AS DOUBLE) AS latitude,
               CAST(string_split(gps, ',')[2] AS DOUBLE) AS longitude
        FROM (
            SELECT c_custkey,
                   CAST(((c_custkey * 37) % 1200) / 10.0 - 60.0 AS VARCHAR)
                   || ',' ||
                   CAST(((c_custkey * 91) % 3600) / 10.0 - 180.0 AS VARCHAR) AS gps
            FROM customer
        ) t
    """,
    tags=("parity", "F4"),
)
def gps_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'lat,lon' string split + cast (reference F4: point_gps_wsg84 split,
    dags/global_dag.py:205,212). The string is built from deterministic
    derived coordinates and round-tripped."""
    customer = load_table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") * 37 % 1200) / 10.0 - 60.0
    lon = (F.col("c_custkey") * 91 % 3600) / 10.0 - 180.0
    gps = F.concat(lat.cast("string"), F.lit(","), lon.cast("string"))
    split = F.split(gps, ",")
    return customer.select(
        "c_custkey",
        split.getItem(0).cast("double").alias("latitude"),
        split.getItem(1).cast("double").alias("longitude"),
    )


@register(
    "validity_filter",
    oracle="""
        SELECT event_type,
               count(*) AS n_valid
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND props IS NOT NULL
        GROUP BY event_type
    """,
    tags=("parity", "P4"),
)
def validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL/NaN validity filtering (reference P4: NaN lat/long and
    unparseable-date drops, dags/global_dag.py:140-143)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("props").isNotNull()
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_valid"))
    )


@register(
    "json_field_extract",
    oracle="""
        SELECT event_id,
               TRY_CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS k_value
        FROM events
    """,
    tags=("parity", "F7"),
)
def json_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured field access (reference F7: resource['format'] etc.
    on API JSON, dags/global_dag.py:177-178,242-251). Regex-based so the
    oracle needs no JSON extension; the engine's native path
    (get_json_object / from_json) is covered in tests/."""
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).cast("bigint").alias("k_value"),
    )


@register(
    "deaths_pipeline_e2e",
    oracle=f"""
        WITH raw AS (
            SELECT column0 AS line
            FROM read_csv('{FIXTURE_DIR}/deaths.txt', delim='|', quote='',
                          header=false, columns={{'column0': 'VARCHAR'}})
        ), parsed AS (
            SELECT CAST(coalesce(try_strptime(substr(line, 82, 8), '%Y%m%d'),
                                 try_strptime(substr(line, 82, 8), '%Y-%m-%d'))
                        AS DATE) AS date_of_birth,
                   CAST(coalesce(try_strptime(substr(line, 155, 8), '%Y%m%d'),
                                 try_strptime(substr(line, 155, 8), '%Y-%m-%d'))
                        AS DATE) AS date_of_death,
                   trim(substr(line, 163, 5)) AS insee_code
            FROM raw
        ), geo AS (
            SELECT * FROM read_csv('{FIXTURE_DIR}/geo.csv', header=true)
        )
        SELECT strftime(date_of_birth, '%Y-%m-%d') AS date_of_birth,
               strftime(date_of_death, '%Y-%m-%d') AS date_of_death,
               latitude, longitude
        FROM parsed JOIN geo ON parsed.insee_code = geo.code_commune_INSEE
        WHERE date_of_birth IS NOT NULL AND date_of_death IS NOT NULL
          AND NOT isnan(latitude) AND NOT isnan(longitude)
    """,
    tags=("parity", "pipeline", "S8", "F1", "J1", "P4"),
)
def deaths_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE death-staging pipeline end-to-end
    (dags/global_dag.py:75-149): fixed-width scan → byte-offset slicing →
    never-throw multi-format date parse → broadcast INSEE-geo join with
    drop-on-miss → NaN/NULL validity filter — on reference-format fixture
    files, against a DuckDB oracle that re-reads the same files. The
    sha1 id column is dropped for the comparison (DuckDB has no sha1);
    its semantics are pinned by tests/test_pipelines.py."""
    from data_eng_project_spark.pipelines.deaths import run

    d = ensure_reference_fixtures()
    out = run(spark, f"{d}/deaths.txt", f"{d}/geo.csv").drop("id")
    return out.withColumn(
        "date_of_birth", F.date_format("date_of_birth", "yyyy-MM-dd")
    ).withColumn("date_of_death", F.date_format("date_of_death", "yyyy-MM-dd"))


@register(
    "plants_pipeline_e2e",
    oracle=f"""
        WITH n AS (
            SELECT *, 'NUCLEAR' AS plant_type
            FROM read_csv('{FIXTURE_DIR}/nuclear.csv', delim=';', header=true,
                          all_varchar=true)
        ), t AS (
            SELECT *, 'THERMAL' AS plant_type
            FROM read_csv('{FIXTURE_DIR}/thermal.csv', delim=';', header=true,
                          all_varchar=true)
        ), u AS (
            SELECT * FROM n UNION ALL BY NAME SELECT * FROM t
        ), parsed AS (
            SELECT centrale AS plant_name,
                   plant_type,
                   fuel AS fuel_type,
                   CAST(coalesce(
                       try_strptime(date_de_mise_en_service_industrielle, '%Y%m%d'),
                       try_strptime(date_de_mise_en_service_industrielle, '%Y-%m-%d'))
                       AS DATE) AS creation_date,
                   CAST(puissance_installee AS DOUBLE) AS plant_power,
                   CAST(string_split(point_gps_wsg84, ',')[1] AS DOUBLE) AS latitude,
                   CAST(string_split(point_gps_wsg84, ',')[2] AS DOUBLE) AS longitude
            FROM u
        )
        SELECT plant_name, plant_type, fuel_type,
               strftime(creation_date, '%Y-%m-%d') AS creation_date,
               plant_power, latitude, longitude
        FROM parsed
        WHERE creation_date IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY plant_name
                                   ORDER BY creation_date ASC, plant_power DESC) = 1
    """,
    tags=("parity", "pipeline", "S6", "J3", "A1", "F1", "F4"),
)
def plants_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's power-plants integration end-to-end
    (dags/global_dag.py:50-67,188-221): ;-separated CSV staging →
    union-with-discriminator (nuclear ∪ thermal) → multi-format date
    parse with drop-on-unparseable → GPS split → first-wins dedup on
    plant name — reference-format fixtures, DuckDB oracle re-reading the
    same files. Canonical id dropped for comparison (see
    deaths_pipeline_e2e)."""
    from data_eng_project_spark.pipelines.plants import build_power_plants

    d = ensure_reference_fixtures()
    out = build_power_plants(spark, f"{d}/nuclear.csv", f"{d}/thermal.csv").drop("id")
    return out.withColumn("creation_date", F.date_format("creation_date", "yyyy-MM-dd"))
