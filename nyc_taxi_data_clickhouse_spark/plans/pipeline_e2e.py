"""Trips-native end-to-end pipeline under the correctness gate.

The reference's full data path is: raw CSV shards -> null-normalizing
ingest (src/trans.py) -> staging table -> curation CTAS
(README.md:547-596) -> clustered fact table -> benchmark aggregates
(src/benchmark_clickhouse.sh).  Round 1 verified each stage separately;
this entry chains ALL of them in one driver-checkable run:

    synthesize staging rows (deterministically, from lineitem)
      -> write_csv_shards (gzipped, \\N nulls)       [S3]
      -> read_trips_csv   (schema'd, ''/\\N -> NULL) [S1/S2]
      -> curate_trips     (45-expression cleanup)    [P2/E3]
      -> write_gold       (year-partitioned, sort-clustered) [S5]
      -> attach_gold + benchmark-shaped aggregate    [S6/A1-A4]

Because the synthetic staging table is a pure column mapping of
``lineitem``, the DuckDB oracle can replay the whole chain as plain SQL
over the same parquet — no file side-channel.  The CSV hop must be an
identity (any parse/format defect breaks the hash), and the curation
quirks (Z1 type defaults, F8 enum-or-NULL, F9 payment normalization,
F10 flag, F12 fixed-string pad) all land in the checked output.

Scale note: ``perfbench``'s ``taxi_ingest`` workload times the same
chain (``read_trips_csv`` -> ``curate_trips`` -> ``write_gold`` over
shards of ``synth_trips_staging`` rows); correctness here, throughput
there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import suite
from nyc_taxi_data_clickhouse_spark.scratch import scratch_dir
from nyc_taxi_data_clickhouse_spark.schema import TRIPS_STAGING_SCHEMA


def synth_trips_staging(lineitem: DataFrame) -> DataFrame:
    """Deterministic lineitem -> 51-column trips staging mapping.

    Dirty-data patterns are planted on purpose so every curation quirk
    fires: NULL dropoff (Z1 epoch), NULL passenger_count (Z1 zero),
    unmapped cab_type (F8 permissive NULL), messy payment spellings +
    NULL (F9 -> UNK), NULL/odd store_and_fwd values (F10), short
    boroct2010 (F12 pad).
    """
    ln = F.col("l_linenumber")
    flag = F.col("l_returnflag")
    null_s = F.lit(None).cast("string")
    cols = {
        "trip_id": (F.col("l_orderkey") * 10 + ln).cast("long"),
        "vendor_id": F.when(ln % 3 == 0, "CMT").when(ln % 3 == 1, "VTS").otherwise("DDS"),
        "pickup_datetime": F.col("l_shipdate"),
        "dropoff_datetime": F.when(
            ln == 3, F.lit(None).cast("timestamp")
        ).otherwise(
            F.timestamp_seconds(
                F.unix_timestamp("l_shipdate") + F.col("l_quantity").cast("long") * 60
            )
        ),
        "store_and_fwd_flag": F.when(ln % 4 == 0, "Y")
        .when(ln % 4 == 1, "N")
        .when(ln % 4 == 2, null_s)
        .otherwise("1"),
        "rate_code_id": F.when(flag == "R", F.lit(None)).otherwise(ln).cast("int"),
        "pickup_longitude": F.lit(-73.98).cast("double"),
        "pickup_latitude": F.lit(40.75).cast("double"),
        "dropoff_longitude": F.lit(None).cast("double"),
        "dropoff_latitude": F.lit(None).cast("double"),
        "passenger_count": F.when(ln % 5 == 0, F.lit(None)).otherwise(ln % 7).cast("int"),
        "trip_distance": F.col("l_quantity"),
        "fare_amount": (F.col("l_extendedprice") / 1500).cast("float"),
        "extra": F.lit(0.5).cast("float"),
        "mta_tax": F.lit(None).cast("float"),
        "tip_amount": (F.col("l_discount") * 100).cast("float"),
        "tolls_amount": F.lit(0.0).cast("float"),
        "ehail_fee": F.lit(None).cast("float"),
        "improvement_surcharge": F.lit(0.3).cast("float"),
        "total_amount": (F.col("l_extendedprice") / 1000).cast("float"),
        "payment_type": F.when(ln == 6, null_s)
        .when(flag == "A", "Cash")
        .when(flag == "N", "CRD")
        .when(ln % 2 == 0, "No Charge")
        .otherwise("XYZ"),
        "trip_type": F.lit(1).cast("int"),
        "pickup": F.col("l_partkey").cast("long"),
        "dropoff": F.col("l_suppkey").cast("long"),
        "cab_type": F.when(ln == 5, "taxi")
        .when(flag == "A", "yellow")
        .when(flag == "N", "green")
        .otherwise("uber"),
        "precipitation": F.lit(None).cast("float"),
        "snow_depth": F.lit(None).cast("float"),
        "snowfall": F.lit(None).cast("float"),
        "max_temperature": F.lit(None).cast("int"),
        "min_temperature": F.lit(None).cast("int"),
        "average_wind_speed": F.lit(None).cast("float"),
        "pickup_nyct2010_gid": F.lit(1).cast("int"),
        "pickup_ctlabel": F.when(ln == 2, null_s).otherwise(ln.cast("string")),
        "pickup_borocode": F.lit(1).cast("int"),
        "pickup_boroname": F.lit("Manhattan"),
        "pickup_ct2010": null_s,
        "pickup_boroct2010": (F.col("l_orderkey") % 1000).cast("string"),
        "pickup_cdeligibil": null_s,
        "pickup_ntacode": F.lit("MN99"),
        "pickup_ntaname": F.lit("Synth"),
        "pickup_puma": null_s,
        "dropoff_nyct2010_gid": F.lit(None).cast("int"),
        "dropoff_ctlabel": null_s,
        "dropoff_borocode": F.lit(None).cast("int"),
        "dropoff_boroname": null_s,
        "dropoff_ct2010": null_s,
        "dropoff_boroct2010": null_s,
        "dropoff_cdeligibil": null_s,
        "dropoff_ntacode": null_s,
        "dropoff_ntaname": null_s,
        "dropoff_puma": null_s,
    }
    names = [f.name for f in TRIPS_STAGING_SCHEMA.fields]
    assert set(names) == set(cols)
    return lineitem.select(*[cols[n].alias(n) for n in names])


def trips_e2e_aggregate(curated: DataFrame) -> DataFrame:
    """Benchmark-shaped rollup touching the quirk-bearing columns."""
    return curated.groupBy(
        "cab_type",
        "payment_type_",
        "passenger_count",
        F.year("pickup_date").alias("year"),
    ).agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("total_amount"), 2).alias("total"),
        F.sum("store_and_fwd_flag").alias("flagged"),
        F.min("pickup_boroct2010").alias("min_boroct"),
    )


def run_trips_e2e(
    spark: SparkSession,
    lineitem: DataFrame,
    workdir: str | None = None,
    csv_records_per_file: int = 50_000,
) -> DataFrame:
    """The full chain; returns the final aggregate DataFrame."""
    from nyc_taxi_data_clickhouse_spark.sources.csv import (
        read_trips_csv,
        write_csv_shards,
    )
    from nyc_taxi_data_clickhouse_spark.sources.parquet import (
        GOLD_MONTH_COL,
        GOLD_PARTITION_COL,
        attach_gold,
        write_gold,
    )
    from nyc_taxi_data_clickhouse_spark.plans.transform import curate_trips

    workdir = workdir or scratch_dir("trips_e2e_")
    staging_csv = f"{workdir}/staging_csv"
    gold_path = f"{workdir}/gold"

    write_csv_shards(
        synth_trips_staging(lineitem), staging_csv,
        max_records_per_file=csv_records_per_file,
    )
    staged = read_trips_csv(spark, staging_csv)
    curated = curate_trips(staged)
    write_gold(curated, gold_path)
    # attach with the known table schema (+ the layout's stored month
    # and partition year) so the chain stays total when the input — and
    # thus the freshly published gold table — is empty
    from pyspark.sql import types as T

    gold_schema = T.StructType(
        list(curated.schema)
        + [
            T.StructField(GOLD_MONTH_COL, T.StringType()),
            T.StructField(GOLD_PARTITION_COL, T.IntegerType()),
        ]
    )
    return trips_e2e_aggregate(attach_gold(spark, gold_path, schema=gold_schema))


_E2E_ORACLE = """
WITH curated AS (
  SELECT
    CASE WHEN l_linenumber = 5 THEN NULL
         WHEN l_returnflag = 'A' THEN 'yellow'
         WHEN l_returnflag = 'N' THEN 'green'
         ELSE 'uber' END AS cab_type,
    CASE WHEN l_linenumber = 6 THEN 'UNK'
         WHEN l_returnflag = 'A' THEN 'CSH'
         WHEN l_returnflag = 'N' THEN 'CRE'
         WHEN l_linenumber % 2 = 0 THEN 'NOC'
         ELSE 'UNK' END AS payment_type_,
    CASE WHEN l_linenumber % 5 = 0 THEN 0
         ELSE l_linenumber % 7 END AS passenger_count,
    CAST(year(l_shipdate) AS INT) AS year,
    CAST(l_extendedprice / 1000 AS REAL) AS total_amount,
    CASE WHEN l_linenumber % 4 IN (0, 3) THEN 1 ELSE 0 END AS flag,
    rpad(CAST(l_orderkey % 1000 AS VARCHAR), 7, '0') AS boroct
  FROM lineitem
)
SELECT cab_type, payment_type_, passenger_count, year,
       count(*) AS cnt,
       round(sum(total_amount), 2) AS total,
       CAST(sum(flag) AS BIGINT) AS flagged,
       min(boroct) AS min_boroct
FROM curated
GROUP BY cab_type, payment_type_, passenger_count, year
"""


@suite.register(
    "pipeline_trips_e2e",
    _E2E_ORACLE,
    doc="E2E: synth staging -> gz-CSV sink -> schema'd CSV source -> "
    "45-expr curation -> year-partitioned gold write -> attach -> "
    "benchmark rollup; oracle replays the whole chain as SQL over "
    "lineitem (S1-S6 + P2 + A1-A4 in one checked run)",
)
def pipeline_trips_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = suite.load_table(spark, sf_dir, "lineitem")
    return run_trips_e2e(spark, li)
