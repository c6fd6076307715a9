"""End-to-end pipeline tests: CSV ingest (S1/S2) -> staging ->
dimension joins (J1-J3b) -> curation -> gold write/attach (S5/S6),
with stage-boundary row-count reconciliation (SURVEY §5)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.plans.joins import join_dims
from nyc_taxi_data_clickhouse_spark.plans.transform import curate_trips
from nyc_taxi_data_clickhouse_spark.sources.csv import read_trips_csv, write_csv_shards
from nyc_taxi_data_clickhouse_spark.sources.parquet import (
    GOLD_SORT_COLS,
    attach_gold,
    write_gold,
)


def test_csv_roundtrip_null_normalization(spark, trips_staging, tmp_path):
    """S1-S3: write gz shards, read back with null-normalizing reader;
    the trans.py semantics ('' == \\N == NULL) must hold."""
    out = str(tmp_path / "shards")
    write_csv_shards(trips_staging, out, max_records_per_file=50)
    back = read_trips_csv(spark, out)
    assert back.count() == trips_staging.count()
    # NULL counts survive the roundtrip per column
    for c in ("dropoff_datetime", "passenger_count", "payment_type", "pickup_boroname"):
        orig = trips_staging.filter(F.col(c).isNull()).count()
        got = back.filter(F.col(c).isNull()).count()
        assert got == orig, c


def test_empty_string_becomes_null(spark, tmp_path):
    """trans.py semantics (src/trans.py:7-8): empty CSV field -> NULL."""
    p = tmp_path / "raw.csv"
    p.write_text("1,CMT,2015-01-01 10:00:00,,,\n")  # empty dropoff/flag/rate
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("trip_id", T.LongType()),
            T.StructField("vendor_id", T.StringType()),
            T.StructField("pickup_datetime", T.TimestampType()),
            T.StructField("dropoff_datetime", T.TimestampType()),
            T.StructField("store_and_fwd_flag", T.StringType()),
            T.StructField("rate_code_id", T.IntegerType()),
        ]
    )
    row = read_trips_csv(spark, str(p), schema=schema).collect()[0]
    assert row["trip_id"] == 1
    assert row["dropoff_datetime"] is None
    assert row["store_and_fwd_flag"] is None
    assert row["rate_code_id"] is None


def test_join_dims_left_semantics(spark, trips_staging, dims):
    """J1-J3b: LEFT joins keep every fact row; unmatched keys -> NULL."""
    pre_join = trips_staging.select(
        "trip_id",
        "pickup_datetime",
        "pickup_nyct2010_gid",
        "dropoff_nyct2010_gid",
        (F.col("trip_id") % 4).cast("int").alias("cab_type_id"),  # ids 0..3; 0 unmatched
    )
    joined = join_dims(pre_join, dims["cab_types"], dims["weather"], dims["nyct"])
    assert joined.count() == pre_join.count()  # LEFT: no row loss

    # J1: cab_type_id=0 has no dim row -> NULL cab_type
    assert joined.filter((F.col("cab_type_id") == 0) & F.col("cab_type").isNotNull()).count() == 0
    assert joined.filter((F.col("cab_type_id") == 1) & (F.col("cab_type") != "yellow")).count() == 0

    # J3a/J3b: self-aliased dim — pickup and dropoff attrs independent
    r = joined.filter(
        F.col("pickup_nyct2010_gid").isNotNull()
        & F.col("dropoff_nyct2010_gid").isNotNull()
        & (F.col("pickup_nyct2010_gid") != F.col("dropoff_nyct2010_gid"))
        & (F.col("pickup_nyct2010_gid") <= 40)
        & (F.col("dropoff_nyct2010_gid") <= 40)
    ).select("pickup_ctlabel", "dropoff_ctlabel").first()
    if r is not None:
        assert r["pickup_ctlabel"] != r["dropoff_ctlabel"]

    # J2: weather joined on to_date(pickup_datetime) — date-gap rows NULL
    matched = joined.filter(F.col("precipitation").isNotNull()).count()
    assert 0 < matched < joined.count()


def _scan_filters(df) -> tuple[str, str]:
    """(PartitionFilters, PushedFilters) of the one parquet scan in
    ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[(.*?)\], PushedFilters: \[(.*?)\]", plan)
    assert m, plan
    return m.group(1), m.group(2)


def test_gold_write_attach_pruning(spark, trips_staging, tmp_path):
    """S5/S6 + X2: partitioned gold write, zero-copy attach; a year
    filter prunes directories, a month filter is pushed to row groups."""
    gold = str(tmp_path / "gold")
    curated = curate_trips(trips_staging)
    write_gold(curated, gold)
    back = attach_gold(spark, gold, table="trips_gold_test")

    # reconciliation + schema parity (pickup_month stored, pickup_year
    # the partition column)
    assert back.count() == trips_staging.count()
    assert set(back.columns) == set(curated.columns) | {"pickup_month", "pickup_year"}

    # X2: the year filter prunes partitions at planning time ...
    partition, pushed = _scan_filters(back.filter(F.col("pickup_year") == 2015))
    assert "pickup_year" in partition and "pickup_year" not in pushed
    # ... and the month filter reaches the parquet reader as a data filter
    partition, pushed = _scan_filters(back.filter(F.col("pickup_month") == "2015-06"))
    assert "pickup_month" in pushed and "pickup_month" not in partition

    # SQL entry point over the attached table (E1)
    n = spark.sql(
        "SELECT count(*) AS c FROM trips_gold_test WHERE pickup_month = '2015-06'"
    ).collect()[0]["c"]
    assert n == back.filter(F.col("pickup_month") == "2015-06").count()


def _last_write_sorts(spark) -> set[tuple[str, ...]]:
    """Sort keys of every Sort node in the last file write's plan, read
    from the SQL status store (the adaptive plan lists a node once per
    plan version, hence a set)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    recent = store.executionsList(max(0, n - 5), min(n, 5))
    for i in reversed(range(recent.size())):
        plan = recent.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return {
                tuple(re.findall(r"(\w+)#\d+", m))
                for m in re.findall(
                    r"^\(\d+\) Sort\b.*\n(?:.+\n)*?Arguments: \[(.*?)\]", plan, re.M
                )
            }
    raise AssertionError("no file write among the last executions")


def test_gold_files_year_partitioned_and_date_clustered(spark, trips_staging, tmp_path):
    """X2/X3 on disk: one ``pickup_year=`` directory level, and every
    file ordered by the clustering key.  The write plan's one Sort leads
    with the partition column, so the planned write adds no sort of its
    own that would replace the clustering."""
    import pyarrow.parquet as pq

    gold = tmp_path / "gold"
    write_gold(curate_trips(trips_staging), str(gold))
    assert _last_write_sorts(spark) == {("pickup_year", *GOLD_SORT_COLS)}

    files = sorted(gold.glob("*/*.parquet"))
    assert files
    assert {f.parent.name.split("=")[0] for f in files} == {"pickup_year"}
    for f in files:
        rows = pq.read_table(f, columns=list(GOLD_SORT_COLS)).to_pylist()
        keys = [tuple(r[c] for c in GOLD_SORT_COLS) for r in rows]
        assert keys == sorted(keys), f.name


def test_catalog_row_counts(spark, trips_staging):
    """S8/A7: catalog introspection report."""
    from nyc_taxi_data_clickhouse_spark.sources.catalog import table_row_counts

    trips_staging.createOrReplaceTempView("rc_probe")
    report = table_row_counts(spark)
    rows = {r["table_name"]: r["row_count"] for r in report.collect()}
    assert rows.get("rc_probe") == trips_staging.count()


def test_catalog_counts_from_statistics_and_pretty(spark, trips_staging):
    """A7/F14: after ANALYZE, counts come from catalog statistics
    (metadata-only, the reltuples analog) and still agree with the
    exact scan; the pretty report is thousands-grouped and lpad-
    aligned like the reference's to_char/lpad monitoring query
    (README.md:271-278)."""
    from nyc_taxi_data_clickhouse_spark.sources import catalog as cat

    spark.sql("DROP TABLE IF EXISTS rc_stats_probe")
    spark.range(1234).write.saveAsTable("rc_stats_probe")
    try:
        assert cat._stats_row_count(spark, "rc_stats_probe") is None
        cat.analyze_tables(spark, ["rc_stats_probe"])
        assert cat._stats_row_count(spark, "rc_stats_probe") == 1234

        stats_rows = {
            r["table_name"]: r["row_count"]
            for r in cat.table_row_counts(spark, use_stats=True).collect()
        }
        exact_rows = {
            r["table_name"]: r["row_count"]
            for r in cat.table_row_counts(spark).collect()
        }
        assert stats_rows["rc_stats_probe"] == exact_rows["rc_stats_probe"] == 1234

        # After an append the stats path MAY be stale (the classic
        # no-autovacuum scenario) or already refreshed — Spark versions
        # differ on whether saveAsTable(append) updates catalog stats.
        # The contract this engine guarantees is only: the exact-scan
        # default is ALWAYS fresh, and re-ANALYZE always converges the
        # stats path to the true count.
        spark.range(10).write.mode("append").saveAsTable("rc_stats_probe")
        stale = {
            r["table_name"]: r["row_count"]
            for r in cat.table_row_counts(spark, use_stats=True).collect()
        }
        fresh = {
            r["table_name"]: r["row_count"]
            for r in cat.table_row_counts(spark).collect()
        }
        assert stale["rc_stats_probe"] in (1234, 1244)  # stale-or-refreshed
        assert fresh["rc_stats_probe"] == 1244
        cat.analyze_tables(spark, ["rc_stats_probe"])
        assert cat._stats_row_count(spark, "rc_stats_probe") == 1244

        pretty = {
            r["table_name"]: r["row_count_pretty"]
            for r in cat.table_row_counts_pretty(spark).collect()
        }
        assert pretty["rc_stats_probe"] == "1,244".rjust(16)
    finally:
        spark.sql("DROP TABLE IF EXISTS rc_stats_probe")


def test_corrupt_csv_rows_are_quarantined(spark, tmp_path):
    """PERMISSIVE + columnNameOfCorruptRecord: malformed rows land in
    the audit column with the raw line preserved; clean rows parse."""
    from pyspark.sql import types as T

    from nyc_taxi_data_clickhouse_spark.sources.csv import read_csv_with_audit

    p = tmp_path / "mixed.csv"
    p.write_text("1,alpha,2.5\n2,beta,not_a_number\n3,gamma,7.0\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = read_csv_with_audit(spark, str(p), schema).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert clean.count() == 2
    assert bad.count() == 1
    assert "not_a_number" in bad.first()["_corrupt_record"]
