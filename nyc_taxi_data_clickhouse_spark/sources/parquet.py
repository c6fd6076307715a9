"""Parquet bronze/gold storage (SURVEY §2.1 S4-S6, §1.3).

The reference's two-tier layout maps to a bronze/gold parquet design:

- ``ENGINE = Log`` staging (README.md:506)          -> bronze parquet
- ``ENGINE = MergeTree(pickup_date, pickup_datetime, 8192)``
  (README.md:548)                                   -> gold parquet,
  hive-partitioned by year, sorted within each file by
  ``(pickup_date, pickup_datetime)``, so:
  * hive dir pruning on ``pickup_year`` ≈ MergeTree partition pruning
    (X2); ``pickup_month`` is a stored, dictionary-encoded column, so
    a month filter is a pushed-down row-group predicate
  * row-group min/max + page index over the sorted clustering
    columns               ≈ the sparse primary index         (X3)
  * parquet dictionary    ≈ Enum8 dictionary coding          (X4)
- prepared-partition attach (README.md:882-902)     -> reading the
  published directory IS the attach; zero-copy by construction.

Why year and not month directories: a scan pays a fixed cost per file
(each open copies the Hadoop configuration and reads a footer; a write
pays one per output file), and the dashboard queries filter on
``pickup_date`` rather than the partition column, so monthly files
multiplied that cost without pruning anything they ask for.  Month
granularity survives where it is cheap: the shuffle key (same
parallelism and skew as before) and the stored column's row-group
statistics.

Why the partition column leads the sort: Spark's planned write sorts
by the partition columns unless the child is already ordered by them,
and a sort on ``pickup_year`` alone would replace ours and drop the
date clustering before it reaches the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: clustering of the curated table (README.md:548)
GOLD_SORT_COLS = ("pickup_date", "pickup_datetime")
#: hive directory level of the gold table
GOLD_PARTITION_COL = "pickup_year"
#: stored ``yyyy-MM`` column; also the write's shuffle key
GOLD_MONTH_COL = "pickup_month"
#: row cap per output file, so one huge (task, year) pair still splits
GOLD_MAX_RECORDS_PER_FILE = 20_000_000


def write_bronze(df: DataFrame, path: str, mode: str = "append") -> None:
    """S4: append-only staging sink (the ENGINE=Log analog)."""
    df.write.mode(mode).parquet(path)


def write_gold(curated: DataFrame, path: str) -> None:
    """S5: the CTAS analog — partitioned, sort-clustered columnar write.

    Plan shape: derive month -> repartition by month (one shuffle; a
    month's rows stay in one task, and months spread over tasks far
    more evenly than years would) -> derive year -> sortWithinPartitions
    on (year, date, datetime) -> partitionBy(year) write.  Each task
    writes one file per year it holds, so the file count is the number
    of distinct (task, year) pairs, never more than the month count.
    At 100 TB the single shuffle is the unavoidable cost of clustering;
    everything after is map-side.
    """
    date = F.col("pickup_date")
    (
        curated.withColumn(GOLD_MONTH_COL, F.date_format(date, "yyyy-MM"))
        .repartition(F.col(GOLD_MONTH_COL))
        # derived after the shuffle, so the exchange does not carry it
        .withColumn(GOLD_PARTITION_COL, F.year(date))
        .sortWithinPartitions(GOLD_PARTITION_COL, *GOLD_SORT_COLS)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", GOLD_MAX_RECORDS_PER_FILE)
        .partitionBy(GOLD_PARTITION_COL)
        .parquet(path)
    )


def attach_gold(
    spark: SparkSession, path: str, table: str | None = None, schema=None
) -> DataFrame:
    """S6: prepared-partition attach — a published gold directory is
    queryable immediately (README.md:882-902's untar+restart becomes a
    single read); optionally register in the catalog for SQL access.

    ``schema`` makes the attach total: a gold table that is currently
    EMPTY (no partitions published yet — normal for a fresh pipeline)
    has no footer to infer from, and the known table schema is what a
    production catalog would supply."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path)
    if table:
        df.createOrReplaceTempView(table)
    return df
