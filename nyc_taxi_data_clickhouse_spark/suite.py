"""Driver-facing query suite: every implemented operator from
SURVEY §2, re-expressed over the driver's TPC-H-ish testdata tables,
each paired with the ANSI-SQL oracle DuckDB runs on the same parquet.

The reference's queries are shapes over a taxi fact table; the driver's
correctness corpus is TPC-H-ish (TESTDATA.md), so each entry here is
the same *operator shape* (SURVEY §2 row cited in the docstring) bound
to the testdata columns.  The trips-native forms live in
``plans.queries`` / ``plans.transform`` and are exercised by the unit
test fixtures.

Contract (driver): spark callable takes ``(spark, sf_dir)`` and returns
a DataFrame; oracle SQL must produce the same row set — identical
column NAMES (driver sorts columns by name before hashing), and
float aggregates rounded on BOTH sides so parallel-sum ordering noise
can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from nyc_taxi_data_clickhouse_spark.schema import TESTDATA_TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
    reader rejects by default; read nanos as long and convert to a
    microsecond timestamp (DuckDB does the same ns->us truncation).

    The conf set below (re-)establishes the session-wide invariant
    documented in ``session.get_spark`` — it is idempotent, only ever
    set to "true", never restored, and only affects nanos-resolution
    columns (which otherwise fail to read at all).  Needed here because
    the driver runs entries on its OWN session, not session.py's.
    tests/test_session_invariants.py asserts no other conf leaks."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = load_table(spark, sf_dir, "events")
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


@dataclass(frozen=True)
class QuerySpec:
    """One operator's paired implementations."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


import functools


@functools.lru_cache(maxsize=1)
def _driver_verified_rounds() -> dict:
    """Map of entry name -> most recent round in which the driver
    rows+schema+hash-verified it (CORRECTNESS_r*.json at the repo root).

    The driver's per-round gate only hash-checks a bounded window of
    entries taken in registration order, so ``registry()`` rotates
    not-yet-verified entries to the front: over successive rounds every
    entry lands inside the window.  An entry that appeared but failed
    (or had no oracle) does NOT count as verified — it keeps priority.
    Within the already-verified tail, entries are ordered
    least-recently-verified first, so the window's spare slots RE-check
    the stalest green rows each round instead of trusting them forever
    — round 3's events-timestamp change silently broke three entries
    whose green rows dated to rounds 1-2, and this ordering is what
    puts such rows back under the driver's hash gate soonest.

    Cached per process (the report files don't change mid-run).  Note
    the deliberate ordering dependency: registry order differs between
    checkouts with different CORRECTNESS_r*.json sets — consumers that
    need a checkout-independent order (docs, parametrized test IDs)
    should sort by name themselves.
    """
    import glob
    import json
    import re
    from pathlib import Path

    repo_root = Path(__file__).resolve().parent.parent
    verified: dict[str, int] = {}
    for path in sorted(glob.glob(str(repo_root / "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        round_no = int(m.group(1)) if m else 0
        try:
            report = json.loads(Path(path).read_text())
        except (OSError, ValueError):
            continue
        for name, row in report.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                verified[name] = max(verified.get(name, 0), round_no)
    return verified


# Driver verification-window mechanics (VERDICT r10 item 1).  The
# driver hash-checks the first DRIVER_WINDOW entries of registry()
# order each round (observed exactly 50 in CORRECTNESS_r01..r10).
DRIVER_WINDOW = 50
# Soft staleness bound the rotation tests enforce: a verified entry's
# green row should be at most MUST_REVERIFY_AGE driver rounds old.
MUST_REVERIFY_AGE = 4
# Absolute bound tests enforce: with never-verified entries capped at a
# handful per round, an entry displaced from one window is stalest in
# the next, so age never exceeds MUST_REVERIFY_AGE + 2.
STALENESS_HARD_CAP = 6


def _ordered_names(order: list[str], verified: dict[str, int]) -> list[str]:
    """Pure ordering rule for the driver's bounded window:
    never-hash-verified entries first (new entries get their first
    driver check in their introduction round), then verified entries
    least-recently-verified first, so the window's remaining slots
    re-check the stalest green rows.  The sort is stable, so ties keep
    registration order."""
    return sorted(order, key=lambda name: (name in verified, verified.get(name, 0)))


def registry() -> dict[str, QuerySpec]:
    # import for side effects: modules register their suite entries
    from nyc_taxi_data_clickhouse_spark.operators import suite_entries  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import llm_extras  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.plans import sql_surface  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.plans import tpch_extra  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.streaming import entries  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import analysis  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.plans import surface_extra  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.plans import surface_gaps  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.functions import vectorized  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.plans import pipeline_e2e  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import corpus_ops  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import stats  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import curation  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import selection  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import graph  # noqa: F401
    from nyc_taxi_data_clickhouse_spark.operators import vocab  # noqa: F401

    ordered = _ordered_names(list(_REGISTRY), _driver_verified_rounds())
    return {name: _REGISTRY[name] for name in ordered}


# ===========================================================================
# Reference-parity shapes (SURVEY §2.4 A1-A5, §2.6 O1)
# ===========================================================================

@register(
    "q1_group_count",
    "SELECT l_returnflag AS key, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    doc="A1/Q1: 1-key hash agg count (benchmark_clickhouse.sh:4 shape)",
)
def q1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("key")).agg(F.count("*").alias("cnt"))


@register(
    "q2_avg_by_key",
    "SELECT l_linenumber AS key, round(avg(l_extendedprice), 4) AS avg_price "
    "FROM lineitem GROUP BY l_linenumber",
    doc="A2/Q2: 1-key avg (benchmark_clickhouse.sh:5 shape); Z6 float policy",
)
def q2_avg_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_linenumber").alias("key")).agg(
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price")
    )


@register(
    "q3_two_key_derived",
    "SELECT l_linenumber AS key, CAST(year(l_shipdate) AS INT) AS year, count(*) AS cnt "
    "FROM lineitem GROUP BY l_linenumber, year",
    doc="A3/Q3: 2-key agg, one derived key (benchmark_clickhouse.sh:6-8 shape)",
)
def q3_two_key_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_linenumber").alias("key"),
        F.year("l_shipdate").alias("year"),
    ).agg(F.count("*").alias("cnt"))


@register(
    "q4_three_key_sorted",
    "SELECT l_linenumber AS key, CAST(year(l_shipdate) AS INT) AS year, "
    "round(l_quantity, 0) AS qty, count(*) AS cnt "
    "FROM lineitem GROUP BY key, year, qty ORDER BY year, cnt DESC",
    doc="A4/Q4+O1: 3-key agg (two derived) + global mixed-direction sort "
    "(benchmark_clickhouse.sh:9-13 shape)",
)
def q4_three_key_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_linenumber").alias("key"),
            F.year("l_shipdate").alias("year"),
            F.round("l_quantity", 0).alias("qty"),
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("year").asc(), F.col("cnt").desc())
    )


@register(
    "total_count",
    "SELECT count(*) AS cnt FROM lineitem",
    doc="A5: ungrouped count(*) (README.md:902 attach verification)",
)
def total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("cnt"))


# ===========================================================================
# Denormalizing join (SURVEY §2.3 J1-J3b) — LEFT joins, broadcast dims,
# one dim self-aliased twice (nation via customer AND via supplier,
# the J3a/J3b pick_up/drop_off pattern)
# ===========================================================================

@register(
    "denormalize_join",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           o_orderstatus, c_name AS cust_name,
           n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           r_name AS cust_region
    FROM lineitem
    LEFT JOIN orders   ON o_orderkey = l_orderkey
    LEFT JOIN customer ON c_custkey = o_custkey
    LEFT JOIN nation n1 ON n1.n_nationkey = c_nationkey
    LEFT JOIN region    ON r_regionkey = n1.n_regionkey
    LEFT JOIN supplier  ON s_suppkey = l_suppkey
    LEFT JOIN nation n2 ON n2.n_nationkey = s_nationkey
    """,
    doc="J1-J3b: multi-way LEFT equi-join denormalization "
    "(README.md:366-374 shape incl. self-aliased dim)",
)
def denormalize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region", "supplier")
    )
    n1 = t["nation"].alias("n1")
    n2 = t["nation"].alias("n2")
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .join(broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"), "left")
        .join(broadcast(n1), F.col("n1.n_nationkey") == F.col("c_nationkey"), "left")
        .join(broadcast(t["region"]), F.col("r_regionkey") == F.col("n1.n_regionkey"), "left")
        .join(broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .join(broadcast(n2), F.col("n2.n_nationkey") == F.col("s_nationkey"), "left")
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        "o_orderstatus",
        F.col("c_name").alias("cust_name"),
        F.col("n1.n_name").alias("cust_nation"),
        F.col("n2.n_name").alias("supp_nation"),
        F.col("r_name").alias("cust_region"),
    )


# ===========================================================================
# Filters / predicates (SURVEY §2.2 P3-P4)
# ===========================================================================

@register(
    "in_list_filter",
    "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders "
    "WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH') AND o_orderstatus = 'F'",
    doc="P3/P4: IN-list + NOT-IN + equality predicates (README.md:276-277, 556)",
)
def in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


# ===========================================================================
# Typed-cleanup projection (SURVEY §2.2 P2; scalar funcs F5,F8,F9,F10,F12)
# — the curation-transform shape bound to orders columns
# ===========================================================================

@register(
    "typed_cleanup",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'HI'
                WHEN o_orderpriority IN ('3-MEDIUM') THEN 'MED'
                WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN 'LO'
                ELSE 'UNK' END AS priority_class,
           CAST(o_orderstatus IN ('F','P') AS INT) AS is_closed_flag,
           rpad(coalesce(o_orderstatus, '0'), 4, '0') AS status_fixed,
           coalesce(CAST(o_totalprice AS DOUBLE), 0.0) AS total_nn,
           CAST(o_orderdate AS DATE) AS order_date
    FROM orders
    """,
    doc="P2: typed cleanup projection — enum normalization (F8/F9), IN-list "
    "flag (F10), fixed-string pad (F12), ifNull/assumeNotNull (F5/F6), "
    "toDate (F2) (README.md:549-594 shape)",
)
def typed_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.functions.scalars import (
        assume_not_null,
        in_list_flag,
        to_fixed_string,
    )

    o = load_table(spark, sf_dir, "orders")
    priority_class = (
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "HI")
        .when(F.col("o_orderpriority").isin("3-MEDIUM"), "MED")
        .when(F.col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"), "LO")
        .otherwise("UNK")
    )
    return o.select(
        "o_orderkey",
        priority_class.alias("priority_class"),
        in_list_flag("o_orderstatus", ("F", "P")).alias("is_closed_flag"),
        to_fixed_string("o_orderstatus", 4).alias("status_fixed"),
        assume_not_null("o_totalprice", "double").alias("total_nn"),
        F.to_date("o_orderdate").alias("order_date"),
    )


# ===========================================================================
# Sort / limit (SURVEY §2.6) and set ops (§2.7)
# ===========================================================================

@register(
    "top_k",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey "
    "LIMIT 100",
    doc="O1+limit: global top-k (TakeOrderedAndProject — no full sort at scale); "
    "o_orderkey tiebreak keeps it deterministic",
)
def top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "union_all_shards",
    "SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_linenumber = 1 "
    "UNION ALL "
    "SELECT l_orderkey, l_extendedprice FROM lineitem WHERE l_linenumber = 2",
    doc="§2.7: UNION ALL (the reference's per-shard ingest loop is an "
    "implicit union, README.md:527-533)",
)
def union_all_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_linenumber"
    )
    a = li.filter(F.col("l_linenumber") == 1)
    b = li.filter(F.col("l_linenumber") == 2)
    return a.unionAll(b).drop("l_linenumber")


# ===========================================================================
# Window functions (SURVEY §2.5 — extension; absent in reference)
# ===========================================================================

@register(
    "window_rank",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 4) AS cust_total
      FROM orders)
    WHERE rn <= 3
    """,
    doc="§2.5 extension: row_number + windowed sum, top-3 orders per customer",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    wsum = W.partitionBy("o_custkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.round(F.sum("o_totalprice").over(wsum), 4).alias("cust_total"),
        )
        .filter(F.col("rn") <= 3)
    )


# ===========================================================================
# Events: JSON extraction + time-bucketed aggregation (streaming-shaped
# batch form; the true streaming pipeline lives in streaming/events.py)
# ===========================================================================

#: shared oracle for the hourly rollup shape (batch entry + its two
#: streaming twins): avg restated in exact fixed-point micro-units
#: (functions.scalars.micro_avg) so the result is bit-identical across
#: engines AND across partial-aggregation orders — round(avg(double))
#: flips at x.xxxx5 boundaries between Spark's repr-half-up and
#: DuckDB's binary rounding (VERDICT r8 item 5)
HOURLY_ROLLUP_ORACLE = """
    WITH g AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
             CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                  AS BIGINT) AS s6,
             count(value) AS cv
      FROM events GROUP BY 1, 2)
    SELECT hour, event_type, cnt,
           CAST(CASE WHEN s6 < 0 THEN -1 ELSE 1 END
                * ((2*abs(s6) + 100*cv) // nullif(200*cv, 0)) AS DOUBLE)
               / 10000 AS avg_value
    FROM g
"""


@register(
    "events_hourly_agg",
    HOURLY_ROLLUP_ORACLE,
    doc="§2.9 extension: time-bucketed windowed aggregation over the "
    "events table (batch form of the streaming hourly rollup); the "
    "avg is exact fixed-point (micro_sum/micro_avg) so the hash gate "
    "is byte-exact at every SF with no float-summation tolerance",
)
def events_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.functions.scalars import micro_avg, micro_sum

    e = load_events(spark, sf_dir)
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            micro_sum("value").alias("__s6"),
            F.count("value").alias("__cv"),
        )
        .select(
            "hour", "event_type", "cnt",
            micro_avg("__s6", "__cv", 4).alias("avg_value"),
        )
    )


@register(
    "events_json_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k "
    "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL",
    doc="scalar-function extension: JSON field extraction from the props column",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k")
    return e.select("event_id", k.cast("int").alias("k")).filter(k.isNotNull())


# ===========================================================================
# Sources/sinks under the correctness gate (SURVEY §2.1): the ingest and
# gold-table paths run as identity roundtrips whose oracle is the source
# table itself — any parse/write defect breaks the hash
# ===========================================================================

@register(
    "csv_roundtrip_identity",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate "
    "FROM lineitem",
    doc="S1-S3: gzipped-CSV sink + null-normalizing source roundtrip "
    "(identity oracle; exercises the trans.py-subsuming reader config)",
)
def csv_roundtrip_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from nyc_taxi_data_clickhouse_spark.sources.csv import (
        read_trips_csv,
        write_csv_shards,
    )

    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"]
    li = load_table(spark, sf_dir, "lineitem").select(*cols)
    from nyc_taxi_data_clickhouse_spark.scratch import scratch_dir

    out = scratch_dir("csv_roundtrip_")
    write_csv_shards(li, out, max_records_per_file=20_000)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    )
    return read_trips_csv(spark, out, schema=schema)


@register(
    "gold_partitioned_roundtrip",
    "SELECT CAST(year(l_shipdate) AS INT) AS ship_year, count(*) AS cnt, "
    "round(sum(l_extendedprice), 2) AS total "
    "FROM lineitem GROUP BY ship_year",
    doc="S5/S6+X2: partitioned sort-clustered parquet write, zero-copy "
    "attach, partition-pruned aggregate (identity-agg oracle)",
)
def gold_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.scratch import scratch_dir

    li = load_table(spark, sf_dir, "lineitem")
    out = scratch_dir("gold_rt_")
    (
        li.withColumn("ship_year", F.year("l_shipdate"))
        .repartition(F.col("ship_year"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(out)
    )
    # explicit schema keeps the attach total when the write was empty
    # (no footers to infer from) — same contract as attach_gold
    back = spark.read.schema(
        li.withColumn("ship_year", F.year("l_shipdate")).schema
    ).parquet(out)
    return back.groupBy("ship_year").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("total"),
    )


@register(
    "streaming_hourly_rollup",
    HOURLY_ROLLUP_ORACLE,
    doc="§2.9: Structured Streaming watermarked hourly rollup drained "
    "with availableNow — oracle is the batch aggregate (stream==batch "
    "convergence contract); avg in exact fixed-point so streamed "
    "partial-state merge order can never flip a bit vs the oracle",
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        hourly_rollup_stream,
        read_events_stream,
        run_to_completion,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    return run_to_completion(
        hourly_rollup_stream(stream), name, output_mode="complete"
    )


# ===========================================================================
# Extended SQL surface (SURVEY §2.4 "not present" list + §2.5) — the
# aggregation/join shapes the reference lacks but a complete engine needs
# ===========================================================================

@register(
    "distinct_agg",
    "SELECT o_orderstatus AS status, count(DISTINCT o_custkey) AS n_cust, "
    "count(*) AS cnt FROM orders GROUP BY o_orderstatus",
    doc="§2.4 extension: distinct aggregation (expand+two-phase hash agg)",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.countDistinct("o_custkey").alias("n_cust"), F.count("*").alias("cnt")
    )


@register(
    "having_filter",
    "SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey "
    "HAVING count(*) >= 100",
    doc="§2.4 extension: HAVING (post-aggregation predicate)",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 100)
    )


@register(
    "rollup_agg",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt, "
    "round(sum(l_extendedprice), 2) AS total "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
    doc="§2.4 extension: ROLLUP hierarchy aggregation",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("cnt"), F.round(F.sum("l_extendedprice"), 2).alias("total")
    )


@register(
    "cube_agg",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
    doc="§2.4 extension: CUBE aggregation",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))


@register(
    "grouping_sets",
    "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
    doc="§2.4 extension: GROUPING SETS via the spark.sql entry point (E1)",
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@register(
    "percentile_median",
    "SELECT l_linenumber AS key, round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price, "
    "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price "
    "FROM lineitem GROUP BY l_linenumber",
    doc="§2.4 extension: exact interpolated percentiles (median/p90) — "
    "since round 8 via operators.stats.exact_group_quantiles (VERDICT r7 "
    "item 5): both quantiles from ONE fused bounded-memory pass-set "
    "instead of F.percentile, whose aggregation buffer holds every "
    "group value (OOM at 100 TB group sizes).  Same percentile_cont "
    "semantics, same DuckDB quantile_cont oracle; 7 known groups "
    "(l_linenumber) — bounded cardinality asserted, guard job skipped",
)
def percentile_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.stats import (
        exact_group_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("key"),
        F.col("l_extendedprice").alias("x"),
    )
    qq = exact_group_quantiles(
        li, "key", "x", [0.5, 0.9],
        outs=["median_price", "p90_price"], broadcast_stats=True,
    )
    return qq.select(
        "key",
        F.round("median_price", 4).alias("median_price"),
        F.round("p90_price", 4).alias("p90_price"),
    )


@register(
    "approx_distinct",
    "SELECT count(DISTINCT l_partkey) AS exact_parts, TRUE AS within_5pct "
    "FROM lineitem",
    doc="§2.4 extension: approx_count_distinct (HyperLogLog++) — the "
    "sketch value is engine-specific, so the entry computes BOTH the "
    "sketch and the exact distinct count in one agg and reports the "
    "bounded-error check Spark-side; the oracle pins exact count + bound",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey") - F.countDistinct("l_partkey")
            )
            / F.countDistinct("l_partkey")
            <= 0.05
        ).alias("within_5pct"),
    )


@register(
    "semi_join",
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)",
    doc="§2.3 extension: left-semi join (EXISTS)",
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join",
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    doc="§2.3 extension: left-anti join (NOT EXISTS)",
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "range_join",
    """
    SELECT e.event_id, b.bucket
    FROM events e
    JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 120.0), ('high', 120.0, 1e9))
         AS b(bucket, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    """,
    doc="§2.3 extension: range (non-equi) join against broadcast bucket "
    "bounds (BroadcastNestedLoopJoin; dim side is tiny by contract)",
)
def range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    buckets = e.sparkSession.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 120.0), ("high", 120.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    return e.join(
        broadcast(buckets),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    ).select("event_id", "bucket")


@register(
    "asof_join",
    """
    SELECT c.event_id, c.user_id, p.value AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="§7 custom operator: point-in-time as-of join via union+window "
    "carry-forward (one shuffle, no N²); oracle is DuckDB ASOF JOIN",
)
def asof_join_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.plans.asof import asof_join

    e = load_events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    return asof_join(clicks, purchases, on="ts", by="user_id", value_cols=("value",)).select(
        "event_id", "user_id", "value_asof"
    )


# ===========================================================================
# Reshaping / array / date-arithmetic surface
# ===========================================================================

@register(
    "pivot_counts",
    """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
    doc="reshape extension: groupBy().pivot() with fixed value list "
    "(equivalent to conditional-count columns)",
)
def pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_events(spark, sf_dir)
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    # pivot leaves combinations with no rows as NULL; the CASE-sum
    # oracle yields 0 — normalize
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("click", "view", "purchase", "signup", "error")],
    )


@register(
    "explode_tokens",
    r"""
    SELECT doc_id, tok, count(*) AS n
    FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')) AS tok
          FROM documents)
    GROUP BY doc_id, tok
    """,
    doc="array/lateral extension: explode token arrays to rows + per-doc "
    "term frequency",
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
    )


@register(
    "date_arithmetic",
    """
    SELECT o_orderkey,
           CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS ship_latency_days,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(year(o_orderdate) * 4 + ((month(o_orderdate) - 1) // 3) AS INT) AS quarter_idx
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_linenumber = 1
    """,
    doc="scalar extension: date arithmetic (datediff, date_trunc, "
    "quarter bucketing) across a join",
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    j = o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    return j.select(
        "o_orderkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "ship_latency_days"
        ),
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        (F.year("o_orderdate") * 4 + F.floor((F.month("o_orderdate") - 1) / 3))
        .cast("int")
        .alias("quarter_idx"),
    )


# ===========================================================================
# TPC-H-classic analogs over the testdata subset — breadth proof for the
# extended SQL surface (multi-aggregate blocks, selective filters,
# conditional aggregation, join-heavy group-bys)
# ===========================================================================

@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: multi-aggregate pricing summary with filter",
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q3 shape: 3-way join, filtered, grouped, top-k by revenue",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(20)
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation n ON c_nationkey = n.n_nationkey
    JOIN region   ON n.n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: 6-way join with same-nation constraint, grouped revenue",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: highly selective conjunctive filter + scalar agg "
    "(predicate pushdown showcase)",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q14_promo_effect",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    doc="TPC-H Q14 shape: conditional aggregation over a broadcast join "
    "(uses the part dimension)",
)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), disc_price).otherwise(0.0)
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc_price), 4).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# public accessors used by __spark_entry__
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in registry().items() if spec.oracle is not None
    }
