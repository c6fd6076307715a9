"""SparkSession factory tuned for columnar OLAP workloads.

The reference delegates all physical optimization to ClickHouse
(SURVEY §4); here we delegate to Catalyst/Tungsten and only *configure*:
AQE for runtime re-planning (partition coalescing, skew-join splitting),
a shuffle-partition count sized to the machine instead of the 200
default, Arrow for any pandas interchange, and UTC session time so
date/timestamp semantics are reproducible against the DuckDB oracle.

On a real cluster the same factory applies — only ``master`` and the
memory knobs change; everything else (AQE, broadcast thresholds,
partition sizing) is what makes plans survive a 100× scale-up.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N]: one JVM, N executor threads.  The driver exports
# SPARK_GRAFT_CPUS; fall back to all cores.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def default_shuffle_partitions() -> int:
    """Session-default shuffle width: SPARK_GRAFT_SHUFFLE if set, else
    the session's core budget.  The core budget is $SPARK_GRAFT_CPUS
    when the driver exports it (VERDICT r15 item 2a: a
    SPARK_GRAFT_CPUS=8 run previously still planned host-core-count
    shuffle partitions because this read os.cpu_count() directly —
    the one real mismatch behind the undiagnosable scaling block),
    falling back to os.cpu_count() when unset or non-numeric
    (e.g. the "*" local-all-cores sentinel)."""
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        cores = int(env_cpus) if env_cpus else 0
    except ValueError:
        cores = 0
    if cores <= 0:
        cores = os.cpu_count() or 8
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE")
    if shuffle is None:
        return cores
    try:
        return int(shuffle)
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_SHUFFLE must be an integer partition count, got {shuffle!r}"
        ) from None


def get_spark(
    app_name: str = "nyc-taxi-data-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters are overridable for tests and for real-cluster deploys;
    defaults target the local[32] harness.
    """
    master = master or f"local[{_DEFAULT_CPUS}]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- planner / runtime optimization -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOT set: spark.sql.adaptive.shuffleHashJoinLocalMapThreshold
        # (AQE runtime SMJ->shuffled-hash conversion).  Measured in the
        # r8 x256 A/B probe (SCALING_CPU_r08_shj.json vs
        # SCALING_CPU_r08.json): shuffle bytes and spill were
        # byte-identical with it on — the probe's sort spill belongs to
        # the shingle SELF-join, whose build sides are far too large to
        # hash-build, while the one join that does cross the broadcast
        # bound (the per-doc size attach) contributes no measurable
        # sort cost.  Left at Spark's default (off) until an op shows a
        # measured win; see BENCH_NOTES round-8.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # NOT set: spark.sql.adaptive.coalescePartitions.initialPartitionNum.
        # The r8 jaccard x256 probe showed the per-task state of a FIXED
        # partition count spilling at scale (32 partitions: 70 GB spill /
        # 6094 CPU core-s; 512: 39 GB / 4535, -26 % CPU) — but pinning
        # initialPartitionNum = 16x cores regressed the ENTIRE sf0.1
        # headline 1.2-2.3x (suite 38 -> 53 s): AQE coalescing does not
        # refund the extra task-scheduling floor at small shuffle sizes.
        # The right control is sizing shuffle_partitions to the DATA —
        # landed in round 9 as partitioning.sized_shuffle_partitions /
        # sized_partitions_for_rows: the heavy self-join operators
        # (ngram_jaccard_pairs, connected_components_star rounds)
        # derive a per-op repartition-by-key count from the input's
        # plan-size bytes / exact edge counts, engaging only above the
        # session default so the small-shuffle floor keeps this
        # factory's core-count setting.  See BENCH_NOTES round-8
        # partition-scaling probe for the measurements.
        # keep broadcast joins for dim tables (reference joins are all
        # broadcast-sized, SURVEY §2.3); 64m is safe at 128 GiB driver
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python interchange -------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- reproducibility ----------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # parquet: enable page-index / min-max filtering like the
        # reference's MergeTree sparse index (SURVEY §1.3, X3)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # SESSION-WIDE INVARIANT: read TIMESTAMP(NANOS) parquet columns
        # as raw int64 instead of erroring (the driver's events table
        # stores ns).  Safe globally: the flag only changes behavior for
        # nanos-resolution columns, which Spark otherwise REJECTS with
        # "Illegal Parquet type" — no us/ms read is affected.  Entries
        # that need it (suite.load_events, streaming.events) also set it
        # idempotently so externally-created sessions (the driver's own)
        # gain the same invariant; it is never flipped back.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # off-heap column vectors for the vectorized parquet reader:
        # ~5-10% on scan-bound aggregates (scan_profile.py: q1 0.40 ->
        # 0.35 s, q4 1.01 -> 0.92 s at 60 M rows) by keeping decoded
        # batches out of the GC heap — matters more, not less, on busy
        # multi-tenant executors
        .config("spark.sql.columnVector.offheap.enabled", "true")
        # vectorized fast hash map for partial aggregation: ~10% on
        # multi-key scan aggregates (scan_profile.py: q4 1.01 -> 0.92 s);
        # no effect on string-keyed q1 (falls back to row-based map)
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        # NOT set: spark.io.compression.codec (shuffle/spill codec, default
        # lz4).  zstd was A/B'd on the decade probes — the only shapes here
        # whose shuffles reach GBs (CODEC_AB_r16.json): shuffle bytes drop a
        # deterministic 31-35%, but single-box wall/CPU is a wash on jaccard
        # and a repeated loss on minhash, and at sf0.1 shuffle volumes are
        # MBs (pure noise).  On a NETWORK-bound cluster the byte reduction
        # is the dominant term (guide §1.3 napkin math) — deploys should
        # A/B zstd via extra_conf there; the local default stays lz4.
        # non-interactive harness: no web UI
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    # local mode: driver memory is the only knob.  Leave headroom for the
    # python workers on the 128 GiB box.
    if master.startswith("local"):
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Tear down the active session (test hygiene)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
