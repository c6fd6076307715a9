"""metrics.group_totals on the shared test session, web UI off."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.metrics import group_totals, job_group


def _grouped(spark, n: int = 1000):
    return spark.range(n).groupBy((F.col("id") % 10).alias("k")).count()


def _listed_stages(spark, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    return sum(
        len(tracker.getJobInfo(j).stageIds) for j in tracker.getJobIdsForGroup(group)
    )


def test_group_counts_executed_stages_and_not_reused_shuffles(spark):
    df = _grouped(spark)
    with job_group(spark, "metrics-first"):
        df.collect()
    first = group_totals(spark, ["metrics-first"])
    assert (first["stages"], first["shuffle_stages"]) == (2, 1)
    assert first["shuffle_write_bytes"] > 0 and first["tasks"] >= 2

    # a second action on the same DataFrame reuses the shuffle output:
    # its job lists the map stage again, as skipped, and is not charged
    with job_group(spark, "metrics-reuse"):
        df.collect()
    reuse = group_totals(spark, ["metrics-reuse"])
    assert _listed_stages(spark, "metrics-reuse") == 2
    assert (reuse["stages"], reuse["shuffle_stages"]) == (1, 0)
    assert reuse["shuffle_write_bytes"] == 0


def test_concurrent_group_is_not_counted(spark):
    started = threading.Event()

    def other():
        with job_group(spark, "metrics-other"):
            started.set()
            for _ in range(3):
                _grouped(spark, 5000).collect()

    thread = threading.Thread(target=other)
    thread.start()
    assert started.wait(timeout=60)
    with job_group(spark, "metrics-mine"):
        _grouped(spark).collect()
    thread.join(timeout=300)
    assert not thread.is_alive()

    mine = group_totals(spark, ["metrics-mine"])
    assert (mine["stages"], mine["shuffle_stages"]) == (2, 1)
    theirs = group_totals(spark, ["metrics-other"])
    assert (theirs["stages"], theirs["shuffle_stages"]) == (6, 3)
    both = group_totals(spark, ["metrics-mine", "metrics-other"])
    assert both["stages"] == 8
