"""Data-sized shuffle partitioning for the heavy self-joins
(VERDICT r8 item 1): engage-only-above-default, exchange reuse, and
result invariance under the sized plans."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.operators import dedup

SF = "/root/testdata/sf0.001"


def test_plan_size_bytes_reads_scan_stats(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    size = partitioning.plan_size_bytes(docs.select("doc_id", "text"))
    assert size is not None and 0 < size < 1 << 40


def test_sized_partitions_engage_only_above_default(spark, monkeypatch):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # tiny input: stays on the session default -> None (plan untouched)
    assert partitioning.sized_shuffle_partitions(docs, 256.0) is None
    # pretend the scan is 229 MB (the x256 probe's documents.parquet):
    # 229 MB * 256 / 128 MB = 458 partitions, the measured-good regime
    monkeypatch.setattr(
        partitioning, "plan_size_bytes", lambda df: 229 * 1024 * 1024
    )
    assert partitioning.sized_shuffle_partitions(docs, 256.0) == 458
    # the cap bounds runaway estimates
    monkeypatch.setattr(
        partitioning, "plan_size_bytes", lambda df: 1 << 50
    )
    assert (
        partitioning.sized_shuffle_partitions(docs, 256.0)
        == partitioning.MAX_SIZED_PARTITIONS
    )


def test_sized_partitions_for_rows():
    class _FakeConf:
        def get(self, key):
            return "32"

    class _FakeSpark:
        conf = _FakeConf()

    spark = _FakeSpark()
    # below the engage point (10M rows * 48 B = 480 MB -> 4 < 32): None
    assert partitioning.sized_partitions_for_rows(10_000_000, 48.0, spark) is None
    # 20G undirected edge rows * 48 B / 128 MB = ~7.2k -> capped at 4096
    assert (
        partitioning.sized_partitions_for_rows(20_000_000_000, 48.0, spark)
        == partitioning.MAX_SIZED_PARTITIONS
    )
    # mid-range engages with the exact ceil (200M rows -> 72)
    got = partitioning.sized_partitions_for_rows(200_000_000, 48.0, spark)
    assert got == -(-200_000_000 * 48 // (128 * 1024 * 1024)) == 72


def test_jaccard_sized_shuffle_is_reused_not_added(spark):
    """With an explicit shuffle_partitions, the fused plan carries the
    sized exchange on __sh and NO default-sized exchange on __sh — the
    repartition replaces the join/group shuffle instead of stacking a
    second one."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.8, shuffle_partitions=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__sh" in plan
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for line in plan.splitlines():
        if "hashpartitioning(__sh" in line:
            assert f", {default})" not in line, line
            assert ", 7)" in line or "REPARTITION_BY_NUM" in line, line


def test_jaccard_results_invariant_under_sizing(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, max_df=100
        ).collect()
    }
    sized = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, max_df=100, shuffle_partitions=7
        ).collect()
    }
    assert base == sized and base  # non-trivial corpus


def test_star_cc_labels_invariant_under_forced_round_sizing(spark, monkeypatch):
    """Force the round-sizing path on (it only self-engages past ~40M
    edges) and assert identical component labels on an irregular graph."""
    rng = random.Random(5)
    pairs = spark.createDataFrame(
        [(rng.randrange(100), rng.randrange(100)) for _ in range(160)],
        "id_a long, id_b long",
    ).filter("id_a <> id_b")
    monkeypatch.setattr(partitioning, "STAR_LOCAL_FINISH_EDGES", 0)
    plain = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    monkeypatch.setattr(
        partitioning, "sized_partitions_for_rows", lambda *a, **k: 5
    )
    forced = {
        (r["node"], r["component"])
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert plain == forced and plain


def test_calibrated_jaccard_width_tracks_doc_length(spark, monkeypatch):
    """VERDICT r9 item 4: the jaccard shuffle width must be derived
    from the corpus's measured doc-length profile, not a fixed
    expansion constant — long-doc corpora explode into several-fold
    more shingle rows per input byte.  With the static engage-gate
    forced open, a short-doc corpus must stay on the session default
    (None) while a long-doc corpus of the SAME doc count derives a
    width proportional to its shingle rows."""
    monkeypatch.setattr(
        partitioning, "sized_shuffle_partitions", lambda df, exp, **kw: 64
    )

    def mk(n_docs, n_tokens):
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_tokens)),
                    lambda x: F.concat(F.lit("w"), x.cast("string")),
                ),
                " ",
            ).alias("text"),
        )

    # 500 docs x 3 shingles: 1.5k rows -> default width suffices
    assert dedup._calibrated_jaccard_partitions(mk(500, 5), "text", "doc_id", 3) is None
    # 500 docs x 9 998 shingles: ~5M rows x 1 kB / 128 MB = 39
    wide = dedup._calibrated_jaccard_partitions(mk(500, 10_000), "text", "doc_id", 3)
    assert wide is not None and 35 <= wide <= 45, wide


def test_calibrated_jaccard_gate_disengages_small_input(spark):
    """Without the forced gate, a small corpus never reaches the
    calibration probe: the conservative static estimate returns None
    and the plan stays byte-identical to the un-sized one."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert dedup._calibrated_jaccard_partitions(docs, "text", "doc_id", 3) is None


def test_minhash_probe_gate_scales_with_bytes_per_shingle(spark, monkeypatch):
    """The static gate in front of the two eager probe jobs scales
    jaccard's expansion by bytes_per_shingle / 1024 (32x for minhash's
    128 B), so minhash skips the probe wherever its width could not
    clear the session default.  At 8 MiB of docs and 4 session
    partitions jaccard's gate engages (8 MiB x 256 / 128 MiB = 16) and
    minhash's does not (2)."""
    assert partitioning.session_shuffle_partitions(spark) == 4
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    monkeypatch.setattr(partitioning, "plan_size_bytes", lambda df: 8 << 20)
    tracker = spark.sparkContext.statusTracker()

    def jobs_started(**kw):
        before = len(tracker.getJobIdsForGroup(None))
        width = dedup._calibrated_jaccard_partitions(
            docs, "text", "doc_id", 3, **kw
        )
        return width, len(tracker.getJobIdsForGroup(None)) - before

    minhash = jobs_started(
        bytes_per_shingle=partitioning.MINHASH_SORT_BYTES_PER_SHINGLE
    )
    assert minhash == (None, 0)
    _, jaccard_jobs = jobs_started()
    assert jaccard_jobs > 0


def test_cpu_map_min_partitions_engages_below_core_count(spark):
    """A one-row-group id projection must be widened for the Python
    codec stage; an input already at/above core width must be left
    alone (VERDICT-style engage-only-when-starved contract)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    cores = spark.sparkContext.defaultParallelism
    n = partitioning.cpu_map_min_partitions(docs)
    assert docs.rdd.getNumPartitions() < cores  # the starved shape
    assert n == cores  # one wave, no extra task cost
    # already parallel -> no exchange added
    wide = docs.repartition(cores)
    assert partitioning.cpu_map_min_partitions(wide) is None
    # streaming inputs are never widened (no RDD view; the batch twin
    # carries the guard)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
        .select("doc_id")
    )
    assert partitioning.cpu_map_min_partitions(stream) is None


def test_cpu_map_target_partitions_knob_overrides_default_parallelism(spark):
    """`spark.graft.cpuMapTargetPartitions` replaces the
    defaultParallelism probe — the dynamic-allocation escape hatch
    (VERDICT r13 item 7): at plan time defaultParallelism can be far
    below the eventual executor count, so autoscaling deployments pin
    the steady-state core target explicitly.  The knob governs BOTH
    the widen target and the engage threshold."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    cores = spark.sparkContext.defaultParallelism
    try:
        # knob above defaultParallelism: widen to the knob, not cores
        spark.conf.set("spark.graft.cpuMapTargetPartitions", str(cores * 4))
        assert partitioning.cpu_map_min_partitions(docs) == cores * 4
        # knob at/below the input's partitioning: not starved -> no-op,
        # even though defaultParallelism alone would have engaged
        spark.conf.set(
            "spark.graft.cpuMapTargetPartitions",
            str(docs.rdd.getNumPartitions()),
        )
        assert partitioning.cpu_map_min_partitions(docs) is None
        # a malformed knob fails by name: a silent fallback to the
        # probe would hide exactly the misconfiguration the knob
        # exists to surface
        spark.conf.set("spark.graft.cpuMapTargetPartitions", "not-a-number")
        with pytest.raises(
            ValueError, match="cpuMapTargetPartitions.*'not-a-number'"
        ):
            partitioning.cpu_map_min_partitions(docs)
    finally:
        spark.conf.unset("spark.graft.cpuMapTargetPartitions")
    # unset again: the local default path is the plain core probe
    assert partitioning.cpu_map_min_partitions(docs) == cores


def test_synthesize_media_runs_core_parallel(spark):
    """The codec tier's synth+decode chain must plan at >= core-count
    tasks even from a single-row-group table — before the r13 guard the
    whole MPEG tier executed as ONE task (scan splits are byte-sized,
    the Python stage is CPU-sized)."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import (
        synthesize_media,
    )

    ids = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.col("doc_id").alias("media_id"))
    )
    out = synthesize_media(ids, "audio")
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
