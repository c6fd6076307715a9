"""Scale gates: the one module that defines or applies a threshold
switching a plan's shape at size.  Operators read the constants as
``partitioning.X`` at call time, so a test's monkeypatch reaches them.
No gate engages at sf0.01/sf0.1 or sits on the taxi ingest/query path.

- data-sized shuffle widths: :func:`sized_shuffle_partitions`,
  :func:`sized_partitions_for_rows` and the per-operator footprints
  (``JACCARD_*``, ``MINHASH_*``, ``STAR_*``, ``PACKING_*``);
- CPU-bound map widening: :func:`widen_for_cpu_map`;
- side-table broadcast or shuffle join (``BROADCAST_GROUP_BOUND``):
  :func:`group_table_hint`, :func:`side_table_join_hint`;
- star-CC round joins (``STAR_SHJ_EDGE_BOUND``):
  :func:`star_round_join_hint`.

Why data-sized widths (VERDICT r8 item 1): Spark's
``spark.sql.shuffle.partitions`` is a SESSION constant, sized to the
core count for the interactive/benchmark floor.  That is the right
default for the suite's hundreds of small exchanges — the r8 A/B probe
showed that globally raising it (via AQE ``initialPartitionNum``)
regresses the whole sf0.1 headline 1.2–2.3× because the task-scheduling
floor is not refunded at small shuffle sizes.  But a FIXED count is the
wrong unit for the one shape whose per-task state grows with the data:
the shingle self-join inside n-gram Jaccard sorted 2.2 GB per task at
the x256 decade (70.4 GB total spill, CPU marginal slope 1.72); re-running
with 512 partitions removed the spill growth and cut CPU 26 %
(SCALING_CPU_r08_jaccard.json, BENCH_NOTES round 8).

The per-operator control: estimate the operator's INPUT bytes from the
optimized plan's statistics (file sizes for parquet scans — no job, no
collect), multiply by the operator's measured expansion factor into
shuffle/sort bytes, and insert an explicit ``repartition(n, key)`` ONLY
when the derived n exceeds the session default.  Because the
repartition keys are the join/group keys, the downstream join and
aggregation reuse the exchange — the sized shuffle REPLACES the
default-sized one rather than adding a stage.  Below the threshold the
plan is byte-identical to before, so the small-SF benchmark floor (and
every oracle plan) is untouched.
"""

from __future__ import annotations

import math
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: per-partition budget for sort/join state.  128 MB of in-sort rows
#: per task keeps the external sorter in memory at executor defaults
#: (spark.sql.files.maxPartitionBytes uses the same unit for scans).
TARGET_PARTITION_BYTES = 128 * 1024 * 1024

#: hard cap — beyond this, per-task data is small enough that the
#: scheduling floor dominates again; 4096 matches the largest sensible
#: single-app shuffle width on a ~1000-executor cluster's AQE ceiling.
MAX_SIZED_PARTITIONS = 4096

#: measured ratio of the shingle self-join's SORT bytes to the docs
#: table's on-disk bytes, from the r8 x256 decade probe: 229 MB of
#: salted documents.parquet sorted 70.4 GB inside the 32-partition
#: self-join (~300x; the explode turns every compressed text byte into
#: ~a (hash, id) shuffle row).  Rounded down to 256 so the derived
#: count lands at ~458 partitions for that probe — the same regime as
#: the measured-good 512 (spill 70.4 -> 38.6 GB, CPU -26 %).
#:
#: This constant is the CONSERVATIVE GATE only (VERDICT r9 item 4): it
#: decides whether sizing engages at all; the actual width then comes
#: from the live per-corpus calibration in ``operators/dedup.py``, so a
#: corpus with a different doc-length / compression profile cannot
#: re-admit spill through a miscalibrated fixed factor.  It is
#: calibrated for jaccard's per-row footprint; other footprints scale
#: it by ``bytes_per_shingle / JACCARD_SORT_BYTES_PER_SHINGLE``.
JACCARD_SHUFFLE_EXPANSION = 256.0

#: bytes of self-join sort state per shingle row, back-derived from the
#: r8 x256 probe: 70.4 GB sorted / (1.28 M docs x 52.1 shingles/doc)
#: ~ 1.06 kB per (8 B hash, 8 B id) row — UnsafeRow, sort-buffer and
#: both join legs included.  Rounded to 1024: the derived width for
#: that probe is 508, i.e. the measured-good 512 (zero spill, -26 %
#: CPU).  Unlike the bytes-ratio above this unit is LAYOUT-FREE — it
#: does not depend on the corpus's parquet compression or doc length,
#: which the live probe measures instead.
JACCARD_SORT_BYTES_PER_SHINGLE = 1024.0

#: bytes of per-task state per shingle row for the MINHASH path —
#: far below jaccard's 1024: minhash never explodes shingle pairs, so
#: the widest per-task state is the verification SMJ sort (~32 B/row)
#: plus the 64-long signature agg map (~12 B amortized per shingle
#: row).  Calibrated by the r16 x256 width sweep (same host, same
#: session protocol): derived widths {33, 66, 133, 266, 533} measured
#: {3625, 2097, 2494, 2209, 2738} CPU core-s — 128 B/row lands the
#: derived width at 66 for that probe, the measured optimum (-39 %
#: CPU vs the session-default 32), with 33 re-admitting GC pressure
#: (613 core-s GC) and 533 re-admitting task-floor overhead (the r8
#: initialPartitionNum lesson).
MINHASH_SORT_BYTES_PER_SHINGLE = 128.0

#: sort/hash state per undirected edge row in a star-CC round's group
#: and join exchanges.  Engages only past ~40M edges at 32 cores, so
#: every probe scale and the sf0.1 headline keep their plans.
STAR_BYTES_PER_EDGE = 48.0

#: token-budget packing's (doc_id, toks, shard) exchange: ~24 B/row
#: shuffled over the docs scan's plan bytes — the narrow projection is
#: a small fraction of the text payload (SCALING_CPU_r15_packing).
PACKING_SHUFFLE_EXPANSION = 0.1

#: Broadcast a side table only at or below this row count.  At ~100 B
#: per row of (key, n, lo, hi, r1, r2) this is ≈50 MB — inside the
#: session's 64 MB autoBroadcastJoinThreshold with headroom.  Above it,
#: broadcasting is a driver-collect/OOM hazard, so the joins fall back
#: to shuffle joins (still hash joins on the key; AQE may re-plan them
#: at runtime).  The graph rank/degree tables (~16 B/row) share it.
BROADCAST_GROUP_BOUND = 500_000

#: Edge count above which the star rounds hint shuffle_hash on the
#: per-key min tables (see the gate comment in
#: ``dedup.connected_components_star``).  At ~16 B/row of (key, min)
#: the 64 MB auto-broadcast bound sits near 4 M rows, and the min
#: tables are bounded by the edge count — hint at half that for
#: headroom.
STAR_SHJ_EDGE_BOUND = 2_000_000

_CPU_MAP_TARGET_KEY = "spark.graft.cpuMapTargetPartitions"


def _shuffle_hash(d: DataFrame) -> DataFrame:
    return d.hint("shuffle_hash")


def _no_hint(d: DataFrame) -> DataFrame:
    return d


def session_shuffle_partitions(spark) -> int:
    """The session's default shuffle width — the bar every sized width
    must clear before it engages."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return 200


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (bytes), or None when the
    estimator has no real number (the unknown sentinel is defaultSize =
    Long.MaxValue-ish; anything that absurd is treated as unknown).
    For a parquet/CSV scan this is the actual file byte count — exactly
    the unit the expansion factors above were calibrated against."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return None
    if size <= 0 or size >= 1 << 60:
        return None
    return size


def sized_shuffle_partitions(df: DataFrame, expansion: float) -> int | None:
    """Partition count for a heavy exchange over data derived from
    ``df``, or None when the session default already suffices (the
    common small-input case — returning None keeps the plan identical
    to the un-sized one).

    ``expansion``: measured ratio of the operator's shuffle/sort bytes
    to the INPUT's plan-size bytes (one of the constants above)."""
    size = plan_size_bytes(df)
    if size is None:
        return None
    return sized_partitions_for_rows(size, expansion, df.sparkSession)


def sized_partitions_for_rows(
    n_rows: int, bytes_per_row: float, spark
) -> int | None:
    """``ceil(n_rows * bytes_per_row / TARGET_PARTITION_BYTES)`` capped
    at ``MAX_SIZED_PARTITIONS``, or None when that does not exceed the
    session width.  Used directly by operators that already know their
    working cardinality (e.g. the star-CC rounds, whose fixpoint
    fingerprint carries the exact edge count)."""
    n = math.ceil(n_rows * bytes_per_row / TARGET_PARTITION_BYTES)
    if n <= session_shuffle_partitions(spark):
        return None
    return min(MAX_SIZED_PARTITIONS, n)


def cpu_map_min_partitions(df: DataFrame) -> int | None:
    """Minimum split count for a CPU-BOUND narrow (map-side) stage —
    the Pandas UDF codec tier, a heavy JVM regex projection, a
    per-char explode — or None when the input already arrives parallel.
    Streaming DataFrames always return None (no RDD view; the batch
    twin is where the widening belongs).

    The two sizing helpers above solve the opposite problem (too much
    per-task state); this one solves starvation.  Scans are split by
    BYTES (``spark.sql.files.maxPartitionBytes`` / row-group bounds),
    which is the right unit for JVM scans but the wrong one for a
    Python map stage whose cost is per-row CPU: a small-bytes input —
    an id projection, a dimension-sized media table, a single-row-group
    parquet file — collapses to ONE scan split and silently serializes
    minutes of codec work on one core of a 32-core host (or one core of
    a 1000-executor cluster).

    Contract: returns ``defaultParallelism`` when the planned input
    partitioning is below the session's core count, None otherwise —
    a 100 TB media table arrives with thousands of splits, so the
    round-robin exchange (and its cost) only ever engages on inputs
    small enough that the exchange is trivial.  Call it on the
    NARROWEST projection available (ids, not payloads), so what
    shuffles is a handful of bytes per row.

    One wave of tasks is the measured width: at sf0.1 each extra wave
    of Python tasks costs ~1.3 s across the chained mapInPandas stages
    (per-task Arrow/worker round trips), more than the straggler
    imbalance it insures against on round-robin-balanced ids — three
    waves made every cheap multimodal entry ~1.3 s slower while the
    heavy codec rows gained nothing (BENCH_NOTES round 13).

    CLUSTER FIDELITY (VERDICT r13 item 7): the core-count signal is
    ``sparkContext.defaultParallelism``, which equals the worker count
    on local[N] and the total-cores snapshot on a static cluster, but
    under DYNAMIC ALLOCATION it reflects only the executors registered
    at plan time — early in an application that can be far below the
    eventual executor count, re-introducing partial starvation.
    Deployments that autoscale should set
    ``spark.graft.cpuMapTargetPartitions`` (session conf, integer) to
    the steady-state core count; when set it replaces the
    defaultParallelism probe entirely (both as the target and as the
    engage threshold).  A value that is not an integer raises
    ``ValueError`` naming the key: a silent fallback to the probe would
    hide the very misconfiguration the knob exists to fix.  Unset (the
    local default) the probe is exact on local[N] — the only mode this
    repo executes in."""
    if getattr(df, "isStreaming", False):
        return None
    spark = df.sparkSession
    raw = spark.conf.get(_CPU_MAP_TARGET_KEY, None)
    if raw is not None:
        try:
            cores = int(raw)
        except ValueError:
            raise ValueError(
                f"{_CPU_MAP_TARGET_KEY} must be an integer partition count, "
                f"got {raw!r}"
            ) from None
    try:
        if raw is None:
            cores = spark.sparkContext.defaultParallelism
        n_in = df.rdd.getNumPartitions()
    except Exception:
        return None
    if n_in >= cores:
        return None
    return cores


def widen_for_cpu_map(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to :func:`cpu_map_min_partitions` when the
    planned input would starve a CPU-bound narrow stage, unchanged
    otherwise.  Call on the narrowest projection the stage needs."""
    n = cpu_map_min_partitions(df)
    return df.repartition(n) if n else df


def _catalyst_group_count(stats: DataFrame) -> int | None:
    """Catalyst CBO row-count estimate of the optimized plan — defined
    when the inputs are ANALYZE'd catalog tables (``ANALYZE TABLE ...
    COMPUTE STATISTICS FOR ALL COLUMNS``) and ``spark.sql.cbo.enabled``
    is on: the Aggregate node estimates its output row count from the
    group-key NDV column statistic.  None when the cost model has no
    estimate (un-analyzed tables, in-memory DataFrames, CBO off).
    Evaluating plan statistics is pure plan-side metadata — it runs NO
    Spark job (asserted in tests/test_stats.py)."""
    try:
        rc = stats._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(str(rc.get())) if rc.isDefined() else None
    except Exception:  # py4j / internal-API drift must never fail the op
        return None


def group_table_hint(
    stats: DataFrame,
    broadcast_stats: bool | None,
    label: str = "group_stats_guard",
) -> Callable[[DataFrame], DataFrame]:
    """Return the hint applied to every per-group side table (stats /
    below / above — all ≤ group cardinality, so one decision covers
    them).  ``broadcast_stats``: True forces the broadcast hint (the
    caller asserts bounded group cardinality), False forces shuffle
    joins, None (default) decides from catalog statistics when the
    cost model has them — fully lazy, no job — and otherwise runs a
    guard job so high group cardinality can never be silently
    broadcast.

    Default-mode decision order (VERDICT r11 item 7):

    1. **Catalyst stats, lazy**: if the optimized plan carries a CBO
       row-count estimate (ANALYZE'd catalog tables — the normal state
       of a curated 100 TB warehouse), compare it to
       ``BROADCAST_GROUP_BOUND`` with a 2x safety margin (NDV sketches
       err ~5%; the margin keeps an underestimate from broadcasting a
       table near the driver-memory edge) and skip the guard job AND
       the persist entirely.
    2. **Guard count, eager** (ADVICE r8): otherwise the guard job
       runs at plan-construction time, and because ``limit`` cannot
       short-circuit the underlying groupBy aggregate it costs one
       full stats-scale aggregation.  To keep that the ONLY
       stats-scale scan, the stats DataFrame is persisted
       (``track_persist`` under ``label`` — pass a caller/column-
       specific label so interleaved operators don't evict each other)
       before the guard count, so the downstream joins reuse the
       cached partitions instead of recomputing the aggregation."""
    bound = BROADCAST_GROUP_BOUND
    if broadcast_stats is None:
        est = _catalyst_group_count(stats)
        if est is not None:
            # stats-available fast path: decide from metadata alone.
            # 2x margin: broadcast only when the ESTIMATE clears half
            # the bound, so a typical NDV error cannot push a
            # should-shuffle table into the broadcast.
            return F.broadcast if 2 * est <= bound else _no_hint
        from nyc_taxi_data_clickhouse_spark.scratch import track_persist

        # persist() returns self, so the caller's subsequent joins on
        # this same DataFrame object hit the cache populated here.
        # The label carries the analyzed plan's semantic hash: two
        # DIFFERENT stats plans (other df / other qs) never evict each
        # other mid-use, while re-running the same operator on the same
        # input reuses one slot.  Growth across MANY distinct inputs is
        # bounded too (ADVICE r8): track_persist caps live slots per
        # label prefix at scratch.MAX_SLOTS_PER_PREFIX, evicting the
        # oldest — safe because eviction can only hit plans from prior
        # invocations, whose guard count and downstream joins have
        # already consumed the cache.
        sem = stats._jdf.queryExecution().analyzed().semanticHash()
        stats = track_persist(f"{label}:{sem}", stats)
        broadcast_stats = stats.limit(bound + 1).count() <= bound
    return F.broadcast if broadcast_stats else _no_hint


def side_table_join_hint(n_rows: int) -> Callable[[DataFrame], DataFrame]:
    """Hint for a side table of ``n_rows`` already-counted rows whose
    plan statistics the planner cannot trust (checkpointed frames
    report "huge", so un-hinted joins fall back to sort-merge and
    re-sort the big side): ``F.broadcast`` at or below
    ``BROADCAST_GROUP_BOUND``, ``shuffle_hash`` above it — no sort of
    either side on both branches."""
    return F.broadcast if n_rows <= BROADCAST_GROUP_BOUND else _shuffle_hash


def star_round_join_hint(n_edges: int) -> Callable[[DataFrame], DataFrame]:
    """Hint for a star-CC round's per-key min tables: ``shuffle_hash``
    above ``STAR_SHJ_EDGE_BOUND`` edges, none below (the planner's own
    size-based broadcast is the small-scale fast path)."""
    return _shuffle_hash if n_edges > STAR_SHJ_EDGE_BOUND else _no_hint
