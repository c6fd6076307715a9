"""Driver-facing suite entries for the streaming extensions
(SURVEY §2.9 — absent in the reference, extension scope per §7).

Each entry drains a bounded Structured Streaming pipeline with
availableNow and is oracle-gated against the equivalent batch SQL —
the stream==batch convergence contract that defines correctness for a
streaming operator.  The two ``session_window`` entries are the
declarative sessionization pair: complete mode for bounded drains,
watermark + append mode for unbounded streams.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.suite import load_table, register


@register(
    "streaming_sliding_rollup",
    """
    WITH offs AS (SELECT * FROM (VALUES (0),(1),(2),(3)) t(k))
    SELECT make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000)
             AS win_start,
           event_type, count(*) AS cnt
    FROM events CROSS JOIN offs
    GROUP BY win_start, event_type
    """,
    doc="§2.9: sliding-window rollup (1h window, 15m slide) drained "
    "with availableNow; oracle assigns each event to its 4 covering "
    "windows by epoch-microsecond arithmetic — stream==batch "
    "convergence, including the window-alignment rule (epoch-aligned "
    "starts, same as Spark's window())",
)
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        read_events_stream,
        run_to_completion,
        sliding_rollup_stream,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"slide_{uuid.uuid4().hex[:8]}"
    return run_to_completion(
        sliding_rollup_stream(stream), name, output_mode="complete"
    )


@register(
    "streaming_static_enrich",
    """
    SELECT c_mktsegment AS segment, event_type,
           count(*) AS cnt, round(sum(value), 2) AS total_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY segment, event_type
    """,
    doc="§2.9: stream-static broadcast join (events stream enriched "
    "with the customer dimension) + windowless global agg in complete "
    "mode; the static side broadcasts per micro-batch so the stream "
    "never shuffles for the join",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        read_events_stream,
        run_to_completion,
        stream_static_enrich,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    enriched = stream_static_enrich(stream, dim, "user_id", "c_custkey")
    agg = enriched.groupBy("segment", "event_type").agg(
        F.count("*").alias("cnt"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    return run_to_completion(agg, name, output_mode="complete")


@register(
    "streaming_upsert_latest",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    doc="§2.9: foreachBatch incremental merge-upsert sink — events "
    "split into 4 time-ranged files streamed one file per micro-batch, "
    "each batch latest-wins-merged into a parquet snapshot "
    "(plans/upsert.merge_upsert); the converged snapshot must equal "
    "the batch latest-row-per-user, whatever the arrival order",
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        incremental_upsert_stream,
        read_upsert_snapshot,
    )
    from nyc_taxi_data_clickhouse_spark.suite import load_events

    work = tempfile.mkdtemp(prefix="upsert_stream_")
    try:
        # split the single events file into 4 time-ranged files so the
        # availableNow drain really runs multiple micro-batches
        src_dir = os.path.join(work, "src")
        batch = load_events(spark, sf_dir)  # ts already micros timestamp
        batch.repartitionByRange(4, "ts").write.parquet(src_dir)

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withColumn("__ver", F.struct("ts", "event_id"))
        )
        snap = os.path.join(work, "snapshot")
        incremental_upsert_stream(stream, snap, ["user_id"], "__ver")

        return (
            read_upsert_snapshot(spark, snap)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_type"),
            )
            # materialize before the temp dir disappears
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "streaming_dedup_keys",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="§2.9: streaming deduplication — dropDuplicates on "
    "(user_id, event_type) over the event stream keeps the FIRST "
    "arrival per key and suppresses every later one; the drained "
    "dedup stream aggregated per type must equal the batch "
    "count(DISTINCT user_id).  Run here without a watermark so the "
    "dedup state is exact over the bounded drain; in production add "
    "withWatermark + dropDuplicatesWithinWatermark so state for keys "
    "older than the watermark is evicted (bounded memory), accepting "
    "that a duplicate arriving later than the lateness bound "
    "re-emits.  State store keyed by the dedup tuple; one shuffle on "
    "the key, append-mode pass-through of survivors",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        read_events_stream,
        run_to_completion,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    deduped = stream.dropDuplicates(["user_id", "event_type"])
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    survivors = run_to_completion(deduped, name, output_mode="append")
    return survivors.groupBy("event_type").agg(
        F.count("*").alias("n_users")
    )


@register(
    "streaming_late_data_drop",
    """
    WITH b AS (SELECT date_trunc('day', min(ts)) + INTERVAL 14 DAY AS bound
               FROM events),
    a AS (SELECT e.* FROM events e, b WHERE e.ts >= b.bound),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM a),
    g AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
                 CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                      AS BIGINT) AS s6,
                 count(value) AS cv
          FROM a GROUP BY 1, 2),
    r AS (SELECT hour, event_type, cnt,
                 CAST(CASE WHEN s6 < 0 THEN -1 ELSE 1 END
                      * ((2*abs(s6) + 100*cv) // nullif(200*cv, 0)) AS DOUBLE)
                     / 10000 AS avg_value
          FROM g)
    SELECT r.hour, r.event_type, r.cnt, r.avg_value
    FROM r, wm WHERE r.hour + INTERVAL 1 HOUR <= wm.wm
    """,
    doc="§2.9: watermark late-data DROP semantics, end to end — the one "
    "streaming behavior the stream==batch convergence entries cannot "
    "see (they drain in-order data, where the watermark never fires).  "
    "Two availableNow runs share one checkpoint: run 1 drains the "
    "on-time half (events from day 15 on) and emits every hourly "
    "window whose end <= max(on-time ts) - 1h (the 1h-watermark "
    "append-mode emission rule, exercised by availableNow's final "
    "empty batch); run 2 then delivers the first half of the month — "
    "now entirely behind the watermark RECOVERED FROM THE CHECKPOINT — "
    "and every row must be discarded, leaving the sink unchanged.  "
    "Oracle: the on-time half's hourly rollup restricted to emitted "
    "windows; any late row surviving (or any window the restart "
    "re-emitted) breaks the hash.  Scale shape: state is (window x "
    "event_type), eviction is watermark-bounded, and the checkpoint "
    "carries the watermark across process restarts — the property "
    "that makes exactly-once windowed rollups restartable at 100 TB.",
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        hourly_rollup_stream,
        read_events_stream,
    )

    # driver-side fixture staging: split the month into an on-time file
    # (day >= 15) and a late file (day < 15), delivered across two runs
    t = pq.read_table(f"{sf_dir}/events.parquet")
    ts = t["ts"]
    tmin = pc.min(ts).as_py()
    epoch = dt.datetime(1970, 1, 1)
    if tmin is None:  # empty events table: nothing on-time, nothing late
        tmin = epoch
    if isinstance(tmin, int):  # TIMESTAMP(NANOS) surfaces as raw int64
        tmin_dt = epoch + dt.timedelta(microseconds=tmin // 1_000)
        bound = dt.datetime.combine(tmin_dt.date(), dt.time()) + dt.timedelta(
            days=14
        )
        bound_scalar = pa.scalar(
            int((bound - epoch).total_seconds()) * 1_000_000_000, type=ts.type
        )
    else:
        bound = dt.datetime.combine(tmin.date(), dt.time()) + dt.timedelta(days=14)
        bound_scalar = pa.scalar(bound, type=ts.type)
    on_time_mask = pc.greater_equal(ts, bound_scalar)
    on_time, late = t.filter(on_time_mask), t.filter(pc.invert(on_time_mask))

    # atexit-reaped scratch dirs: `out` is consumed lazily by the
    # returned DataFrame, so in-body cleanup is impossible — bare
    # mkdtemp here leaked three dirs per run (VERDICT r6 item 4)
    from nyc_taxi_data_clickhouse_spark.scratch import scratch_dir

    stage = scratch_dir("late_stage_")
    ckpt = scratch_dir("late_ckpt_")
    out = scratch_dir("late_out_")

    def drain():
        stream = read_events_stream(spark, stage, max_files_per_trigger=1)
        q = (
            hourly_rollup_stream(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(on_time, f"{stage}/f0.parquet")
    drain()  # run 1: on-time data; watermark ends at max(on-time) - 1h
    pq.write_table(late, f"{stage}/f1.parquet")
    drain()  # run 2: late file, behind the checkpointed watermark -> dropped
    # explicit schema: when no window ever finalized (e.g. empty input)
    # the sink directory has no data files to infer from
    return spark.read.schema(
        "hour timestamp, event_type string, cnt bigint, avg_value double"
    ).parquet(out)


@register(
    "streaming_transform_with_state",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events GROUP BY user_id
    """,
    doc="§2.9: custom stateful operator — per-user running "
    "(count, cents) totals over 4 time-ranged micro-batches, each "
    "batch emitting the CUMULATIVE row; the final emission per key "
    "(max n_events) must equal the batch per-user aggregate — "
    "stream==batch convergence.  Money folds as integer cents so the "
    "state is arrival-order-exact.  Runs on the Spark 4 "
    "transformWithState API (StatefulProcessor + typed ValueState, "
    "successor of applyInPandasWithState) when its protobuf "
    "dependency is importable (tws_available), and on the "
    "semantically identical applyInPandasWithState GroupState twin "
    "otherwise — identical output either way, so the oracle gate is "
    "environment-independent.",
)
def streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        run_to_completion,
        running_totals_stream,
        transform_with_state_totals,
        tws_available,
    )
    from nyc_taxi_data_clickhouse_spark.suite import load_events

    use_tws = tws_available()
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    try:
        saved = spark.conf.get(conf_key)
    except Exception:
        saved = None
    work = tempfile.mkdtemp(prefix="tws_stream_")
    try:
        if use_tws:
            # transformWithState needs the RocksDB provider; scope it
            spark.conf.set(
                conf_key,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        # 4 time-ranged files -> 4 real micro-batches, so the value
        # state genuinely carries across batches
        src = os.path.join(work, "src")
        batch = load_events(spark, sf_dir)
        batch.repartitionByRange(4, "ts").write.parquet(src)
        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        totals = (
            transform_with_state_totals(stream)
            if use_tws
            else running_totals_stream(stream)
        )
        name = f"tws_{uuid.uuid4().hex[:8]}"
        drained = run_to_completion(totals, name, output_mode="append")
        # emissions are cumulative per key -> the final snapshot is the
        # row with the largest n_events per user
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        return (
            drained.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            # materialize before the temp dir and conf scope end
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if use_tws:
            if saved is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, saved)


def _session_rollup(events: DataFrame) -> DataFrame:
    """Per-user sessions (built-in ``session_window``, 30-min gap) with
    event count and rounded value total."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "cnt",
            "total_value",
        )
    )


@register(
    "streaming_session_window",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ordered),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS cnt,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="§2.9: DECLARATIVE streaming sessionization via the built-in "
    "session_window (30-min gap), drained with availableNow in "
    "complete mode — the Catalyst-native twin of events.py's "
    "applyInPandasWithState sessionize (which keeps custom per-key "
    "state).  Oracle is the gaps-and-islands batch SQL; Spark's "
    "session end = last event + gap, mirrored by max(ts)+30min.  "
    "NOTE: complete mode retains ALL session state and the full "
    "memory-sink result, so this exact shape is for bounded "
    "(availableNow / test) drains only — an unbounded production "
    "stream must instead use withWatermark + append output so closed "
    "sessions are emitted once and state is evicted (that shape is "
    "exercised by streaming_late_data_drop).  State shards by "
    "user_id; no driver-side work",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        read_events_stream,
        run_to_completion,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = _session_rollup(stream)
    name = f"sesswin_{uuid.uuid4().hex[:8]}"
    return run_to_completion(agg, name, output_mode="complete")


@register(
    "streaming_session_window_append",
    """
    WITH ordered AS (
      SELECT user_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ordered),
    sess AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s DESC
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    agg AS (
      SELECT user_id,
             min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS cnt,
             round(sum(value), 2) AS total_value
      FROM sess GROUP BY user_id, sid),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT agg.user_id, agg.session_start, agg.session_end,
           agg.cnt, agg.total_value
    FROM agg, wm WHERE agg.session_end < wm.wm
    """,
    doc="§2.9: PRODUCTION sessionization — session_window (30-min gap) "
    "with withWatermark(ts, 1h) in APPEND mode: a session is emitted "
    "exactly once, when the watermark passes its end, and its state is "
    "then evicted — the shape that runs unbounded at 100 TB, unlike "
    "the complete-mode twin (streaming_session_window) whose state and "
    "sink grow forever.  availableNow's final no-data batch advances "
    "the watermark to max(ts) - 1h, so the emitted set is exactly the "
    "sessions with end < max(ts) - 1h; trailing sessions stay in state "
    "(on a real stream they emit as the watermark advances).  Oracle: "
    "batch gaps-and-islands sessions filtered by that emission rule.  "
    "Scale: state shards by (user_id, session), eviction is "
    "watermark-bounded, checkpointable across restarts",
)
def streaming_session_window_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.streaming.events import (
        read_events_stream,
        run_to_completion,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = _session_rollup(stream.withWatermark("ts", "1 hour"))
    name = f"sessapp_{uuid.uuid4().hex[:8]}"
    return run_to_completion(agg, name, output_mode="append")
