"""The workloads, each a closed loop of one client issuing one op at a
time through the engine's public functions.

- ``taxi_ingest``: the write path.  Each op reads the staged gz CSV
  shards, curates them and writes a fresh month-partitioned gold table
  (``sources.csv`` -> ``plans.transform`` -> ``sources.parquet``).
- ``taxi_query``: the read path.  Set-up builds and attaches a gold
  table; each op is one dashboard refresh, Q1-Q4 plus a date-window
  query (``plans.queries`` over ``sources.parquet``'s layout).

A workload exposes ``prepare`` (one set-up repetition), ``expect``
(the oracle answer, once), ``op`` (timed), ``check`` and ``discard``
(untimed), and ``trace`` (one traced cycle for the per-layer metrics).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

import gen
import oracle
from collector import group_totals, job_group, tree_bytes
from nyc_taxi_data_clickhouse_spark.plans import queries
from nyc_taxi_data_clickhouse_spark.plans.pipeline_e2e import synth_trips_staging
from nyc_taxi_data_clickhouse_spark.plans.transform import curate_trips
from nyc_taxi_data_clickhouse_spark.sources.csv import read_trips_csv, write_csv_shards
from nyc_taxi_data_clickhouse_spark.sources.parquet import attach_gold, write_gold

#: source files per generated table
SOURCE_PARTS = 8
#: staged gz CSV shards, split by row count like the reference's export;
#: Spark packs these small unsplittable files into one read task per core
CSV_SHARDS = 16


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Workload:
    name = ""
    rows = 0  # input rows one op processes
    #: untimed ops before timing: about 20-25 s of ops in fresh JVMs on
    #: the 4-core host (see NOTES.md)
    warmup_ops = 0

    def __init__(self, spark, work: str, seed: int, con) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.con = con
        self.setup_layers: list[dict] = []
        self.stored_bytes_per_row = 0.0

    def _dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _fresh(self, name: str) -> str:
        path = self._dir(name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _lineitem(self, name: str, rows: int):
        """Generate the seeded lineitem source and read it with Spark;
        pickups become session-zone timestamps, as the CSV hop makes
        them."""
        path = self._fresh(name)
        gen.write_parts(gen.lineitem(self.seed, rows), path, SOURCE_PARTS)
        df = self.spark.read.parquet(path)
        return path, df.withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))

    def discard(self, out) -> None:
        pass


class TaxiIngest(Workload):
    name = "taxi_ingest"
    rows = 120_000
    warmup_ops = 6

    def prepare(self, k: int) -> None:
        self.lineitem_dir, li = self._lineitem(f"lineitem{k}", self.rows)
        self.csv_dir = self._fresh(f"csv{k}")
        secs, _ = _timed(
            lambda: write_csv_shards(
                synth_trips_staging(li),
                self.csv_dir,
                max_records_per_file=-(-self.rows // CSV_SHARDS),
            )
        )
        self.setup_layers.append({"csv.write_shards_s": secs})
        if k:
            shutil.rmtree(self._dir(f"lineitem{k - 1}"))
            shutil.rmtree(self._dir(f"csv{k - 1}"))

    def expect(self) -> None:
        self.expected = oracle.taxi_replay(self.con, self.lineitem_dir)

    def _staged(self):
        return read_trips_csv(self.spark, self.csv_dir)

    def op(self, i: int) -> str:
        out = self._fresh(f"gold_out{i}")
        write_gold(curate_trips(self._staged()), out)
        return out

    def check(self, out: str) -> bool:
        if not self.stored_bytes_per_row:
            self.stored_bytes_per_row = tree_bytes(out)[1] / self.rows
        return oracle.gold_fingerprint(self.con, out) == self.expected

    def discard(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)

    def trace(self, i: int):
        spark = self.spark
        with job_group(spark, f"csv-{i}"):
            read_s, _ = _timed(lambda: _noop(self._staged()))
        with job_group(spark, f"curate-{i}"):
            curate_s, _ = _timed(lambda: _noop(curate_trips(self._staged())))
        with job_group(spark, f"op-{i}"):
            op_s, out = _timed(lambda: self.op(i))
        attach_s, _ = _timed(lambda: attach_gold(spark, out))
        csv = group_totals(spark, [f"csv-{i}"])
        op = group_totals(spark, [f"op-{i}"])
        files, size = tree_bytes(out)
        layers = {
            "csv.read_s": read_s,
            "csv.input_bytes": csv["input_bytes"],
            "csv.tasks": csv["tasks"],
            "transform.self_s": curate_s - read_s,
            "parquet.write_gold_s": op_s,
            "parquet.write_self_s": op_s - curate_s,
            "parquet.files_written": files,
            "parquet.bytes_written": size,
            "parquet.shuffle_write_bytes": op["shuffle_write_bytes"],
            "parquet.spill_bytes": op["spill_bytes"],
            "parquet.attach_s": attach_s,
        }
        return op_s, out, [f"op-{i}"], layers


def _window_query(trips, lo: str, hi: str):
    return trips.filter(
        F.col("pickup_date").between(F.lit(lo).cast("date"), F.lit(hi).cast("date"))
    ).agg(
        F.count("*"),
        F.sum("trip_distance"),
        F.sum("passenger_count"),
        F.min("pickup_datetime"),
        F.max("pickup_datetime"),
    )


class TaxiQuery(Workload):
    name = "taxi_query"
    warmup_ops = 14
    gold_rows = 200_000
    #: distinct seeded date windows, cycled through by the ops; warm-up
    #: runs each once, so no timed op compiles a new window plan
    windows = 4
    #: full-table scans per refresh (Q1-Q4); the window query is pruned
    rows = 4 * gold_rows

    def prepare(self, k: int) -> None:
        _, li = self._lineitem(f"lineitem{k}", self.gold_rows)
        self.gold_dir = self._fresh(f"gold{k}")
        write_s, _ = _timed(
            lambda: write_gold(curate_trips(synth_trips_staging(li)), self.gold_dir)
        )
        attach_s, self.trips = _timed(lambda: attach_gold(self.spark, self.gold_dir))
        self.setup_layers.append(
            {"parquet.write_gold_s": write_s, "parquet.attach_s": attach_s}
        )
        shutil.rmtree(self._dir(f"lineitem{k}"))
        if k:
            shutil.rmtree(self._dir(f"gold{k - 1}"))

    def expect(self) -> None:
        rng = np.random.default_rng([self.seed, 3])
        span_days = gen.SHIP_SPAN_S // 86_400
        starts = gen.SHIP_START.astype("datetime64[D]") + rng.integers(
            0, span_days - 60, self.windows
        )
        lengths = rng.integers(20, 46, self.windows)
        self.window_bounds = [
            (str(lo), str(lo + n)) for lo, n in zip(starts, lengths)
        ]
        self.expected = oracle.dashboard(self.con, self.gold_dir, self.window_bounds)
        files, size = tree_bytes(self.gold_dir)
        self.stored_bytes_per_row = size / self.gold_rows
        self.gold_files = files

    def _frames(self, i: int) -> dict:
        t = self.trips
        lo, hi = self.window_bounds[i % self.windows]
        return {
            "q1": queries.q1(t),
            "q2": queries.q2(t),
            "q3": queries.q3(t),
            "q4": queries.q4(t),
            "window": _window_query(t, lo, hi),
        }

    def op(self, i: int):
        return i, {name: df.collect() for name, df in self._frames(i).items()}

    def check(self, out) -> bool:
        i, answers = out
        want = dict(self.expected)
        want["window"] = self.expected["windows"][i % self.windows]
        return all(
            oracle.same_rows([tuple(r) for r in answers[name]], want[name])
            for name in answers
        )

    def trace(self, i: int):
        # planning: DataFrame analysis, then optimization and physical
        # planning up to the executed plan, all before any job runs
        plan_s, frames = _timed(lambda: self._frames(i))
        for df in frames.values():
            secs, _ = _timed(lambda: df._jdf.queryExecution().executedPlan())
            plan_s += secs
        layers = {"queries.plan_s": plan_s}
        answers = {}
        for name, df in frames.items():
            with job_group(self.spark, f"{name}-{i}"):
                secs, answers[name] = _timed(df.collect)
            layers[f"queries.{name}_s"] = secs
        groups = [f"{name}-{i}" for name in frames]
        totals = group_totals(self.spark, groups)
        layers.update(
            {
                "queries.files_read": totals["files_read"],
                "queries.input_bytes": totals["input_bytes"],
                "queries.tasks": totals["tasks"],
                "parquet.files_written": self.gold_files,
                "parquet.bytes_written": self.stored_bytes_per_row * self.gold_rows,
            }
        )
        op_s = plan_s + sum(layers[f"queries.{name}_s"] for name in frames)
        return op_s, (i, answers), groups, layers


WORKLOADS = {w.name: w for w in (TaxiIngest, TaxiQuery)}
