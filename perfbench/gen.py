"""Seeded input generators.

Every input a workload feeds the engine is made here from the run's
seed with NumPy and written with pyarrow, so the same seed gives
byte-identical files and the engine receives only generated data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: pickup timestamps span 1992-01-01 .. 1998-11-30 (83 months), like
#: TPC-H's l_shipdate, which ``synth_trips_staging`` maps to pickups
SHIP_START = np.datetime64("1992-01-01T00:00:00", "s")
SHIP_SPAN_S = int((np.datetime64("1998-12-01T00:00:00", "s") - SHIP_START).astype(int))

def lineitem(seed: int, rows: int) -> pa.Table:
    """A lineitem-shaped table: the columns ``synth_trips_staging`` maps
    to the 51-column trips staging schema.  ``l_orderkey`` is the row
    number, so the derived ``trip_id`` is unique."""
    rng = np.random.default_rng([seed, 1])
    ship = SHIP_START + rng.integers(0, SHIP_SPAN_S, rows).astype("timedelta64[s]")
    return pa.table(
        {
            "l_orderkey": np.arange(1, rows + 1, dtype=np.int64),
            "l_partkey": rng.integers(1, 20_001, rows, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1_001, rows, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )


def write_parts(table: pa.Table, directory: str, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files of consecutive rows, so
    a Spark scan of ``directory`` starts with ``parts`` tasks."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(
            table.slice(p * step, step), os.path.join(directory, f"part-{p:03d}.parquet")
        )
