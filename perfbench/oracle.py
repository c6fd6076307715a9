"""Independent answers for the output checks, computed with DuckDB.

Each workload's expected answer comes from the generated inputs by a
path that shares no code with the engine: plain SQL over the source
parquet (the ingest replay) or DuckDB over the engine's gold files
(the dashboard answers).
"""

from __future__ import annotations

import math

import duckdb


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET memory_limit = '1GB'")
    return con


# ---------------------------------------------------------------------------
# taxi: the gold table's per-group fingerprint
# ---------------------------------------------------------------------------

_FINGERPRINT_AGGS = """
       count(*) AS cnt,
       sum(flag) AS flagged,
       min(boroct) AS min_boroct,
       sum(CAST(round(total_amount * 100) AS BIGINT)) AS total_cents,
       sum(trip_id) AS sum_trip_id,
       sum(rate_code_id) AS sum_rate_code,
       count(*) FILTER (WHERE dropoff_date IS NULL) AS null_dropoff,
       min(pickup_datetime) AS min_pickup,
       max(pickup_datetime) AS max_pickup
"""

_FINGERPRINT_KEYS = "cab_type, payment_type_, passenger_count, pickup_month"

#: the synthetic staging mapping and the 45-column curation, replayed
#: as SQL over the lineitem source for the columns the fingerprint reads
_REPLAY = f"""
WITH curated AS (
  SELECT
    CASE WHEN l_linenumber = 5 THEN NULL
         WHEN l_returnflag = 'A' THEN 'yellow'
         WHEN l_returnflag = 'N' THEN 'green'
         ELSE 'uber' END AS cab_type,
    CASE WHEN l_linenumber = 6 THEN 'UNK'
         WHEN l_returnflag = 'A' THEN 'CSH'
         WHEN l_returnflag = 'N' THEN 'CRE'
         WHEN l_linenumber % 2 = 0 THEN 'NOC'
         ELSE 'UNK' END AS payment_type_,
    CASE WHEN l_linenumber % 5 = 0 THEN 0 ELSE l_linenumber % 7 END
      AS passenger_count,
    strftime(l_shipdate, '%Y-%m') AS pickup_month,
    CASE WHEN l_linenumber % 4 IN (0, 3) THEN 1 ELSE 0 END AS flag,
    rpad(CAST(l_orderkey % 1000 AS VARCHAR), 7, '0') AS boroct,
    CAST(l_extendedprice / 1000 AS REAL) AS total_amount,
    l_orderkey * 10 + l_linenumber AS trip_id,
    CASE WHEN l_returnflag = 'R' THEN 0 ELSE l_linenumber END AS rate_code_id,
    CASE WHEN l_linenumber = 3 THEN NULL ELSE 1 END AS dropoff_date,
    l_shipdate AS pickup_datetime
  FROM read_parquet('{{src}}/*.parquet'))
SELECT {_FINGERPRINT_KEYS}, {_FINGERPRINT_AGGS}
FROM curated GROUP BY ALL
"""

_GOLD_FINGERPRINT = f"""
SELECT {_FINGERPRINT_KEYS}, {_FINGERPRINT_AGGS}
FROM (SELECT *, store_and_fwd_flag AS flag, pickup_boroct2010 AS boroct
      FROM {{gold}})
GROUP BY ALL
"""


def gold_scan(path: str) -> str:
    """DuckDB table expression for a month-partitioned gold directory."""
    return f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


def taxi_replay(con, lineitem_dir: str) -> list[tuple]:
    """Expected gold fingerprint, from the lineitem source alone."""
    return _rows(con, _REPLAY.format(src=lineitem_dir))


def gold_fingerprint(con, gold_dir: str) -> list[tuple]:
    """The same fingerprint, read from a written gold directory."""
    return _rows(con, _GOLD_FINGERPRINT.format(gold=gold_scan(gold_dir)))


# ---------------------------------------------------------------------------
# taxi: dashboard answers
# ---------------------------------------------------------------------------

DASHBOARD_SQL = {
    "q1": "SELECT cab_type, count(*) FROM {t} GROUP BY ALL",
    "q2": "SELECT passenger_count, avg(total_amount) FROM {t} GROUP BY ALL",
    "q3": "SELECT passenger_count, year(pickup_date), count(*) FROM {t} GROUP BY ALL",
    "q4": (
        "SELECT passenger_count, year(pickup_date), round(trip_distance, 0), "
        "count(*) FROM {t} GROUP BY ALL"
    ),
}

WINDOW_SQL = (
    "SELECT count(*), sum(trip_distance), sum(passenger_count), "
    "min(pickup_datetime), max(pickup_datetime) FROM {t} "
    "WHERE pickup_date BETWEEN DATE '{lo}' AND DATE '{hi}'"
)


def dashboard(con, gold_dir: str, windows: list[tuple[str, str]]) -> dict:
    t = gold_scan(gold_dir)
    answers = {name: _rows(con, sql.format(t=t)) for name, sql in DASHBOARD_SQL.items()}
    answers["windows"] = [
        _rows(con, WINDOW_SQL.format(t=t, lo=lo, hi=hi)) for lo, hi in windows
    ]
    return answers


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive row equality; floats within ``rel``, the
    summation-order noise of an average over float32 values."""
    got = sorted(got, key=repr)
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel):
                    return False
            elif a != b:
                return False
    return True
