"""Session-conf hygiene: registry entries must not leave unrestored
global conf mutations behind (VERDICT r4 item 6).

The one sanctioned exception is the documented session-wide invariant
``spark.sql.legacy.parquet.nanosAsLong=true`` (session.py): it is only
ever set TO "true" (idempotent, never flipped back), and it only
changes behavior for TIMESTAMP(NANOS) parquet columns — which Spark
otherwise rejects outright — so establishing it mid-session cannot
alter any result that was previously readable.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_clickhouse_spark import suite

SF = "/root/testdata/sf0.001"

#: confs that runtime code is allowed to establish, with the ONLY value
#: it may establish them to (the documented invariant set).
_SANCTIONED = {"spark.sql.legacy.parquet.nanosAsLong": "true"}

#: runtime-noise confs Spark itself mutates during execution (AQE,
#: codegen ids, streaming checkpoints) — not set by our code.
_SPARK_INTERNAL_PREFIXES = (
    "spark.sql.execution.",
    "spark.sql.streaming.checkpointLocation",
)


def _conf_snapshot(spark) -> dict[str, str]:
    # RuntimeConfig has no getAll in the Connect-free API surface we
    # target; go through the JVM conf map, which is the ground truth
    # for what a later query would observe.
    jconf = spark.conf._jconf.getAllAsJava()
    return {
        k: v
        for k, v in dict(jconf).items()
        if not k.startswith(_SPARK_INTERNAL_PREFIXES)
    }


def test_registry_entries_leave_conf_unchanged(spark):
    """Run entries covering every module that touches spark.conf (the
    events batch reader, the streaming reader, and a plain table scan)
    and assert the conf delta is at most the sanctioned invariant set."""
    before = _conf_snapshot(spark)

    reg = suite.registry()
    for name in ("q1_group_count", "event_transition_counts",
                 "streaming_hourly_rollup"):
        if name not in reg:  # pragma: no cover - registry always has them
            pytest.skip(f"{name} missing from registry")
        reg[name].spark(spark, SF).collect()

    after = _conf_snapshot(spark)
    changed = {
        k: (before.get(k), after.get(k))
        for k in set(before) | set(after)
        if before.get(k) != after.get(k)
    }
    for key, (_, new) in changed.items():
        assert key in _SANCTIONED and new == _SANCTIONED[key], (
            f"unsanctioned session conf mutation: {key}: "
            f"{changed[key][0]!r} -> {new!r}"
        )


def test_nanos_invariant_is_set_by_factory(spark):
    """session.get_spark bakes the invariant in at build time, so code
    running on OUR session never even needs the idempotent re-set."""
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    )


# ---------------------------------------------------------------------------
# Driver-window ordering: never-verified first, then stalest verified
# ---------------------------------------------------------------------------


def test_ordered_names_changed_code_first():
    """The pure two-tier ordering rule: never-verified entries lead in
    registration order; every verified entry follows stalest-first,
    ties in registration order.  No entry jumps ahead of a staler one
    because its code changed."""
    from nyc_taxi_data_clickhouse_spark.suite import _ordered_names

    order = ["a", "b", "c", "d", "e", "f"]
    verified = {"b": 3, "c": 1, "d": 5, "f": 2}
    # a, e never verified; then c(1), f(2), b(3), d(5)
    assert _ordered_names(order, verified) == ["a", "e", "c", "f", "b", "d"]

    # equal rounds keep registration order
    verified2 = {"b": 3, "c": 1, "d": 5, "f": 1}
    assert _ordered_names(order, verified2) == ["a", "e", "c", "f", "b", "d"]


def test_ordered_names_no_changes_degrades_to_staleness():
    from nyc_taxi_data_clickhouse_spark.suite import _ordered_names

    order = ["x", "y", "z"]
    verified = {"x": 2, "y": 1, "z": 3}
    assert _ordered_names(order, verified) == ["y", "x", "z"]


def test_registry_makes_no_subprocess_call():
    """registry() is a plain, deterministic dict: in a fresh interpreter
    with subprocess.run/Popen replaced by a recorder that raises, it
    starts no process (no git) and returns every registered entry in
    the pure staleness order over the driver reports."""
    import json
    import subprocess
    import sys
    import textwrap
    from pathlib import Path

    code = textwrap.dedent(
        """
        import json
        import subprocess

        calls = []

        def forbid(*args, **kwargs):
            calls.append(repr(args[0] if args else kwargs.get("args")))
            raise RuntimeError("registry() started a subprocess")

        subprocess.run = subprocess.Popen = forbid
        from nyc_taxi_data_clickhouse_spark import suite

        names = list(suite.registry())
        print(json.dumps({
            "calls": calls,
            "names": names,
            "registered": suite.registration_order(),
            "verified": suite._driver_verified_rounds(),
        }))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["calls"] == []
    registered, verified = got["registered"], got["verified"]
    assert len(got["names"]) == len(set(got["names"])) == len(registered)
    expected = sorted(
        registered,
        key=lambda n: (n in verified, verified.get(n, 0), registered.index(n)),
    )
    assert got["names"] == expected


def test_registry_order_ignores_import_history():
    """An operator module imported before the first registry() call
    must not move its entries: the order comes from suite.ENTRY_MODULES
    and definition order, not from when _REGISTRY was filled."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    def names(pre_import: str) -> list[str]:
        code = (
            f"{pre_import}\n"
            "import json\n"
            "from nyc_taxi_data_clickhouse_spark import suite\n"
            "print(json.dumps(list(suite.registry())))\n"
        )
        out = subprocess.run(
            [sys.executable, "-c", code],
            cwd=Path(__file__).resolve().parents[1],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        return json.loads(out.strip().splitlines()[-1])

    clean = names("")
    assert names("import nyc_taxi_data_clickhouse_spark.operators.curation") == clean


# ---------------------------------------------------------------------------
# Core-scaling contract (VERDICT r15 item 2): a constrained run must
# plan constrained-width shuffles, not host-width ones
# ---------------------------------------------------------------------------


def test_default_shuffle_partitions_honors_spark_graft_cpus(monkeypatch):
    """Pure derivation rule: $SPARK_GRAFT_CPUS wins when numeric,
    $SPARK_GRAFT_SHUFFLE overrides everything, os.cpu_count() is the
    fallback for unset/non-numeric values; a non-numeric
    $SPARK_GRAFT_SHUFFLE fails with a message naming it."""
    import os

    from nyc_taxi_data_clickhouse_spark.session import (
        default_shuffle_partitions,
    )

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_shuffle_partitions() == 8
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "96")
    assert default_shuffle_partitions() == 96
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")  # local-all-cores sentinel
    assert default_shuffle_partitions() == (os.cpu_count() or 8)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_shuffle_partitions() == (os.cpu_count() or 8)
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "lots")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE.*'lots'"):
        default_shuffle_partitions()


def test_bench_session_parallelism_matches_spark_graft_cpus():
    """End-to-end in a fresh interpreter/JVM (sessions are process
    global): under the bench entry path, defaultParallelism AND the
    planned shuffle width both equal $SPARK_GRAFT_CPUS — the r15
    driver's 8-core rerun planned host-core-count (32) shuffle
    partitions, which made its low-core scaling block undiagnosable."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import json\n"
        "from nyc_taxi_data_clickhouse_spark.session import get_spark\n"
        "s = get_spark(app_name='cpus-contract')\n"
        "print(json.dumps({'dp': s.sparkContext.defaultParallelism,\n"
        "                  'sp': s.conf.get('spark.sql.shuffle.partitions')}))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="6")
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    repo = Path(__file__).resolve().parents[1]
    env["PYTHONPATH"] = (
        f"{repo}{os.pathsep}{env['PYTHONPATH']}"
        if env.get("PYTHONPATH")
        else str(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=env,
        cwd=repo,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.strip().splitlines()[-1])
    assert payload == {"dp": 6, "sp": "6"}
