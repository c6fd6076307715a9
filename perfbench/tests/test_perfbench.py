"""Tests of the benchmark itself: seeded inputs repeat byte for byte,
every output check rejects a mutated answer, and every metric a run
prints is one BENCHMARK.json names, with its unit.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SPEC = run.load_spec()
CORES = 2


def _digest(directory: str, opener=open) -> list[str]:
    """Content hashes of a directory's data files, in name order for
    generated parquet and sorted for Spark's uuid-named part files."""
    names = sorted(n for n in os.listdir(directory) if not n.startswith(("_", ".")))
    hashes = []
    for name in names:
        with opener(os.path.join(directory, name), "rb") as f:
            hashes.append(hashlib.sha256(f.read()).hexdigest())
    return hashes if opener is open else sorted(hashes)


def test_same_seed_same_lineitem_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_parts(gen.lineitem(seed, 5_000), str(tmp_path / name), 4)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_result_refuses_unknown_and_missing_metrics():
    specs = SPEC["end_to_end"]
    values = {m["name"]: 1.0 for m in specs}
    out = run.result(values, specs, attempted=3, failed=0, correct=True)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in specs
    }
    with pytest.raises(RuntimeError):
        run.result({**values, "extra_s": 1.0}, specs, 3, 0, True)
    with pytest.raises(RuntimeError):
        run.result({k: v for k, v in values.items() if k != "setup_s"}, specs, 3, 0, True)


def test_workload_names_match_spec():
    from workloads import WORKLOADS

    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    assert not (tmp_path / ".perfbench_work").exists() or not os.listdir(tmp_path / ".perfbench_work")


# ---------------------------------------------------------------------------
# with a Spark session, on small inputs
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("bench") / "work")
    run.isolate(work, CORES)
    spark = run.start_session(work, CORES)
    con = oracle.connect(CORES, work)
    yield spark, work, con
    run.stop_session(spark)


def _small(name: str, session, seed: int = 3):
    from workloads import WORKLOADS

    spark, work, con = session
    w = WORKLOADS[name](spark, os.path.join(work, f"{name}-{seed}"), seed, con)
    w.rows = 3_000
    w.gold_rows = 3_000
    return w


def test_same_seed_same_csv_shards(session):
    shards = []
    for k in range(2):
        w = _small("taxi_ingest", session)
        w.prepare(0)
        shards.append(_digest(w.csv_dir, opener=gzip.open))
    assert shards[0] == shards[1]


def _mutate_one_value(gold_dir: str) -> None:
    """Rewrite one gold file with one trip's total_amount changed."""
    for root, _, names in os.walk(gold_dir):
        for name in sorted(names):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                table = pq.read_table(path)
                col = table.column("total_amount").to_pylist()
                col[0] += 1.0
                i = table.schema.get_field_index("total_amount")
                field = table.schema.field(i)
                table = table.set_column(i, field, pa.array(col, field.type))
                pq.write_table(table, path)
                return


def test_ingest_check_accepts_engine_and_rejects_mutation(session):
    w = _small("taxi_ingest", session)
    w.prepare(0)
    w.expect()
    out = w.op(0)
    assert w.check(out)
    _mutate_one_value(out)
    assert not w.check(out)


def test_query_check_accepts_engine_and_rejects_mutations(session):
    w = _small("taxi_query", session)
    w.prepare(0)
    w.expect()
    i, answers = w.op(0)
    assert w.check((i, answers))
    assert not w.check((i + 1, answers))  # another window's answer
    for name in answers:
        rows = [list(r) for r in answers[name]]
        # bump the first count or sum: ints by one, floats past the tolerance
        j = next(j for j, v in enumerate(rows[0]) if type(v) in (int, float))
        rows[0][j] = rows[0][j] * (1 + 1e-6) if isinstance(rows[0][j], float) else rows[0][j] + 1
        mutated = dict(answers, **{name: [tuple(r) for r in rows]})
        assert not w.check((i, mutated)), name
        assert not w.check((i, dict(answers, **{name: answers[name][1:]}))), name


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_run_prints_exactly_the_spec_metrics(session, name, trace):
    spark, _, _ = session
    w = _small(name, session, seed=4)
    w.prepare(0)
    w.expect()
    runner = run.Runner(spark, w, CORES)
    if trace:
        cycles = runner.traced(0)
        oks = [c["ok"] for c in cycles]
        names = [m["name"] for m in SPEC["per_layer"]]
        out = run.result(run.per_layer(w, 1.0, cycles, names), SPEC["per_layer"], len(oks), 0, True)
        assert out["metrics"]["spark.jobs"]["value"] > 0
    else:
        ops = runner.timed(0)
        oks = [op["ok"] for op in ops]
        out = run.result(run.end_to_end(w, 1.0, [1.0], ops, runner.pids), SPEC["end_to_end"], len(oks), 0, True)
        assert all(m["value"] > 0 for m in out["metrics"].values())
    assert all(oks)
