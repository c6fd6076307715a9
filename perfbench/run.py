"""Engine benchmark: one workload, one seed, one closed-loop client.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload taxi_query --seed 1 --seconds 20 --trace 0

The run starts the engine's Spark session on ``local[<cores>]``, builds
the workload's seeded inputs ``SETUP_REPEATS`` times, computes the
expected answer once with DuckDB, runs the workload's untimed warm-up
ops, then issues timed ops one at a time for ``--seconds``,
checking every op's output.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs traced cycles instead and prints the
per-layer metrics.  The last line of stdout is the JSON result; a
per-run record (op count, op times, warm-up curve) goes to stderr.

Everything the run writes stays in a work directory under the checkout,
removed at exit, and the JVM is stopped and waited for.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import collector  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

#: set-up runs this many times; setup_s reports the median
SETUP_REPEATS = 3
#: warm-up runs the workload's ``warmup_ops`` ops, or stops after
#: MAX_WARMUP_S.  A count, not a time: the JIT keeps speeding ops up for
#: dozens of ops, and a timed warm-up on a slowed host ends fewer ops
#: into that curve, so its timed ops start at a slower point
MAX_WARMUP_S = 30.0
#: a run times at least this many ops (or traced cycles), even past --seconds
MIN_TIMED_OPS = 3
MIN_TRACE_CYCLES = 2
#: JVM heap, well below the 15 GB of the 4-core host the bounds were set
#: on.  The heap starts at full size and the young generation is fixed,
#: so GC sizing heuristics do not move peak RSS from run to run.
DRIVER_MEM = "3g"
JVM_HEAP_OPTIONS = f"-Xms{DRIVER_MEM} -Xmn768m"


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def parse_args(argv: list[str], workloads: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def isolate(work: str, cores: int) -> None:
    """Point every temporary file of Python, Spark, the JVM and DuckDB
    at ``work`` and pin the session's size, before pyspark is imported."""
    os.makedirs(work)
    os.environ.update(
        TMPDIR=work,
        TZ="UTC",
        SPARK_LOCAL_DIRS=work,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    )
    time.tzset()
    tempfile.tempdir = work


def start_session(work: str, cores: int):
    from nyc_taxi_data_clickhouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": JVM_HEAP_OPTIONS,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median_by_key(rows: list[dict]) -> dict:
    keys = {k for row in rows for k in row}
    return {k: statistics.median(row[k] for row in rows if k in row) for k in keys}


class Runner:
    """Drives one workload: housekeeping, checked ops, the timed loop."""

    def __init__(self, spark, workload, cores: int) -> None:
        self.spark = spark
        self.w = workload
        self.cores = cores
        self.pids = [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
        self.bad_warmups = 0
        self.issued = 0  # ops so far, warm-up included: the op index

    def _next(self) -> int:
        self.issued += 1
        return self.issued - 1

    def housekeeping(self) -> None:
        """Between ops, outside any timed region: drop cached tables
        (operators leave persisted inputs behind) and collect the heap,
        so no op pays for its predecessor's garbage."""
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def checked(self, out) -> bool:
        try:
            return out is not None and bool(self.w.check(out))
        except Exception:
            traceback.print_exc()
            return False
        finally:
            if out is not None:
                self.w.discard(out)

    def _op(self):
        """(wall s, cpu s, output or None) of one op; an op that raises
        returns None so the run goes on and counts it as failed."""
        cpu0 = collector.cpu_s(self.pids)
        t0 = time.perf_counter()
        try:
            out = self.w.op(self._next())
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t0
        return wall, collector.cpu_s(self.pids) - cpu0, out

    def warm_up(self) -> list[float]:
        times: list[float] = []
        start = time.perf_counter()
        while len(times) < self.w.warmup_ops and time.perf_counter() - start < MAX_WARMUP_S:
            self.housekeeping()
            wall, _, out = self._op()
            self.bad_warmups += not self.checked(out)
            times.append(wall)
        return times

    def timed(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        start = time.perf_counter()
        while len(ops) < MIN_TIMED_OPS or time.perf_counter() - start < seconds:
            self.housekeeping()
            wall, cpu, out = self._op()
            ops.append({"wall": wall, "cpu": cpu, "ok": self.checked(out)})
        return ops

    def traced(self, seconds: float) -> list[dict]:
        cycles: list[dict] = []
        start = time.perf_counter()
        while len(cycles) < MIN_TRACE_CYCLES or time.perf_counter() - start < seconds:
            self.housekeeping()
            try:
                op_s, out, groups, layers = self.w.trace(self._next())
            except Exception:
                traceback.print_exc()
                cycles.append({"ok": False})
                continue
            ok = self.checked(out)
            totals = collector.group_totals(self.spark, groups)
            layers.update({f"spark.{k}": v for k, v in totals.items() if k != "files_read"})
            layers["spark.task_busy_frac"] = totals["executor_run_s"] / (op_s * self.cores)
            layers["trace.op_p50_s"] = op_s
            cycles.append({"ok": ok, "layers": layers})
        return cycles


def end_to_end(w, session_s: float, setup_s: list[float], ops: list[dict], pids) -> dict:
    walls = [op["wall"] for op in ops]
    return {
        "setup_s": session_s + statistics.median(setup_s),
        "rows_per_s": w.rows * len(ops) / sum(walls),
        "op_p50_s": statistics.median(walls),
        "cpu_s_per_op": sum(op["cpu"] for op in ops) / len(ops),
        "peak_rss_mb": collector.peak_rss_mb(pids),
        "ok_op_frac": sum(op["ok"] for op in ops) / len(ops),
        "stored_bytes_per_row": w.stored_bytes_per_row,
    }


def per_layer(w, session_s: float, cycles: list[dict], names: list[str]) -> dict:
    values = dict.fromkeys(names, 0.0)  # a layer the workload skips reads 0
    values.update(median_by_key(w.setup_layers))
    values.update(median_by_key([c["layers"] for c in cycles if "layers" in c]))
    values["session.start_s"] = session_s
    return values


def result(values: dict, specs: list[dict], attempted: int, failed: int, correct: bool) -> dict:
    """The JSON result line; refuses metrics that BENCHMARK.json does not
    name, and names that it does not measure."""
    names = [m["name"] for m in specs]
    if set(values) != set(names):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in specs},
    }


def main(argv: list[str]) -> int:
    spec = load_spec()
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    sys.path.insert(0, ROOT)  # the engine package, from the checkout
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work, cores)
    spark = None
    try:
        from workloads import WORKLOADS

        spark = start_session(work, cores)
        session_s = time.perf_counter() - PROCESS_T0
        con = oracle.connect(cores, work)
        w = WORKLOADS[args.workload](spark, work, args.seed, con)
        setup_s = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            w.prepare(k)
            setup_s.append(time.perf_counter() - t0)
        w.expect()
        runner = Runner(spark, w, cores)
        warmup = runner.warm_up()
        steal0 = collector.steal_s()
        if args.trace:
            cycles = runner.traced(args.seconds)
            oks = [c["ok"] for c in cycles]
            values = per_layer(w, session_s, cycles, [m["name"] for m in spec["per_layer"]])
            specs = spec["per_layer"]
        else:
            ops = runner.timed(args.seconds)
            oks = [op["ok"] for op in ops]
            values = end_to_end(w, session_s, setup_s, ops, runner.pids)
            specs = spec["end_to_end"]
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cores": cores,
            "session_s": session_s,
            "setup_repeats_s": setup_s,
            "warmup_s": warmup,
            "bad_warmups": runner.bad_warmups,
            "host_steal_s": collector.steal_s() - steal0,
            "peak_rss_mb_by_pid": [collector.peak_rss_mb([pid]) for pid in runner.pids],
        }
        if args.trace:
            record["trace_op_s"] = [c["layers"]["trace.op_p50_s"] for c in cycles if "layers" in c]
        else:
            record["op_s"] = [op["wall"] for op in ops]
            record["op_max_s"] = max(record["op_s"])
            record["cpu_s"] = [op["cpu"] for op in ops]
        print(json.dumps({"record": record}), file=sys.stderr)
        failed = oks.count(False)
        out = result(values, specs, len(oks), failed, failed == 0 and runner.bad_warmups == 0)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
