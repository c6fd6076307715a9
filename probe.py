#!/usr/bin/env python
"""Measurement probes outside the gated benchmark, one subcommand each.

Usage::

    python probe.py star [--edges 25000000,100000000] [--repeats 2]
                         [--variants sized,control] [--out-suffix S]
    python probe.py jaccard-cost [--sf-dir D]
    python probe.py scan prepare|time VARIANT|all [--shapes q1,q2,q3,q4]
                         [--repeats 7] [--variants ...] [--factor 1833]
                         [--sf-dir D] [--scan-dir D]
    python probe.py plans --report [--sf-dir D] [NAME ...]
    python probe.py plans --out SUBDIR --tag TAG [--sf-dir D] [NAME ...]

Every flag is checked before a SparkSession starts: a bad value exits 2
with a message that names the flag.  Sessions come from the engine's
factory (``local[$SPARK_GRAFT_CPUS]``, web UI off); stage metrics are
read per job group from Spark's status store (``metrics.py``).
Payloads are named for the round ``bench.next_round()`` returns.

- ``star``: ``connected_components_star`` on synthetic pseudo-random
  graphs, its data-sized round widths against a forced-default control,
  alternating in one session, min-of-k walls; the per-round widths and
  each arm's executor time, GC, shuffle and spill go to
  ``SCALING_CPU_r{N}_starcc{suffix}.json``.  Edge i joins
  ``xxhash64(i) % N`` to ``xxhash64(i + E) % N`` with N = E/2 (average
  degree ~4: one giant component plus fringe), the shape that keeps the
  edge list large for several rounds.  The sizing engages only past
  ~45 M edges on 32 cores, so a smaller arm is a built-in A/A check.
  Run one variant per JVM (``--variants sized``) on big arms:
  localCheckpoint blocks from earlier runs pile up toward heap
  exhaustion.  A failed run (an executor OOM kills a local JVM) is
  recorded as an outcome and ends the probe.
- ``jaccard-cost``: the jaccard live calibration probe timed alone
  against the whole ``ngram_jaccard_pairs`` pipeline at an engaged
  replication factor (x256, min of 3); merged into
  ``SCALING_CPU_r{N}_jaccard.json`` under ``calibration_probe``.
- ``scan``: the q1..q4 scan shapes on the replicated lineitem, one
  storage or reader variant at a time (see ``SCAN_VARIANTS``).  Each
  variant is timed in its own fresh JVM (``all`` re-invokes this file):
  timing inside the JVM that wrote the variant tables measures its heap
  bloat, not the scan.
- ``plans``: builds each registry entry and prints its
  ``explain("formatted")``.  ``--out``/``--tag`` write the pre-execution
  plan to ``plans/<out>/<name>_<tag>.txt``.  ``--report`` also runs each
  entry (noop sink) and writes PLANS.md with the post-execution
  (AQE-final) operator tree and the stages that actually executed.
  Scratch paths, expression ids and plan ids are made stable, so two
  captures of one plan compare byte for byte.
"""

from __future__ import annotations

import argparse
import io
import json
import re
import statistics
import subprocess
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import functions as F

from bench import DEFAULT_QUERIES, next_round
from corpus_scale_bench import materialize
from nyc_taxi_data_clickhouse_spark import metrics, partitioning, scan_bench, suite
from nyc_taxi_data_clickhouse_spark.operators import dedup
from nyc_taxi_data_clickhouse_spark.session import get_spark

ROOT = Path(__file__).resolve().parent
SF_SMALL = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"
#: status-store depth for the long runs: the default 1000 stages can
#: evict a group's stages before they are read
LONG_RUN_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
}
STAR_VARIANTS = ("sized", "control")
#: corpus replication factor that engages the jaccard calibration gate
JACCARD_FACTOR = 256
JACCARD_REPEATS = 3
#: scan variant -> (table under the factor root, session conf)
SCAN_VARIANTS = {
    # the bench layout: snappy, unsorted, 64 files
    "base": ("lineitem", {}),
    "batch16k": ("lineitem", {"spark.sql.parquet.columnarReaderBatchSize": "16384"}),
    "part512m": ("lineitem", {"spark.sql.files.maxPartitionBytes": "536870912"}),
    # decompression removed
    "uncomp": ("lineitem_uncomp", {}),
    # sorted by CLUSTER_KEYS, the MergeTree ORDER BY analog write_gold
    # applies: parquet RLE/dictionary-encodes the group keys into runs
    "clustered": ("lineitem_clustered", {}),
    "clust_unc": ("lineitem_clust_unc", {}),
    # in-memory columnar cache: parquet decode removed, so the time left
    # is the aggregation and (base - cached) is the decode share
    "cached": ("lineitem", {}),
}
CLUSTER_KEYS = ["l_returnflag", "l_linenumber", "l_shipdate", "l_quantity"]


# ---------------------------------------------------------------------------
# flag types: each raises ArgumentTypeError, which argparse reports
# against the flag and exits 2
# ---------------------------------------------------------------------------


def _positive_int(text: str) -> int:
    try:
        value = int(text)
    except ValueError:
        value = 0
    if value <= 0:
        raise argparse.ArgumentTypeError(f"expected a positive integer, got {text!r}")
    return value


def _positive_ints(text: str) -> list[int]:
    return [_positive_int(part) for part in text.split(",")]


def _subset(choices):
    def parse(text: str) -> list[str]:
        items = text.split(",")
        bad = [x for x in items if x not in choices]
        if bad:
            raise argparse.ArgumentTypeError(
                f"unknown {bad}; choose from {','.join(choices)}"
            )
        return items

    return parse


def _directory(text: str) -> str:
    if not Path(text).is_dir():
        raise argparse.ArgumentTypeError(f"no such directory: {text!r}")
    return text


def _session(app_name: str, extra_conf: dict[str, str] | None = None):
    spark = get_spark(app_name=app_name, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _quiesce(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# star
# ---------------------------------------------------------------------------


def synthetic_edges(spark, n_edges: int):
    n_nodes = max(2, n_edges // 2)
    return spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("id_a"),
        F.pmod(F.xxhash64(F.col("id") + n_edges), F.lit(n_nodes)).alias("id_b"),
    )


def star(args) -> None:
    spark = _session("star-sizing-probe", LONG_RUN_CONF)
    # untimed warm-up: cold JIT is a 2x effect on iterative many-stage ops
    _noop(dedup.connected_components_star(synthetic_edges(spark, 2_000_000)))

    sizer = partitioning.sized_partitions_for_rows
    widths: list[int | None] = []

    def recording_sizer(n_rows, bytes_per_row, sp):
        n = sizer(n_rows, bytes_per_row, sp)
        widths.append(n)
        return n

    results: dict[str, dict] = {}
    failed = False
    for n_edges in args.edges:
        pairs = synthetic_edges(spark, n_edges)
        arm: dict[str, dict] = {}
        runs = {v: [] for v in args.variants}  # (wall, totals, widths)
        for i in range(args.repeats):
            for variant in args.variants:
                if failed:
                    break
                widths.clear()
                partitioning.sized_partitions_for_rows = (
                    recording_sizer if variant == "sized" else (lambda *a: None)
                )
                group = f"star:{n_edges}:{variant}:{i}"
                _quiesce(spark)
                t0 = time.perf_counter()
                try:
                    with metrics.job_group(spark, group):
                        _noop(dedup.connected_components_star(pairs))
                except Exception as exc:  # an executor OOM kills the JVM
                    arm[variant] = {
                        "outcome": "failed",
                        "wall_sec_at_failure": round(time.perf_counter() - t0, 1),
                        "error": repr(exc)[:400],
                    }
                    failed = True
                    print(f"edges={n_edges} {variant} run{i}: FAILED {arm[variant]}",
                          file=sys.stderr)
                    break
                finally:
                    partitioning.sized_partitions_for_rows = sizer
                wall = time.perf_counter() - t0
                totals = metrics.group_totals(spark, [group])
                runs[variant].append((wall, totals, list(widths)))
                print(
                    f"edges={n_edges} {variant} run{i}: wall {wall:.1f}s "
                    f"run {totals['executor_run_s']:.0f}s "
                    f"shuffle {totals['shuffle_write_bytes'] / 1e9:.2f}GB "
                    f"spill {totals['spill_bytes'] / 1e9:.2f}GB widths={widths}",
                    file=sys.stderr,
                )
        for variant in args.variants:
            if variant in arm:
                continue
            if not runs[variant]:
                arm[variant] = {"outcome": "not_attempted_after_failure"}
                continue
            wall, totals, round_widths = min(runs[variant], key=lambda r: r[0])
            arm[variant] = {
                "wall_best_sec": round(wall, 2),
                "cpu_core_sec": round(totals["executor_run_s"], 1),
                "gc_core_sec": round(totals["gc_s"], 1),
                "shuffle_gb": round(totals["shuffle_write_bytes"] / 1e9, 3),
                "spill_gb": round(totals["spill_bytes"] / 1e9, 3),
            }
            if variant == "sized":
                arm[variant]["round_widths"] = round_widths
        results[str(n_edges)] = arm
        if failed:
            break

    sc = spark.sparkContext
    payload = {
        "op": "connected_components_star (synthetic pseudo-random graph)",
        "cpus": sc.defaultParallelism,
        "driver_mem": sc.getConf().get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "repeats": args.repeats,
        "arms": results,
    }
    out = ROOT / f"SCALING_CPU_r{next_round():02d}_starcc{args.out_suffix}.json"
    out.write_text(json.dumps(payload, indent=2) + "\n")
    print(f"payload -> {out.name}", file=sys.stderr)
    print("| edges | variant | wall s | cpu core-s | shuffle GB | spill GB | widths |")
    print("|---|---|---|---|---|---|---|")
    for edges, arm in results.items():
        for variant in args.variants:
            r = arm[variant]
            if "wall_best_sec" in r:
                print(
                    f"| {edges} | {variant} | {r['wall_best_sec']} | "
                    f"{r['cpu_core_sec']} | {r['shuffle_gb']} | "
                    f"{r['spill_gb']} | {r.get('round_widths', '')} |"
                )
            else:
                print(f"| {edges} | {variant} | {r['outcome']} | - | - | - | - |")


# ---------------------------------------------------------------------------
# jaccard-cost
# ---------------------------------------------------------------------------


def jaccard_cost(args) -> None:
    spark = _session("jaccard-probe-cost")
    sf_dir = materialize(spark, args.sf_dir, JACCARD_FACTOR)["salted"]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # the first call is also the untimed warm-up
    width = dedup._calibrated_jaccard_partitions(docs, "text", "doc_id", 3)
    if width is None:
        raise SystemExit(
            f"x{JACCARD_FACTOR} of {args.sf_dir} does not engage the "
            "calibration gate, so the probe costs nothing by construction"
        )

    def best_wall(fn) -> float:
        walls = []
        for _ in range(JACCARD_REPEATS):
            _quiesce(spark)
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        return min(walls)

    probe = best_wall(
        lambda: dedup._calibrated_jaccard_partitions(docs, "text", "doc_id", 3)
    )

    def pipeline():
        _noop(dedup.ngram_jaccard_pairs(docs, threshold=0.8))

    pipeline()  # warm-up
    pipe = best_wall(pipeline)
    row = {
        "factor": JACCARD_FACTOR,
        "derived_width": width,
        "probe_wall_sec": round(probe, 3),
        "pipeline_wall_sec": round(pipe, 3),
        "probe_fraction": round(probe / pipe, 4),
        "repeats": JACCARD_REPEATS,
        "note": "probe = one column-pruned count + one hash-spread "
        "sampled tokenize agg; pipeline includes the probe (it runs "
        "inside ngram_jaccard_pairs when shuffle_partitions=None)",
    }
    out = ROOT / f"SCALING_CPU_r{next_round():02d}_jaccard.json"
    payload = json.loads(out.read_text()) if out.exists() else {}
    payload["calibration_probe"] = row
    out.write_text(json.dumps(payload, indent=2) + "\n")
    print(json.dumps(row))
    print(f"merged -> {out.name}", file=sys.stderr)


# ---------------------------------------------------------------------------
# scan
# ---------------------------------------------------------------------------


def _factor_root(args) -> Path:
    """The directory holding the replicated lineitem and its variants."""
    path = scan_bench.big_lineitem_path(args.sf_dir, args.factor, args.scan_dir)
    return path.parent


def scan_prepare(args) -> None:
    """Materialize the base table and the storage variants.  This JVM
    is never used for timing."""
    spark = _session("scan-profile-prepare")
    base_path, rows = scan_bench.materialize_big_lineitem(
        spark, args.sf_dir, args.factor, args.scan_dir
    )
    root = _factor_root(args)
    for table, clustered, codec in [
        ("lineitem_uncomp", False, "uncompressed"),
        ("lineitem_clustered", True, "snappy"),
        ("lineitem_clust_unc", True, "uncompressed"),
    ]:
        out = root / table
        if (out / "_SUCCESS").exists():
            continue
        df = spark.read.parquet(base_path)
        if clustered:
            # a key repartition then sortWithinPartitions, as write_gold
            # clusters gold: contiguous key runs in every file
            df = df.repartition(64, *CLUSTER_KEYS[:2]).sortWithinPartitions(
                *CLUSTER_KEYS
            )
        df.write.mode("overwrite").option("compression", codec).parquet(str(out))
        print(f"materialized {table}", file=sys.stderr)
    print(json.dumps({"rows": rows}))


def scan_time(args) -> None:
    """Time one variant in this (fresh) JVM; prints one JSON line."""
    table, conf = SCAN_VARIANTS[args.variant]
    spark = _session(f"scan-profile-{args.variant}", conf)
    df = spark.read.parquet(str(_factor_root(args) / table))
    cached = args.variant == "cached"
    if cached:
        df = df.cache()
        df.count()
    out: dict[str, dict] = {}
    for shape_name in args.shapes:
        shape = scan_bench.SCAN_SHAPES[shape_name]
        times = []
        for i in range(1 + args.repeats):  # the first run is a warm-up
            if not cached:
                spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            _noop(shape(df))
            if i:
                times.append(time.perf_counter() - t0)
        out[shape_name] = {
            "best": round(min(times), 4),
            "median": round(statistics.median(times), 4),
        }
    print(json.dumps({"variant": args.variant, "shapes": out}))


def scan_all(args) -> None:
    dirs = ["--factor", str(args.factor), "--sf-dir", args.sf_dir,
            "--scan-dir", args.scan_dir]

    def run(*argv: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, __file__, "scan", *argv, *dirs],
            capture_output=True, text=True, cwd=ROOT, timeout=3600,
        )

    proc = run("prepare")
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
        sys.exit(1)
    print(f"prepare: {proc.stdout.strip().splitlines()[-1]}", file=sys.stderr)
    results = {}
    for variant in args.variants:
        proc = run("time", variant, "--shapes", ",".join(args.shapes),
                   "--repeats", str(args.repeats))
        line = next((ln for ln in reversed(proc.stdout.strip().splitlines())
                     if ln.startswith("{")), None)
        if line is None:
            print(f"{variant}: FAILED {proc.stderr.strip()[-500:]}", file=sys.stderr)
            continue
        results[variant] = json.loads(line)["shapes"]
        print(line, flush=True)
    print(json.dumps({"summary": results}))


def scan(args) -> None:
    {"prepare": scan_prepare, "time": scan_time, "all": scan_all}[args.action](args)


# ---------------------------------------------------------------------------
# plans
# ---------------------------------------------------------------------------

#: a ``scratch.scratch_dir`` path: mkdtemp appends 8 random characters
#: to the process root's prefix and to the entry's prefix
_SCRATCH_PATH = re.compile(r"spark_graft_scratch_\w{8}/(\w*?)\w{8}\b")
#: expression and exchange ids come from process-wide counters, so the
#: same plan built twice in one process numbers them differently
_EXPR_ID = re.compile(r"#(\d+)")
_PLAN_ID = re.compile(r"plan_id=(\d+)")


def stable_plan(text: str) -> str:
    """``explain("formatted")`` text with each scratch path masked and
    the expression and plan ids renumbered in order of appearance."""
    text = _SCRATCH_PATH.sub(r"<scratch>/\1", text)
    for pattern, form in ((_EXPR_ID, "#{}"), (_PLAN_ID, "plan_id={}")):
        ids: dict[str, int] = {}
        text = pattern.sub(
            lambda m: form.format(ids.setdefault(m.group(1), len(ids) + 1)), text
        )
    return text


def entry_plans(spark, names, sf_dir: str, execute: bool):
    """Yield ``(name, stable plan, totals)`` for each registry entry.
    Building an entry may run eager jobs (checkpointed loops,
    calibration probes); they run under the entry's job group with the
    noop write when ``execute`` is set, so ``totals`` (None otherwise)
    counts them."""
    reg = suite.registry()
    for name in names:
        spark.catalog.clearCache()
        group = f"plans:{name}"
        with metrics.job_group(spark, group):
            df = reg[name].spark(spark, sf_dir)
            if execute:
                _noop(df)
        totals = metrics.group_totals(spark, [group]) if execute else None
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        yield name, stable_plan(buf.getvalue()), totals


def summarize(plan: str) -> str:
    # count operators in the tree section only: node names repeat in
    # the per-node details below it
    tree = plan.split("\n\n")[0]
    shuffles = (
        tree.count("Exchange")
        - tree.count("BroadcastExchange")
        - tree.count("ReusedExchange")
    )
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    bits = [
        f"{shuffles} exchange(s) in lineage",
        f"{tree.count('BroadcastHashJoin')} broadcast join(s)",
        f"{tree.count('SortMergeJoin')} sort-merge join(s)",
        f"{pushed} scan(s) with pushed filters",
    ]
    if any(node in tree for node in ("ArrowEvalPython", "MapInPandas",
                                     "FlatMapGroupsInPandas")):
        bits.append("Arrow Python stage")
    return ", ".join(bits)


def executed(totals: dict) -> str:
    spill = totals["spill_bytes"]
    return ", ".join([
        f"{totals['shuffle_stages']} shuffle map stage(s)",
        f"{totals['stages']} stage(s) total",
        "zero spill" if spill == 0 else f"SPILLED {spill / 1e9:.2f} GB",
    ])


def plans(args) -> None:
    spark = _session("plans", LONG_RUN_CONF if args.report else None)
    if not args.report:
        out_dir = ROOT / "plans" / args.out
        out_dir.mkdir(parents=True, exist_ok=True)
        for name, plan, _ in entry_plans(spark, args.names, args.sf_dir, False):
            path = out_dir / f"{name}_{args.tag}.txt"
            path.write_text(plan)
            print(f"wrote {path.name} ({len(plan)} bytes)")
        return
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python probe.py plans --report --sf-dir {args.sf_dir}`.",
        "Each query is EXECUTED (noop sink); the **executed** line counts",
        "the stages that actually ran, read from Spark's status store for",
        "the query's job group, so a persisted subtree counts once however",
        "many times the textual plan re-prints it: these counts cannot be",
        "lineage-inflated.  The static line counts nodes in the",
        "post-execution (AQE-final) operator tree and CAN overstate",
        "shuffles for queries that persist() an intermediate; read it as",
        "lineage complexity, the executed line as shuffle volume.",
        "",
    ]
    for name, plan, totals in entry_plans(spark, args.names, args.sf_dir, True):
        out += [
            f"## {name}",
            "",
            f"**executed: {executed(totals)}**",
            "",
            f"static: {summarize(plan)}",
            "",
            "```",
            plan.split("\n\n")[0].rstrip(),
            "```",
            "",
        ]
        print(f"{name}: done", file=sys.stderr)
    (ROOT / "PLANS.md").write_text("\n".join(out) + "\n")
    print("wrote PLANS.md", file=sys.stderr)


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("star", help="star-CC round sizing vs a default-width control")
    p.add_argument("--edges", type=_positive_ints, default=[25_000_000, 100_000_000],
                   help="comma-separated edge counts, one arm each")
    p.add_argument("--repeats", type=_positive_int, default=2)
    p.add_argument("--variants", type=_subset(STAR_VARIANTS), default=list(STAR_VARIANTS))
    p.add_argument("--out-suffix", default="", help="appended to the payload name")
    p.set_defaults(run=star)

    p = sub.add_parser("jaccard-cost", help="jaccard calibration probe vs its pipeline")
    p.add_argument("--sf-dir", type=_directory, default=SF_BENCH)
    p.set_defaults(run=jaccard_cost)

    scan_p = sub.add_parser("scan", help="scan-shape cost per storage/reader variant")
    scan_p.add_argument("action", choices=["prepare", "time", "all"])
    scan_p.add_argument("variant", nargs="?", choices=list(SCAN_VARIANTS))
    scan_p.add_argument("--shapes", type=_subset(scan_bench.SCAN_SHAPES),
                        default=["q1", "q2", "q3", "q4"])
    scan_p.add_argument("--repeats", type=_positive_int, default=7)
    scan_p.add_argument("--variants", type=_subset(SCAN_VARIANTS), default=list(SCAN_VARIANTS))
    scan_p.add_argument("--factor", type=_positive_int, default=scan_bench.SCAN_FACTOR,
                        help="lineitem replication factor")
    scan_p.add_argument("--sf-dir", type=_directory, default=SF_BENCH)
    scan_p.add_argument("--scan-dir", default=str(ROOT / ".scan_bench"),
                        help="where the replicated tables are kept")
    scan_p.set_defaults(run=scan)

    plans_p = sub.add_parser("plans", help="formatted plans of registry entries")
    plans_p.add_argument("--report", action="store_true",
                         help="execute each entry and write PLANS.md")
    plans_p.add_argument("--out", help="capture into plans/OUT/")
    plans_p.add_argument("--tag", help="capture file suffix, e.g. before or after")
    plans_p.add_argument("--sf-dir", type=_directory,
                         help=f"default {SF_SMALL} with --report, else {SF_BENCH}")
    plans_p.add_argument("names", nargs="*", default=DEFAULT_QUERIES,
                         help="registry entries (default: the bench set)")
    plans_p.set_defaults(run=plans)

    args = ap.parse_args(argv)
    if args.command == "scan" and (args.action == "time") != (args.variant is not None):
        scan_p.error("a VARIANT is given with, and only with, `time`")
    if args.command == "plans":
        neither = args.out is None and args.tag is None
        if args.report != neither or (args.out is None) != (args.tag is None):
            plans_p.error("give either --report, or both --out and --tag")
        unknown = sorted(set(args.names) - set(suite.registry()))
        if unknown:
            plans_p.error(f"argument names: not registry entries: {unknown}")
        args.sf_dir = args.sf_dir or (SF_SMALL if args.report else SF_BENCH)
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    args.run(args)


if __name__ == "__main__":
    main()
