#!/usr/bin/env python
"""Benchmark harness (SURVEY §2.11 H1-H5).

Reproduces the reference's protocol (src/benchmark_clickhouse.sh:19-26:
N repeats, mean±std) with Spark-specific hygiene: JVM/codegen warm-up
runs excluded from steady-state stats, caches cleared between queries,
results forced with a noop sink (no driver collect).

Output contract (VERDICT r2 #1 — the round-2 one-line result overflowed
the driver's ~2 KB tail capture and shipped as ``parsed: null``):

- The LAST stdout line is a COMPACT headline JSON — suite mean, per-query
  means, and the single rows/s/core scan figure; no stds, no scan detail.
  It stays well under the driver's tail buffer.
- The FULL payload (stds, scan section with best/median/trimmed/spread)
  is written to ``BENCH_local_r{N}.json`` at the repo root and committed
  with the round, so the evidence survives regardless of tail size.

Execution order: the scan-bound section runs FIRST, in its OWN JVM
(``python -m nyc_taxi_data_clickhouse_spark.scan_bench`` subprocess), so
its numbers are never polluted by the query suite's accumulated heap
(VERDICT r2 #4); then the 29-query suite runs in this process.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), BENCH_REPEATS (default 3),
     BENCH_QUERIES (comma-list override), BENCH_ROUND (round number for
     the local payload filename; default = max existing BENCH_r*.json
     round + 1), BENCH_SCAN=0 disables the scan section,
     BENCH_SCAN_FACTOR (default 100), BENCH_SCAN_REPEATS (default
     max(BENCH_REPEATS, 7)), BENCH_SCAN_DIR, BENCH_MERGE=0 disables the
     best-of-runs merge into an existing same-round payload (VERDICT
     r10 item 4; see merge_best_of_runs).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from nyc_taxi_data_clickhouse_spark import scan_bench, suite
from nyc_taxi_data_clickhouse_spark.session import get_spark

#: headline queries: the four reference benchmark shapes + the
#: denormalizing join + the extension operators' heavy hitters
DEFAULT_QUERIES = [
    "q1_group_count",
    "q2_avg_by_key",
    "q3_two_key_derived",
    "q4_three_key_sorted",
    "denormalize_join",
    "window_rank",
    "events_hourly_agg",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    # r16 persisted simhash's signature table; tracked since then
    "dedup_simhash",
    "text_quality",
    "ann_topk_cosine",
    "asof_join",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "window_running_total",
    "contamination_ngram",
    "near_dup_components",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q21_waiting_supplier",
    "window_range_frame",
    "text_tfidf_topk",
    "full_outer_join",
    "scd2_dimension",
    "regression_agg",
    "pandas_udf_vectorized",
    "near_dup_components_star",
    "text_repetition",
    "line_dedup_corpus",
    "text_bm25_topk",
    "term_cooccurrence",
    "event_transition_counts",
    "mad_outliers",
    "bigram_surprisal",
    "exact_median_bracket",
    # the PRODUCTION hashed-gram form (VERDICT r6 item 6): the raw-key
    # twin `substring_dup_fraction` stays oracle-gated but off the
    # headline — its 20-char shuffle key overstated the operator's cost
    "substring_dup_fraction_hashed",
    # round-9 curation primitives + the raw-video decode path
    "pii_scrub_documents",
    "url_canonical_dedup",
    "multimodal_y4m_video",
    # round-10 selection/mixing primitives + the compressed-video decode
    "domain_mix_temperature",
    "token_budget_selection",
    "quality_percentile_by_domain",
    "multimodal_mpeg1_iframe",
    # VERDICT r11 item 1: the inter-frame decodes are the heaviest
    # registry entries (~8 s warm at sf0.1) — keep them perf-tracked
    # round-over-round instead of invisible to the tripwire
    "multimodal_mpeg1_pframe",
    # round-12 B-picture decode: same codec tier, tracked from birth
    "multimodal_mpeg1_bframe",
    # round-12 graph family: pagerank is among the heaviest registry
    # entries (3-iteration shuffle loop) — tracked from birth, same
    # rationale as the codec tier
    "graph_pagerank",
    "graph_triangle_count",
    # VERDICT r12 item 2: label propagation shares the iterative-join /
    # checkpoint pattern with pagerank but had no tripwire row — a skew
    # or constant-factor regression in it was invisible round-over-round
    "graph_label_propagation",
    # round-13 sketch/tokenizer family: tracked from birth (the r12
    # lesson — a new family gets a baseline row the round it lands)
    "countmin_heavy_hitters",
    "bpe_pair_merge",
]


def force(df) -> None:
    """Materialize the full result without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def quiesce(spark) -> None:
    """Benchmark hygiene between timed runs (SURVEY §4 X10 / §2.11 H3):
    drop cached data, then force a JVM GC so that the garbage of the
    PREVIOUS queries (shuffle buffers, broadcast blocks, checkpoint
    RDDs) is collected outside the timed region.  Without this, a
    multi-minute suite accumulates heap until a major GC lands inside
    whichever query runs late — observed as 3 s -> 16-35 s outliers
    with ±15 s std on an otherwise idle machine."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def bench_query(spark, name: str, sf_dir: str, repeats: int, warmups: int = 1):
    """Back-to-back repeats per query, warm-ups excluded.  Back-to-back
    (not interleaved across queries) is deliberate: the suite carries
    35 distinct codegen'd plans, and cycling them between one query's
    repeats churns the JIT/code cache enough to inflate EVERY query
    ~1.5x (measured r5: suite 34 s back-to-back vs 50 s interleaved).
    The burst-noise problem interleaving would have solved is handled
    in the tripwire instead, which compares per-query BEST repeats —
    a burst must swallow all N repeats to fake a regression there."""
    spec = suite.registry()[name]
    times = []
    i = 0
    goal = warmups + repeats
    while i < goal:
        quiesce(spark)
        t0 = time.perf_counter()
        force(spec.spark(spark, sf_dir))
        elapsed = time.perf_counter() - t0
        if i >= warmups:
            times.append(elapsed)
        i += 1
        # drift-robust best-of-N for fast queries (VERDICT r8 item 2):
        # a sub-second query's best-of-3 is one scheduler hiccup away
        # from a phantom 1.3x "regression", so cheap queries earn extra
        # repeats until at least 5 timed runs exist.  The extra runs
        # cost < 2 s each by construction (only sub-2s queries qualify)
        # and make the recorded best a stable floor.
        if i == goal and min(times) < 2.0 and len(times) < 5:
            goal += 5 - len(times)
    return {
        "mean": statistics.mean(times),
        "std": statistics.stdev(times) if len(times) > 1 else 0.0,
        "best": min(times),
    }


def bench_scan_subprocess() -> dict | None:
    """Run the scan-bound section in its own JVM (fresh heap, no suite
    garbage) and parse the payload from its last stdout line."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, "-m", "nyc_taxi_data_clickhouse_spark.scan_bench"],
            capture_output=True,
            text=True,
            cwd=str(Path(__file__).resolve().parent),
            timeout=3600,
        )
    except subprocess.TimeoutExpired:
        print("scan bench subprocess timed out after 3600s", file=sys.stderr)
        return None
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    print(
        f"scan bench subprocess failed (rc={proc.returncode}): "
        f"{proc.stderr.strip()[-500:]}",
        file=sys.stderr,
    )
    return None


def next_round() -> int:
    """Round number for the local payload filename: env override first.
    Otherwise the CURRENT round is one past the newest driver-recorded
    BENCH_r{N}.json — and a local payload for that round may already
    exist (re-running bench.py mid-round overwrites it rather than
    minting a phantom future round).  Concretely:
    round = max(BENCH_r* rounds) + 1, unless a BENCH_local_r{M}.json
    with M >= that value exists, in which case reuse M (overwrite)."""
    if "BENCH_ROUND" in os.environ:
        return int(os.environ["BENCH_ROUND"])
    import re

    here = Path(__file__).resolve().parent

    def rounds_of(pattern: str, regex: str) -> list[int]:
        out = []
        for p in here.glob(pattern):
            m = re.match(regex, p.name)
            if m:
                out.append(int(m.group(1)))
        return out

    driver = rounds_of("BENCH_r*.json", r"BENCH_r(\d+)\.json$")
    current = max(driver, default=0) + 1
    local = rounds_of("BENCH_local_r*.json", r"BENCH_local_r(\d+)\.json$")
    ahead = [m for m in local if m >= current]
    return max(ahead) if ahead else current


def history_payloads(
    current_round: int, sf: float | None = None, cpus: int | None = None
) -> list[dict]:
    """Prior rounds' bench payloads, the one history filter behind the
    tripwire: driver-recorded ``BENCH_r{N}.json`` and committed
    ``BENCH_local_r{N}.json`` with N < ``current_round``, restricted to
    payloads at the SAME sf and cpus (``None`` = any).  An sf0.01 smoke
    run or an 8-core rerun judged against 32-core sf0.1 history would
    flag nonsense both ways.  Suffixed reruns (``BENCH_r15_c8.json``)
    never match the filename pattern."""
    import re

    here = Path(__file__).resolve().parent
    out: list[dict] = []
    for p in sorted(here.glob("BENCH_*r*.json")):
        m = re.match(r"BENCH_(?:local_)?r(\d+)\.json$", p.name)
        if not m or int(m.group(1)) >= current_round:
            continue
        try:
            payload = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if sf is not None and payload.get("sf") != sf:
            continue
        if cpus is not None and payload.get("cpus") != cpus:
            continue
        out.append(payload)
    return out


def prior_best_per_query(
    current_round: int, sf: float | None = None, cpus: int | None = None
) -> dict[str, float]:
    """Best (minimum) recorded mean per query across the
    :func:`history_payloads` at this sf and cpus.  This is the
    reference point for the automatic regression tripwire (VERDICT r4
    item 5): round 3's "12 queries slower" scare was diagnosed by hand;
    now the payload carries the per-query deltas itself."""
    here = Path(__file__).resolve().parent
    best: dict[str, float] = {}
    for payload in history_payloads(current_round, sf, cpus):
        # Compare like with like: the current run trips on per-query
        # BEST repeats, so prefer the prior payload's recorded "best"
        # dict (present from r5 locals onward); fall back to the
        # per-query means for legacy rounds that only stored those.
        # Driver-recorded BENCH_r*.json payloads nest the headline
        # under "parsed" (means only), so fall back there too —
        # otherwise rounds without a committed local payload
        # contribute no history at all.
        parsed = payload.get("parsed") or {}
        source = (
            payload.get("best")
            or payload.get("queries")
            or parsed.get("best")
            or parsed.get("queries")
            or {}
        )
        for name, sec in source.items():
            if isinstance(sec, (int, float)) and sec > 0:
                best[name] = min(best.get(name, float("inf")), sec)
    # Accepted-baseline overrides: when an attributed drift makes an
    # old best permanently unreachable (host/testdata state change —
    # BENCH_NOTES documents each case), BENCH_ACCEPTED.json raises
    # that query's reference point so the tripwire measures against
    # the accepted plateau instead of re-flagging the same attributed
    # delta every round.  Accepts only RAISE (never lower) the
    # reference, and only for baselines accepted in a prior-or-current
    # round — a fresher recorded best below the accept wins again.
    try:
        accepted = json.loads((here / "BENCH_ACCEPTED.json").read_text())
    except (OSError, ValueError):
        accepted = {}
    for name, row in accepted.items():
        base = row.get("baseline") if isinstance(row, dict) else None
        if (
            isinstance(base, (int, float))
            and base > 0
            and row.get("round", 0) <= current_round
            and name in best
        ):
            best[name] = max(best[name], float(base))
    return best


def prior_scan_rate_anchor(
    current_round: int, sf: float | None = None, cpus: int | None = None
) -> float | None:
    """MEDIAN prior-round ``rows_per_sec_per_core`` over the
    :func:`history_payloads` at this sf and cpus: the same-protocol
    host-speed anchor the drift normalization below
    compares the current run's scan probe against.  Median, not max
    (ADVICE r9): anchoring to the best-EVER rate made relief > 1 on
    almost every run — an extreme-value anchor that systematically
    relaxed the tripwire (a real plan regression up to
    ~1.15*MAX_DRIFT_RELIEF was maskable on any ordinarily-slow host
    hour).  The median of prior rounds reflects typical same-epoch
    host speed, so relief engages only when the current hour is
    genuinely slower than usual."""
    rates: list[float] = []
    for payload in history_payloads(current_round, sf, cpus):
        rate = payload.get("rows_per_sec_per_core") or (
            payload.get("parsed") or {}
        ).get("rows_per_sec_per_core")
        if isinstance(rate, (int, float)) and rate > 0:
            rates.append(float(rate))
    return statistics.median(rates) if rates else None


#: ceiling on tripwire relief from host drift: a genuinely slow host
#: hour relaxes the reference by at most this factor, so a true >=1.6x
#: plan regression can never hide behind the drift normalizer
MAX_DRIFT_RELIEF = 1.6


def detect_regressions(
    per_query: dict[str, float],
    prior_best: dict[str, float],
    threshold: float = 0.15,
    host_drift: float = 1.0,
) -> tuple[list[str], dict[str, dict[str, float]]]:
    """Queries slower than their best prior recording by more than
    ``threshold`` (relative), with an absolute floor of 0.3 s so
    millisecond-scale jitter on sub-second queries can't trip it.

    ``host_drift`` (VERDICT r8 item 2): the same-run scan probe's
    slowdown vs the fastest prior round (current raw-scan rows/s/core
    divided into the prior best).  The r8 driver run recorded a phantom
    suite-wide 1.27x "regression" on identical code because its prior
    bests were minted in a faster host hour — identical-code scan
    throughput itself had dropped 16%.  Scaling each reference by the
    measured same-run drift (never below 1.0, capped at
    MAX_DRIFT_RELIEF) makes the tripwire flag only queries that moved
    MORE than the host did.  Returns (names, detail)."""
    drift = min(max(host_drift, 1.0), MAX_DRIFT_RELIEF)
    names: list[str] = []
    detail: dict[str, dict[str, float]] = {}
    for name, now in per_query.items():
        prior = prior_best.get(name)
        if prior is None:
            continue
        ref = prior * drift
        if now > ref * (1 + threshold) and now - ref > 0.3:
            names.append(name)
            detail[name] = {
                "prior_best": round(prior, 4),
                "now": round(now, 4),
                "ratio": round(now / prior, 3),
                "drift_adjusted_ref": round(ref, 4),
            }
    return names, detail


def merge_best_of_runs(
    per_query: dict[str, float],
    stds: dict[str, float],
    bests: dict[str, float],
    scan: dict | None,
    names: list[str],
    local_path: Path,
    sf: float,
    cpus: int,
    known: set[str] | None = None,
) -> tuple[dict | None, int, list[float], list[dict]]:
    """Best-of-runs payload protocol (VERDICT r10 item 4): the round
    protocol runs the full suite >= 4 times; committing the LAST run
    made the payload one host-noise sample, which r10's four same-day
    runs (44.9-49.6 s, disjoint flag sets each run) showed manufactures
    tripwire flags and accumulates pins.  Instead, each run merges into
    ``BENCH_local_r{N}.json``: per query, the (mean, std, best) triple
    from whichever same-round run recorded the LOWER best; the scan
    section from whichever run measured the higher median throughput.
    Merging is per-query-best selection across same-protocol runs —
    the same estimator the tripwire already uses WITHIN a run.

    Queries in THIS run's name list take the per-run best; queries the
    existing payload has but this run did NOT execute are CARRIED OVER
    unchanged — a restricted BENCH_QUERIES rerun refines its subset
    without destroying the rest of the round's full-suite payload (and
    its subset sum is excluded from run_suite_means, which tracks
    full-coverage runs only).  Carried names are filtered against
    ``known`` (default: the live suite registry, ADVICE r11 — a query
    removed or renamed between runs must not persist in the payload
    and feed detect_regressions forever).  ``merged_runs`` counts
    FULL-COVERAGE runs only (ADVICE r11); subset refinements appear in
    ``run_history`` with ``full_coverage: false``.  Merging needs
    matching sf/cpus.  BENCH_MERGE=0 disables (solo re-measures should
    also set BENCH_ROUND=99 as before).  Mutates the three dicts in
    place; returns (merged scan, full_coverage_runs, run_suite_means,
    run_history).  ``run_history`` keeps each contributing run's RAW
    per-query table (VERDICT r11 item 4) so round-over-round deltas
    can be computed same-protocol — best-of-merge vs best-of-merge
    from the payload tops, OR single-run vs single-run from matching
    history rows."""
    run_mean = round(sum(per_query.values()), 4)
    if known is None:
        known = set(suite.registry())
    # raw snapshot of THIS run before any merge mutation: the
    # same-protocol (single-run) record for run_history
    raw_record = {
        "suite_mean": run_mean,
        "queries": dict(per_query),
        "best": dict(bests),
    }
    if os.environ.get("BENCH_MERGE", "1") == "0" or not local_path.exists():
        raw_record["full_coverage"] = True
        return scan, 1, [run_mean], [raw_record]
    try:
        old = json.loads(local_path.read_text())
    except (OSError, ValueError):
        raw_record["full_coverage"] = True
        return scan, 1, [run_mean], [raw_record]
    if old.get("sf") != sf or old.get("cpus") != cpus:
        raw_record["full_coverage"] = True
        return scan, 1, [run_mean], [raw_record]
    old_best = old.get("best") or {}
    old_mean = old.get("queries") or {}
    old_std = old.get("stds") or {}
    for name in names:
        ob = old_best.get(name)
        if (
            isinstance(ob, (int, float))
            and name in bests
            and ob < bests[name]
            and name in old_mean
        ):
            bests[name] = ob
            per_query[name] = old_mean[name]
            stds[name] = old_std.get(name, 0.0)
    carried = False
    for name, om in old_mean.items():
        if name not in per_query and name in old_best and name in known:
            per_query[name] = om
            stds[name] = old_std.get(name, 0.0)
            bests[name] = old_best[name]
            carried = True
    old_scan = old.get("scan")
    if old_scan and old_scan.get("rows_per_sec_per_core"):
        old_rate = statistics.median(
            old_scan["rows_per_sec_per_core"].values()
        )
        new_rate = (
            statistics.median(scan["rows_per_sec_per_core"].values())
            if scan and scan.get("rows_per_sec_per_core")
            else 0.0
        )
        if old_rate > new_rate:
            scan = old_scan
    # ADVICE r11: merged_runs = count of same-round FULL-COVERAGE runs
    # (the docstring's meaning); a subset rerun refines the payload but
    # doesn't inflate the full-coverage count
    runs = int(old.get("merged_runs", 1)) + (0 if carried else 1)
    means = list(old.get("run_suite_means", [old.get("value")]))
    if not carried:  # subset reruns don't contribute a comparable mean
        means.append(run_mean)
    raw_record["full_coverage"] = not carried
    history = [
        h for h in old.get("run_history", []) if isinstance(h, dict)
    ] + [raw_record]
    return (
        scan,
        runs,
        [m for m in means if isinstance(m, (int, float))],
        history,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0

    # scan section first, in an isolated JVM, before this process's
    # Spark session exists — cleanest possible measurement environment
    scan = bench_scan_subprocess() if scan_bench.scan_enabled() else None

    names = [
        n for n in os.environ.get("BENCH_QUERIES", ",".join(DEFAULT_QUERIES)).split(",")
        if n in suite.registry()
    ]
    spark = get_spark(app_name=f"bench-{Path(sf_dir).name}", master=f"local[{cpus}]")
    per_query: dict[str, float] = {}
    stds: dict[str, float] = {}
    bests: dict[str, float] = {}
    for name in names:
        r = bench_query(spark, name, sf_dir, repeats)
        per_query[name] = round(r["mean"], 4)
        stds[name] = round(r["std"], 4)
        bests[name] = round(r["best"], 4)

    round_no = next_round()
    local_path = Path(__file__).resolve().parent / f"BENCH_local_r{round_no:02d}.json"
    # same-run host-drift anchor, computed from THIS run's own scan
    # BEFORE the merge can swap in a prior run's faster scan section
    # (ADVICE r11: the tripwire's drift relief must come from the same
    # JVM/host moment as the bests it scales — a query measured only in
    # this slower-host run must not be judged with a faster run's
    # anchor): current scan rows/s/core (measured in its own clean JVM
    # before the suite ran) vs the MEDIAN prior round's — identical
    # code both sides, so any ratio > 1 is the host, not the plans
    # (median anchor per ADVICE r9)
    host_drift = 1.0
    if scan is not None and scan.get("rows_per_sec_per_core"):
        cur_rate = statistics.median(scan["rows_per_sec_per_core"].values())
        prior_rate = prior_scan_rate_anchor(round_no, sf=sf, cpus=int(cpus))
        if prior_rate and cur_rate > 0:
            host_drift = prior_rate / cur_rate
    # fold in prior same-round runs BEFORE the tripwire: the committed
    # payload and the flags are computed from the best-of-runs merge
    # (the merged scan is payload-only; host_drift stays this-run's)
    scan, merged_runs, run_suite_means, run_history = merge_best_of_runs(
        per_query, stds, bests, scan, names, local_path, sf, int(cpus)
    )
    # tripwire on per-query BEST repeats (burst-robust): a host-load
    # burst must swallow all N repeats to fake a regression, while a
    # real plan regression raises the best too
    reg_names, reg_detail = detect_regressions(
        bests,
        prior_best_per_query(round_no, sf=sf, cpus=int(cpus)),
        host_drift=host_drift,
    )
    headline = {
        "metric": "suite_mean_sec",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "repeats": repeats,
        "cpus": int(cpus),
        # automatic tripwire: queries >15% (+0.3 s floor) slower than
        # their best prior-round recording; empty = no regressions
        "regressions": reg_names,
    }
    full = dict(
        headline,
        stds=stds,
        best=bests,
        regression_detail=reg_detail,
        # the measured same-run host-speed ratio the tripwire references
        # were scaled by (1.0 = no relief; capped at MAX_DRIFT_RELIEF)
        host_drift=round(min(max(host_drift, 1.0), MAX_DRIFT_RELIEF), 3),
        # best-of-runs bookkeeping: how many same-round FULL-COVERAGE
        # runs merged into this payload, each such run's own suite
        # mean, and every contributing run's raw per-query table
        # (VERDICT r11 item 4: keeps single-run-vs-single-run deltas
        # computable alongside the best-of-merge)
        merged_runs=merged_runs,
        run_suite_means=run_suite_means,
        run_history=run_history,
    )
    if scan is not None:
        full["scan"] = scan
        # headline per-core scan throughput: median across the six
        # scan-bound reference shapes (rows/s/core, machine-comparable)
        headline["rows_per_sec_per_core"] = full["rows_per_sec_per_core"] = round(
            statistics.median(scan["rows_per_sec_per_core"].values()), 1
        )
        # the scan walls are the BASELINE.md-comparable numbers (same
        # 1.1 B row count as the reference's benchmark at the default
        # factor) — surface them compactly in the headline
        headline["scan_rows"] = scan["rows"]
        headline["scan_best_sec"] = scan["query_best_sec"]

    persist_payload(local_path, full)
    # compact headline LAST on stdout — must fit the driver's tail buffer
    print(json.dumps(headline))


def persist_payload(local_path: Path, full: dict) -> bool:
    """Write the full payload to ``BENCH_local_r{N}.json`` — unless
    BENCH_MERGE=0, which marks a scratch/solo re-measure that must
    NEVER overwrite the round's committed best-of-runs payload with an
    unmerged (often subset) run: a r12 smoke run with BENCH_MERGE=0
    clobbered the 4-run payload and the next full run merged against
    the wreckage.  Returns True iff the file was written (the guard is
    a function so tests/test_bench_regressions.py can pin it —
    VERDICT r12 item 8)."""
    if os.environ.get("BENCH_MERGE", "1") == "0":
        print(
            f"BENCH_MERGE=0: scratch run, {local_path.name} NOT written",
            file=sys.stderr,
        )
        return False
    local_path.write_text(json.dumps(full, indent=2) + "\n")
    print(f"full payload -> {local_path.name}", file=sys.stderr)
    return True


if __name__ == "__main__":
    main()
