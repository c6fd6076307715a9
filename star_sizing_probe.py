#!/usr/bin/env python
"""Live evidence for the star-CC per-round shuffle sizing
(VERDICT r9 item 3).

``connected_components_star`` sizes each round's group/join exchanges
from the fixpoint fingerprint's exact edge count
(``operators/dedup.py`` round loop; ``partitioning.
sized_partitions_for_rows(2*n_edges, STAR_BYTES_PER_EDGE)``, 48 B).  The control engages
only past ~45 M edges at 32 cores x 128 MB — a code path the salted
document probes (~1.3 M docs, edge counts under the 200 k local-finish
bound) can never reach.  This harness builds SYNTHETIC graphs past the
engage threshold and measures the sized rounds against a forced
32-partition control, capturing executor CPU / shuffle / spill deltas
per arm via the status API (same methodology as corpus_scale_bench).

Graph: a deterministic pseudo-random multigraph — edge i connects
``xxhash64(i) % N`` to ``xxhash64(i + E) % N`` with N = E/2 (average
degree ~4, supercritical, one giant component plus fringe), generated
as one ``spark.range`` projection; ``_canonical_edges`` dedups it.
This is the adversarial shape for the round machinery: the edge list
stays large for several rounds before the geometric contraction wins.

Arms (env STAR_EDGES, default "25000000,100000000"): 25 M sits BELOW
the engage threshold (sizing returns None, plans identical to the
control — a built-in A/A guard), 100 M sits ABOVE it (derived width
~75 at round 1).  Each arm runs sized and control in the SAME session,
alternating, min-of-k walls (STAR_REPEATS, default 2) — the
within-session A/B discipline from BENCH_NOTES round 8/9.

Output: SCALING_CPU_r{N}_starcc.json + a markdown table on stdout for
BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from corpus_scale_bench import round_no, stage_totals
from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.operators import dedup
from nyc_taxi_data_clickhouse_spark.session import get_spark


def synthetic_edges(spark, n_edges: int):
    n_nodes = max(2, n_edges // 2)
    return spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("id_a"),
        F.pmod(F.xxhash64(F.col("id") + n_edges), F.lit(n_nodes)).alias(
            "id_b"
        ),
    )


def main() -> None:
    arms = [
        int(x)
        for x in os.environ.get("STAR_EDGES", "25000000,100000000").split(",")
    ]
    repeats = int(os.environ.get("STAR_REPEATS", "2"))
    # STAR_VARIANTS: run a subset (e.g. just "sized") — one fresh JVM
    # per variant avoids localCheckpoint blocks from prior runs
    # accumulating toward heap exhaustion on big arms (the r10 100M
    # probe OOM'd on its 4th consecutive in-JVM run), and makes the
    # A/B symmetric under JVM warmup instead of order-confounded
    variants = tuple(
        os.environ.get("STAR_VARIANTS", "sized,control").split(",")
    )
    out_suffix = os.environ.get("STAR_OUT_SUFFIX", "")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="star-sizing-probe",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # one untimed warmup so the first timed arm doesn't pay JVM/codegen
    # cold start (BENCH_NOTES: cold-vs-warm JIT is a 2x effect on
    # iterative many-stage ops)
    dedup.connected_components_star(
        synthetic_edges(spark, 2_000_000)
    ).write.format("noop").mode("overwrite").save()

    orig_sizer = partitioning.sized_partitions_for_rows
    derived_log: list[int | None] = []

    def recording_sizer(n_rows, bytes_per_row, sp):
        n = orig_sizer(n_rows, bytes_per_row, sp)
        derived_log.append(n)
        return n

    results: dict[str, dict] = {}
    for n_edges in arms:
        pairs = synthetic_edges(spark, n_edges)
        arm: dict[str, dict] = {}
        # alternate sized/control within the same session, min-of-k
        walls = {"sized": [], "control": []}
        metrics = {}
        widths = {}
        failed: dict[str, dict] = {}
        for i in range(repeats):
            if failed:
                break  # the JVM is unusable after a failure — don't
                # retry remaining repeats/variants against a dead session
            for variant in variants:
                derived_log.clear()
                partitioning.sized_partitions_for_rows = (
                    recording_sizer
                    if variant == "sized"
                    else (lambda *a, **kw: None)
                )
                try:
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    m0 = stage_totals(spark)
                    t0 = time.perf_counter()
                    dedup.connected_components_star(pairs).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    wall = time.perf_counter() - t0
                    m1 = stage_totals(spark)
                except Exception as exc:  # heap-capped arms (VERDICT r10
                    # item 3): an executor OOM in local mode kills the
                    # JVM — record the failure as a MEASURED outcome
                    # instead of crashing the probe, then stop (the
                    # session is unusable after an OOM).
                    failed[variant] = {
                        "outcome": "failed",
                        "wall_sec_at_failure": round(
                            time.perf_counter() - t0, 1
                        ),
                        "error": repr(exc)[:400],
                    }
                    print(
                        f"edges={n_edges} {variant} run{i}: FAILED after "
                        f"{failed[variant]['wall_sec_at_failure']}s: "
                        f"{failed[variant]['error'][:160]}",
                        file=sys.stderr,
                    )
                    partitioning.sized_partitions_for_rows = orig_sizer
                    break
                finally:
                    partitioning.sized_partitions_for_rows = orig_sizer
                delta = [b - a for a, b in zip(m0, m1)]
                if any(d < 0 for d in delta):
                    raise RuntimeError(f"negative stage delta {delta}")
                walls[variant].append(wall)
                if (
                    variant not in metrics
                    or wall < min(walls[variant][:-1] + [float("inf")])
                ):
                    metrics[variant] = delta
                if variant == "sized":
                    widths["per_round"] = list(derived_log)
                print(
                    f"edges={n_edges} {variant} run{i}: wall {wall:.1f}s "
                    f"cpu {delta[0]:.0f} shuffle {delta[1]:.2f}GB "
                    f"spill {delta[2]:.2f}GB widths={derived_log}",
                    file=sys.stderr,
                )
        for variant in variants:
            if variant in failed:
                arm[variant] = failed[variant]
                continue
            if variant not in metrics:
                # never reached: another variant failed first and the
                # session died before this one's turn — record that
                # explicitly instead of KeyError-ing the summary
                arm[variant] = {"outcome": "not_attempted_after_failure"}
                continue
            d = metrics[variant]
            arm[variant] = {
                "wall_best_sec": round(min(walls[variant]), 2),
                "cpu_core_sec": round(d[0], 1),
                "gc_core_sec": round(d[3], 1),
                "shuffle_gb": round(d[1], 3),
                "spill_gb": round(d[2], 3),
            }
        if "sized" in arm and "sized" not in failed:
            arm["sized"]["round_widths"] = widths.get("per_round", [])
        results[str(n_edges)] = arm
        if failed:
            break  # JVM state is suspect after a failure; stop the probe

    payload = {
        "op": "connected_components_star (synthetic pseudo-random graph)",
        "cpus": int(cpus),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "repeats": repeats,
        "arms": results,
    }
    out = Path(__file__).resolve().parent / (
        f"SCALING_CPU_r{round_no():02d}_starcc{out_suffix}.json"
    )
    out.write_text(json.dumps(payload, indent=2) + "\n")
    print(f"payload -> {out.name}", file=sys.stderr)
    print("| edges | variant | wall s | cpu core-s | shuffle GB | spill GB | widths |")
    print("|---|---|---|---|---|---|---|")
    for e, arm in results.items():
        for variant in variants:
            r = arm.get(variant)
            if r is None:
                continue
            if "wall_best_sec" not in r:
                status = (
                    f"FAILED @ {r['wall_sec_at_failure']}s"
                    if r.get("outcome") == "failed"
                    else r.get("outcome", "?")
                )
                print(f"| {e} | {variant} | {status} | - | - | - | - |")
                continue
            w = r.get("round_widths", "")
            print(
                f"| {e} | {variant} | {r['wall_best_sec']} | "
                f"{r['cpu_core_sec']} | {r['shuffle_gb']} | "
                f"{r['spill_gb']} | {w} |"
            )


if __name__ == "__main__":
    main()
