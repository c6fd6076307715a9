#!/usr/bin/env python
"""Scaling curves for the LLM-pipeline operators (VERDICT r4 item 1).

The correctness corpus is tiny (sf0.1 documents = 5k rows / 1.5 MB), so
— exactly like scan_bench.py replicated lineitem to the reference's
1.1 B rows — this harness replicates documents/embeddings by factors
(default 1/4/16/64) and times the headline dedup/ANN/corpus operators
at each size, then fits the log-log slope of time vs rows.  A slope
near 1.0 = linear = "survives 100×"; the slope between the two LARGEST
factors (marginal slope) is reported too, because the Spark job floor
(~0.3-0.5 s of scheduling/codegen per query) flattens the small-factor
points and would otherwise understate the asymptotic trend.

Replication modes — the semantics of each operator dictate how scaled
data must be constructed, or the curve measures the data, not the op:

- ``verbatim`` (corpus-statistics ops: line dedup, co-occurrence, BM25,
  bigram LM): exact copies under fresh doc_ids.  Token/df distributions
  scale proportionally, so per-doc work is constant and the honest
  expectation is linear.
- ``salted`` (near-dup ops: Jaccard, MinHash-LSH, SimHash, connected
  components): every token gets a per-replica suffix, making replicas'
  shingle spaces DISJOINT.  Within a replica the original similarity
  structure is preserved exactly; across replicas there are no shared
  shingles.  The corpus therefore behaves as r independent corpora —
  constant duplicate RATE, which is how real corpora grow.  Verbatim
  copies would instead put r identical docs in every LSH bucket and
  measure an O(r²) pair explosion that is a property of the fabricated
  data, not of the bucketed algorithms.
- ``embeddings`` (ANN ops): replicate vectors under fresh vec_ids with
  a small deterministic per-replica perturbation so no two vectors are
  byte-identical.

Each point also records the timed run's executor time, GC, shuffle
write and spill, read from Spark's status store for the run's job
group, and the sweep fits CPU-based slopes from them: the round-7 x128
probe showed single-box WALL slopes saturate under host drift and
cold/warm JIT, while CPU and byte slopes stay clean.

Output: per-op points + fitted slopes as JSON to ``SCALING_r{N}.json``
(round from ``bench.next_round``) and a markdown table on stdout for
BENCH_NOTES.md.

Env: SCALE_FACTORS (default "1,4,16,64"), SCALE_OPS (comma override),
SCALE_BASE (default /root/testdata/sf0.1), SCALE_REPEATS (default 1,
min-of-k if >1), SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from bench import next_round
from nyc_taxi_data_clickhouse_spark import metrics, suite
from nyc_taxi_data_clickhouse_spark.session import get_spark
from nyc_taxi_data_clickhouse_spark.schema import TESTDATA_TABLES

CACHE = Path(__file__).resolve().parent / ".scale_cache"

#: op -> replication mode; the mode decides which documents.parquet the
#: factor directory exposes to the op's unchanged (spark, sf_dir) call.
OPS = {
    "dedup_ngram_jaccard": "salted",
    "dedup_minhash_lsh": "salted",
    "dedup_simhash": "salted",
    "near_dup_components_star": "salted",
    "line_dedup_corpus": "verbatim",
    "term_cooccurrence": "verbatim",
    "text_bm25_topk": "verbatim",
    "bigram_surprisal": "verbatim",
    # verbatim makes EVERY gram corpus-duplicated — the op's worst case
    # (join-back carries all positions), which is the honest upper
    # bound for the curve
    "substring_dup_fraction": "verbatim",
    # the production form (xxhash64 gram keys, 8x narrower shuffle) —
    # measured alongside so the raw-string entry's slope has its
    # plan-fix twin on the same axes; a first-class registry entry
    # since round 7
    "substring_dup_fraction_hashed": "verbatim",
    # ANN ops scale on the replicated embeddings table, not documents
    "ann_topk_cosine": "embeddings",
    "ann_ivf_topk": "embeddings",
    # map-only curation (r10): the expected curve is exactly linear —
    # any super-linearity would mean the scrub stopped being map-only
    "pii_scrub_documents": "verbatim",
    # GOP-anchored inter-frame decode (r11): media is synthesized from
    # doc_ids, so verbatim replication (fresh unique ids) scales the
    # stream count; map-only mapInPandas, expected exactly linear —
    # the GOP prefix walk is per-stream work, independent of corpus size
    "multimodal_mpeg1_pframe": "verbatim",
    # bidirectional decode (r12): same shape as pframe — per-stream
    # anchor-chain work, B-pictures decoded only when sampled
    "multimodal_mpeg1_bframe": "verbatim",
    # selection family (VERDICT r11 item 5): the histogram / per-
    # (domain,bucket) CDF / per-domain rate paths must stay one-pass
    # with tiny side tables — expected linear, zero spill.  Verbatim
    # replication keeps the domain set fixed while docs-per-domain
    # grows, the honest axis for per-domain aggregation cost.
    "token_budget_selection": "verbatim",
    "quality_percentile_by_domain": "verbatim",
    "domain_mix_temperature": "verbatim",
    # graph family (r12): scales on replicated EVENTS — each replica
    # shifts user_ids into a fresh span (user count grows linearly)
    # while the 100-item side is SHARED, so item in-degree grows with
    # the factor — the hub-skew axis the degree-ordered/agg designs
    # must absorb.  PageRank is O(iters * edges): expected linear.
    # Triangle counting on the bounded-degree social ring is linear in
    # edges by the arboricity bound.
    "graph_pagerank": "events",
    "graph_triangle_count": "events",
    # r13 (VERDICT r12 item 2): same iterative-join family and the
    # same skewed-hub axis — the per-node argmin must stay inside the
    # hash agg (min(struct)) however large the hub neighborhoods get;
    # expected linear in edges, zero spill
    "graph_label_propagation": "events",
    # r13: both reduce the corpus to one hash agg (term/word counts);
    # everything downstream is vocabulary-scale.  Verbatim replication
    # grows corpus token count linearly while the vocab stays fixed —
    # expected: linear CPU in the first agg, flat downstream, zero spill
    "countmin_heavy_hitters": "verbatim",
    "bpe_pair_merge": "verbatim",
    # r13: exact order-stats family — the last heavy headline family
    # without a decade probe.  Lineitem replication keeps VALUES
    # verbatim (answers factor-invariant) while per-group value counts
    # grow linearly: exactly the axis where the builtin value-buffering
    # percentile OOMs and the bracket path claims bounded memory.
    # Expected: linear CPU, zero spill, flat small shuffles (the
    # bracket's per-group scalars never grow with the factor).
    "exact_median_bracket": "lineitem",
    "mad_outliers": "lineitem",
    # r15 (VERDICT r14 item 1): the two-phase distributed prefix sum
    # replacing the corpus-wide unpartitioned running-sum window.
    # Verbatim replication grows the doc count linearly under fresh
    # doc_ids — exactly the axis the old single-task window funneled;
    # expected: linear wall/CPU, zero spill, shard window state
    # bounded by corpus_bytes/n_shards.
    "token_budget_packing": "verbatim",
}


def _replicate_docs(spark, base: str, out: Path, factor: int, salted: bool):
    docs = spark.read.parquet(f"{base}/documents.parquet")
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    rep_docs = docs.crossJoin(reps)
    if salted:
        text = F.array_join(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda t: F.concat(t, F.lit("_"), F.col("rep")),
            ),
            " ",
        )
    else:
        text = F.col("text")
    (
        rep_docs.select(
            (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            F.length(text).alias("n_chars"),
        )
        .repartition(max(4, factor))
        .write.mode("overwrite")
        .parquet(str(out))
    )


def _replicate_embeddings(spark, base: str, out: Path, factor: int):
    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") * factor + F.col("rep")).alias("vec_id"),
            # Per-replica perturbation, RELATIVE at large magnitudes
            # (ADVICE r8): a flat rep*1e-6 step is below float32 eps for
            # components with |x| >= ~8, so consecutive reps could
            # collapse per-component there.  rep * max(1e-6, |x|*1e-6)
            # keeps every step >= ~8 ulps of the component at all
            # magnitudes (float32 ulp(x) ~ |x|*1.19e-7), so per-component
            # distinctness survives the cast; rep 0 stays the
            # byte-identical original.  The previous (rep % 7) * 1e-3
            # left every rep ≡ 0 (mod 7) identical at factors > 7.
            F.transform(
                F.col("embedding"),
                lambda x: (
                    x
                    + F.col("rep")
                    * F.greatest(F.lit(1e-6), F.abs(x) * F.lit(1e-6))
                ).cast("float"),
            ).alias("embedding"),
            "label",
        )
        .repartition(max(4, factor))
        .write.mode("overwrite")
        .parquet(str(out))
    )


def _replicate_events(spark, base: str, out: Path, factor: int):
    """Replicated events for the graph ops: every replica's users move
    to a fresh id span (user side grows linearly — r independent user
    populations) while props.k is kept VERBATIM, so the 100 items act
    as shared hubs whose in-degree grows with the factor — the skew
    axis a graph op must absorb at scale.  event_ids stay distinct so
    the social-ring derivation keeps its per-user degree bound."""
    from nyc_taxi_data_clickhouse_spark.suite import load_events

    ev = load_events(spark, base)
    span = ev.agg(F.max("user_id") + 1).first()[0]
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") * factor + F.col("rep")).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(span)).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(max(4, factor))
        .write.mode("overwrite")
        .parquet(str(out))
    )


def _replicate_lineitem(spark, base: str, out: Path, factor: int):
    """Replicated lineitem for the exact order-stats family: values
    are kept VERBATIM so per-group medians/MADs are factor-invariant
    (the oracle-checked answers never change) while every group's VALUE
    COUNT grows linearly — exactly the axis on which Spark's builtin
    value-buffering percentile OOMs and the bracket path claims
    bounded memory.  Keys are re-spanned so row identity stays unique;
    all 16 columns are written (column pruning means the ops read only
    2 — the replica doesn't cheat the scan)."""
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    span = li.agg(F.max("l_orderkey") + 1).first()[0]
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    (
        li.crossJoin(reps)
        .select(
            (F.col("l_orderkey") + F.col("rep") * F.lit(span)).alias("l_orderkey"),
            *[c for c in li.columns if c != "l_orderkey"],
        )
        .repartition(max(4, factor))
        .write.mode("overwrite")
        .parquet(str(out))
    )


def materialize(spark, base: str, factor: int) -> dict[str, str]:
    """Build (or reuse) the factor's data dirs; returns mode -> sf_dir.
    Each sf_dir exposes the replicated table plus symlinks to every
    other base table so any op's load_table calls resolve."""
    dirs = {}
    for mode in ("verbatim", "salted", "embeddings", "events", "lineitem"):
        root = CACHE / f"x{factor}" / mode
        marker = root / "_DONE"
        if not marker.exists():
            root.mkdir(parents=True, exist_ok=True)
            if mode == "embeddings":
                _replicate_embeddings(
                    spark, base, root / "embeddings.parquet", factor
                )
            elif mode == "events":
                _replicate_events(
                    spark, base, root / "events.parquet", factor
                )
            elif mode == "lineitem":
                _replicate_lineitem(
                    spark, base, root / "lineitem.parquet", factor
                )
            else:
                _replicate_docs(
                    spark, base, root / "documents.parquet",
                    factor, salted=(mode == "salted"),
                )
            for t in TESTDATA_TABLES:
                link = root / f"{t}.parquet"
                if not link.exists():
                    os.symlink(f"{base}/{t}.parquet", link)
            marker.touch()
        dirs[mode] = str(root)
    return dirs


def fit_slope(points: list[tuple[int, float]]) -> float:
    """Least-squares slope of log(sec) vs log(rows-factor)."""
    if len(points) < 2:
        return float("nan")
    xs = [math.log(f) for f, _ in points]
    ys = [math.log(s) for _, s in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    base = os.environ.get("SCALE_BASE", "/root/testdata/sf0.1")
    factors = [
        int(x) for x in os.environ.get("SCALE_FACTORS", "1,4,16,64").split(",")
    ]
    repeats = int(os.environ.get("SCALE_REPEATS", "1"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    ops = {
        k: v
        for k, v in OPS.items()
        if k in os.environ.get("SCALE_OPS", ",".join(OPS)).split(",")
    }
    # SCALE_MODE: replication-mode override for every op in this sweep —
    # for probing an op on an axis its default mode deliberately avoids
    # (e.g. countmin on `salted` grows the VOCABULARY linearly, the axis
    # that punishes any vocabulary-scale single-task stage, where its
    # default `verbatim` keeps the vocab fixed; VERDICT r13 item 2)
    mode_override = os.environ.get("SCALE_MODE")
    if mode_override:
        ops = {k: mode_override for k in ops}

    # the status store keeps 1000 stages by default, too few for a
    # multi-factor sweep: a run's stages must still be there when read
    extra_conf = {
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
    }
    # SCALE_CODEC: shuffle/spill codec A/B hook (VERDICT r15 item 3) —
    # the decade probes are the only place this repo's shuffles reach
    # GBs, so spark.io.compression.codec is A/B-able here and nowhere
    # else (at sf0.1 shuffle volumes are MBs and a codec delta is noise)
    codec = os.environ.get("SCALE_CODEC")
    if codec:
        extra_conf["spark.io.compression.codec"] = codec
    spark = get_spark(
        app_name="corpus-scale-bench",
        master=f"local[{cpus}]",
        extra_conf=extra_conf,
    )
    reg = suite.registry()

    from nyc_taxi_data_clickhouse_spark.suite import load_events

    base_rows = {
        "doc": spark.read.parquet(f"{base}/documents.parquet").count(),
        "emb": spark.read.parquet(f"{base}/embeddings.parquet").count(),
        "ev": load_events(spark, base).count(),
        "li": spark.read.parquet(f"{base}/lineitem.parquet").count(),
    }

    dirs_by_factor = {f: materialize(spark, base, f) for f in factors}

    results: dict[str, dict] = {}
    for name, mode in ops.items():
        run_fn = reg[name].spark
        pts: list[tuple[int, float]] = []
        detail = {}
        cpu_pts: list[tuple[int, float]] = []
        for f in factors:
            sf_dir = dirs_by_factor[f][mode]
            times = []
            # one untimed warmup at the smallest factor only: catches
            # JVM/codegen warm-up without doubling the big-factor cost
            runs = repeats + (1 if f == factors[0] else 0)
            run_metrics = []  # (elapsed, the run's stage totals)
            for i in range(runs):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                group = f"scale:{name}:x{f}:{i}"
                t0 = time.perf_counter()
                with metrics.job_group(spark, group):
                    run_fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                elapsed = time.perf_counter() - t0
                if not (f == factors[0] and i == 0):
                    times.append(elapsed)
                    run_metrics.append(
                        (elapsed, metrics.group_totals(spark, [group]))
                    )
            sec = min(times)
            pts.append((f, sec))
            nrows = (
                base_rows[
                    {"embeddings": "emb", "events": "ev",
                     "lineitem": "li"}.get(mode, "doc")
                ]
                * f
            )
            detail[str(f)] = {"rows": nrows, "sec": round(sec, 3)}
            # the MIN-wall run's totals, so cpu/shuffle/spill describe the
            # same execution as `sec` (a cold first repeat would otherwise
            # inflate a cross-run mean past cores x wall — observed in the
            # first r7 capture)
            d = min(run_metrics, key=lambda r: r[0])[1]
            detail[str(f)].update(
                cpu_core_sec=round(d["executor_run_s"], 1),
                gc_core_sec=round(d["gc_s"], 1),
                shuffle_gb=round(d["shuffle_write_bytes"] / 1e9, 3),
                spill_gb=round(d["spill_bytes"] / 1e9, 3),
            )
            # GC-excluded executor time is the algorithmic-work signal
            cpu_pts.append((f, max(d["executor_run_s"] - d["gc_s"], 1e-9)))
            print(f"{name} x{f}: {sec:.2f}s", file=sys.stderr)
        slope = fit_slope(pts)
        marginal = fit_slope(pts[-2:])
        results[name] = {
            "mode": mode,
            "points": detail,
            "slope_loglog": round(slope, 3),
            "marginal_slope": round(marginal, 3),
        }
        results[name]["cpu_slope_loglog"] = round(fit_slope(cpu_pts), 3)
        results[name]["cpu_marginal_slope"] = round(fit_slope(cpu_pts[-2:]), 3)

    payload = {
        "base": base,
        "factors": factors,
        "repeats": repeats,
        "cpus": int(cpus),
        "base_rows": base_rows,
        "ops": results,
    }
    if codec:
        payload["io_compression_codec"] = codec
    out = Path(
        os.environ.get("SCALE_OUT")
        or Path(__file__).resolve().parent / f"SCALING_r{next_round():02d}.json"
    )
    out.write_text(json.dumps(payload, indent=2) + "\n")
    print(f"payload -> {out.name}", file=sys.stderr)

    # markdown table for BENCH_NOTES.md
    hdr = " | ".join(f"x{f}" for f in factors)
    print(f"| op | mode | {hdr} | slope | marginal |")
    print("|---|---|" + "---|" * (len(factors) + 2))
    for name, r in results.items():
        cells = " | ".join(
            f"{r['points'][str(f)]['sec']:.2f}" for f in factors
        )
        print(
            f"| {name} | {r['mode']} | {cells} | "
            f"{r['slope_loglog']:.2f} | {r['marginal_slope']:.2f} |"
        )


if __name__ == "__main__":
    main()
