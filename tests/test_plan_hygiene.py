"""Global physical-plan invariants over the whole suite registry.

Two things must never appear in any entry's plan, at any scale:

- ``CartesianProduct`` — an unkeyed cross product is quadratic in
  input size; every candidate-pair operator here is designed around an
  equi-joinable key (shingle hash, LSH band, IVF cell) precisely to
  avoid it.  BroadcastNestedLoopJoin is allowed: the range/theta joins
  use it deliberately with a broadcast-small side.
- ``BatchEvalPython`` — the row-at-a-time Python UDF evaluator
  (SURVEY §2.10: the reference's trans.py shape).  All Python in this
  engine crosses the boundary via Arrow (``ArrowEvalPython`` /
  ``FlatMapGroupsInPandas`` / ``MapInPandas``), which is the
  sanctioned slow path.

Streaming-backed entries execute a query to produce their result
DataFrame, so they are planned here at the smallest scale factor.
"""

from __future__ import annotations

import pytest

from nyc_taxi_data_clickhouse_spark import suite
from tests.conftest import SF_SMOKE

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# ---------------------------------------------------------------------------
# Unpartitioned-window lint (VERDICT r14 item 6).  A Window.orderBy
# without partitionBy funnels its whole input through ONE task — the
# r13 countmin and r14 token_budget_packing findings were this same
# bug class found manually twice; this makes it mechanical.  An entry
# may plan an unpartitioned window ONLY when (a) it is allowlisted
# below with a justification AND (b) the window's input subtree
# contains a row-REDUCING node (aggregate / top-k limit), i.e. the
# window runs over group-cardinality or k-survivor rows, never the
# corpus.  Reverting a prefix-sum reshape (packing) or a top-k reshape
# (countmin) removes the reducing node and fails (b) even though the
# entry stays allowlisted.
# ---------------------------------------------------------------------------

UNPARTITIONED_WINDOW_OK = {
    "bpe_pair_merge": "rank over the k=20 TakeOrderedAndProject survivors",
    "countmin_heavy_hitters": "rank over the k TakeOrderedAndProject survivors",
    "domain_mix_temperature": "tiny CDF over the per-domain aggregate "
    "(domain-cardinality rows)",
    "moving_average": "7-day calendar frame over the per-day aggregate "
    "(O(days) rows)",
    "token_budget_packing": "cumulative shard offsets over the per-shard "
    "totals (n_shards rows, bounded by the shuffle width)",
    "token_budget_selection": "histogram CDF over the bounded bucket "
    "aggregate",
    "weighted_sample_topk": "rank over the k TakeOrderedAndProject "
    "survivors",
    "windowed_distinct_users": "trailing-7-day RANGE frame over the "
    "day-grain distinct aggregate (O(days) rows)",
}

_WINDOW_NODES = ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec")
_REDUCING_NODES = (
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "CollectLimitExec",
    "LocalLimitExec",
)


def _plan_children(node):
    """Physical-plan children, descending through the two opaque
    wrappers: AQE's leaf wrapper and cached-relation scans (so a
    corpus-scale window can't hide behind a persist)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.initialPlan()]
    out = []
    if cls == "InMemoryTableScanExec":
        out.append(node.relation().cachedPlan())
    ch = node.children()
    for i in range(ch.length()):
        out.append(ch.apply(i))
    return out


def _unpartitioned_windows(df):
    """(window_class, input_is_reduced) for every unpartitioned window
    node in the executed plan."""
    found = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kids = _plan_children(node)
        cls = node.getClass().getSimpleName()
        if cls in _WINDOW_NODES and node.partitionSpec().isEmpty():
            sub = list(kids)
            reduced = False
            while sub:
                k = sub.pop()
                if k.getClass().getSimpleName() in _REDUCING_NODES:
                    reduced = True
                    break
                sub.extend(_plan_children(k))
            found.append((cls, reduced))
        stack.extend(kids)
    return found


def _cases():
    return sorted(suite.registry().items())


@pytest.mark.parametrize("name,spec", _cases(), ids=[n for n, _ in _cases()])
def test_plan_invariants(spark, name, spec):
    """Forbidden physical operators + the unpartitioned-window lint,
    one plan build per entry."""
    df = spec.spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in FORBIDDEN:
        assert op not in plan, f"{name} plans {op}:\n{plan[:1500]}"
    windows = _unpartitioned_windows(df)
    if not windows:
        return
    assert name in UNPARTITIONED_WINDOW_OK, (
        f"{name} plans an unpartitioned window ({windows}) and is not "
        f"allowlisted — partition it, reshape to a two-phase prefix "
        f"sum (token_budget_packing pattern), or reduce to top-k first "
        f"(countmin pattern); allowlist only bounded-input windows"
    )
    for cls, reduced in windows:
        assert reduced, (
            f"{name}: allowlisted as '{UNPARTITIONED_WINDOW_OK[name]}' "
            f"but its unpartitioned {cls} has NO row-reducing node "
            f"below it — the window input is corpus-scale; the "
            f"allowlist covers bounded windows only"
        )


# ---------------------------------------------------------------------------
# Broadcast-gate PHYSICAL plan shape (VERDICT r7 item 6).  The r6/r7
# rounds pinned the gate's logical hint and its result exactness
# (tests/test_stats.py); this pins the executed plan on BOTH sides of
# BROADCAST_GROUP_BOUND so a refactor can't silently regress either the
# small-group broadcast fast path or the high-cardinality shuffle
# fallback.  `default` exercises the guard job; `asserted` the caller's
# explicit broadcast_stats contract (stats.py mad_outliers path).
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("op_kind", ["median", "quantiles"])
@pytest.mark.parametrize("mode", ["default", "asserted"])
def test_broadcast_gate_plan_shape(spark, monkeypatch, op_kind, mode):
    import nyc_taxi_data_clickhouse_spark.operators.stats as stats_mod
    from nyc_taxi_data_clickhouse_spark import partitioning

    monkeypatch.setattr(partitioning, "BROADCAST_GROUP_BOUND", 10)
    # Disable SIZE-based broadcasts (static + AQE) so the only possible
    # BroadcastHashJoin source is the gate's HINT — otherwise the
    # planner, seeing the guard-persisted stats' accurate tiny size,
    # legitimately size-broadcasts even "above the bound" (that
    # size-based path is safe and wanted in production; here it would
    # mask a hint regression, which is what this test pins).
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        _run_broadcast_gate_case(spark, stats_mod, op_kind, mode)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def _run_broadcast_gate_case(spark, stats_mod, op_kind, mode):

    def build(df, broadcast_stats):
        if op_kind == "median":
            return stats_mod.exact_group_median(
                df, "grp", "x", broadcast_stats=broadcast_stats
            )
        return stats_mod.exact_group_quantiles(
            df, "grp", "x", [0.25, 0.75], broadcast_stats=broadcast_stats
        )

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = spark.createDataFrame(
        [(g, float(v)) for g in range(3) for v in range(20)], ["grp", "x"]
    )
    big = spark.createDataFrame(
        [(g, float(v)) for g in range(40) for v in range(9)], ["grp", "x"]
    )

    below = physical(build(small, None if mode == "default" else True))
    assert "BroadcastHashJoin" in below, below[:1500]

    # above the bound: asserted mode has no honest "force shuffle"
    # analogue other than False — the guard is what default mode tests
    above = build(big, None if mode == "default" else False)
    plan = physical(above)
    assert "BroadcastHashJoin" not in plan, plan[:1500]
    assert "BroadcastExchange" not in plan, plan[:1500]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]


# ---------------------------------------------------------------------------
# Broadcast gate on the round-10 selection ops (VERDICT r10 item 2):
# the per-(domain, bucket) CDF and per-domain rate tables are unbounded
# on a real crawl, so their join-back broadcast must be the same
# count-gated guard as the order-statistics side tables — hint present
# under the bound, gone above it (shuffle-join fallback), results
# byte-identical either way.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("op_name", ["quality_percentile_by_domain",
                                     "domain_mix_temperature"])
def test_selection_broadcast_gate_plan_shape(spark, monkeypatch, op_name):
    from nyc_taxi_data_clickhouse_spark import partitioning
    from nyc_taxi_data_clickhouse_spark.operators.corpus_ops import (
        domain_mix_temperature,
    )
    from nyc_taxi_data_clickhouse_spark.operators.selection import (
        quality_percentile_by_domain,
    )

    op = {
        "quality_percentile_by_domain": quality_percentile_by_domain,
        "domain_mix_temperature": domain_mix_temperature,
    }[op_name]

    def physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # isolate the HINT from size-based broadcasts (the side tables are
    # tiny at SF_SMOKE, so the planner would otherwise size-broadcast
    # them even with the hint gated off — that path is safe and wanted
    # in production; here it would mask a hint regression)
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        below = physical(op(spark, SF_SMOKE, broadcast_side=True))
        assert "BroadcastHashJoin" in below, below[:1500]

        # force the guard over the bound: every non-empty side table
        # exceeds a zero bound, so default mode must fall back
        monkeypatch.setattr(partitioning, "BROADCAST_GROUP_BOUND", 0)
        above = op(spark, SF_SMOKE, broadcast_side=None)
        plan = physical(above)
        assert "BroadcastHashJoin" not in plan, plan[:1500]
        assert "BroadcastExchange" not in plan, plan[:1500]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]

        # the gate must be plan-only: both sides byte-identical
        forced = op(spark, SF_SMOKE, broadcast_side=True)
        assert sorted(map(tuple, above.collect())) == sorted(
            map(tuple, forced.collect())
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


# ---------------------------------------------------------------------------
# Map-only invariant for the media decode entries (r11, sharpened r13):
# payload bytes never leave the partition they are BORN in.  The only
# Exchange allowed is the id-only round-robin BELOW the synth stage
# (the CPU-parallelism guard — partitioning.cpu_map_min_partitions —
# that keeps a one-row-group id projection from serializing the codec
# tier on one core).  executedPlan().toString() prints root-first, so
# everything carrying payloads sits ABOVE the last (deepest)
# MapInPandas; an Exchange in that region means media started
# shuffling, which is the scale property these operators exist to
# avoid.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("entry", [
    "multimodal_mpeg1_iframe",
    "multimodal_mpeg1_pframe",
    "multimodal_mpeg1_bframe",
    "multimodal_video_frames",
    "multimodal_y4m_video",
    "multimodal_audio_mulaw",
])
def test_media_decode_plans_are_shuffle_free(spark, entry):
    df = suite.registry()[entry].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:1500]
    payload_region = plan[: plan.rindex("MapInPandas")]
    assert "Exchange" not in payload_region, plan[:1500]
    id_region = plan[plan.rindex("MapInPandas"):]
    assert "BroadcastExchange" not in id_region, plan[:1500]


def test_quality_rule_filter_plan_is_map_only(spark):
    """The rule filter claims one pass / zero shuffle / zero UDF: the
    physical plan must be a pure scan+project pipeline — no Exchange,
    no Python evaluation."""
    df = suite.registry()["quality_rule_filter"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_minhash_shingle_table_cached_once(spark):
    """minhash_lsh_pairs derives the signature aggregate, the df-cap
    anti-join build side, and BOTH exact-verify join sides from ONE
    persisted shingle table (BENCH_NOTES r14: the bare three-way
    re-derivation re-executed the corpus tokenize->shingle->explode
    subtree per reference).  Pin (a) the cache engages — the executed
    plan reads the shingle projection through InMemoryTableScan at
    least three times — and (b) growth is bounded: rebuilding the same
    plan reuses the one `minhash_sh:` slot instead of stacking copies."""
    from nyc_taxi_data_clickhouse_spark import scratch

    def slots():
        return [k for k in scratch._last_persisted if k.startswith("minhash_sh:")]

    before = len(slots())
    df = suite.registry()["dedup_minhash_lsh"].spark(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    assert len(slots()) <= before + 1
    # same input plan -> same semantic-hash label -> same single slot
    suite.registry()["dedup_minhash_lsh"].spark(spark, SF_SMOKE)
    assert len(slots()) <= before + 1
