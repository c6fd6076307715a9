"""Distributed exact order statistics.

``exact_group_median`` / ``exact_group_quantile`` compute exact
(linearly interpolating, SQL ``percentile_cont``) per-group order
statistics without Spark's value-buffering ``percentile``/``median``
aggregate.  The built-in exact percentile collects every value of a
group into one aggregation buffer — O(group size) executor memory and
a serial sort per group, which is both the wall-time floor observed at
sf0.1 (a single ``F.median`` agg costs ~1.4 s where a count agg costs
0.24 s) and a straight-up OOM at 100 TB group sizes.

The bracket trick replaces it with bounded-memory passes:

1. per group: ``n`` + an approx-percentile BRACKET ``[lo, hi]`` around
   the target rank (``percentile_approx``, GK sketch, O(accuracy)
   memory).
2. per group: ``count(x < lo)`` and the DISTINCT values inside the
   bracket with multiplicities — at most ~8n/accuracy ranks wide,
   shuffled as (grp, value) counts (heavy ties collapse).
3. a per-group cumulative-count window over that small value set turns
   global ranks into values; fractional ranks interpolate the two
   straddling values exactly like ``F.percentile`` / DuckDB
   ``quantile_cont``.

Every stage is a hash aggregate or a tiny window — whole-stage
codegen, no UDF, no per-group value buffering.  The per-group side
tables (stats / below / above) are broadcast only under a group-count
bound (``partitioning.BROADCAST_GROUP_BOUND``, applied by
``partitioning.group_table_hint``) — above it they shuffle-join on the
group key, so high group cardinality can never turn the broadcast into
a driver-memory hazard.

Why two functions: at q = 0.5 the straddle ranks n/2 and n/2+1 sit
symmetrically around the bracket center, so quantiles 0.5 ± δ are
guaranteed to bracket them for EVERY n (⌈(0.5−δ)n⌉ = ⌊n/2⌋ ≤ r1 and
⌈(0.5+δ)n⌉ ≥ r2 — the half-integer boundary does the work), and the
median runs the minimal 3-pass plan.  At arbitrary q the target rank
(n−1)q lands anywhere, and for groups smaller than the sketch
accuracy the q ± δ quantiles can collapse onto one rank (δ·n < 1), so
the general function additionally considers the bracket's neighbor
values (predecessor via the below-pass, successor via one extra
filtered pass) — two more cheap stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning


def exact_group_median(
    df: DataFrame,
    grp: str,
    col: str,
    accuracy: int = 2_000,
    out: str = "med",
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """Return ``(grp, out)`` with the exact interpolating median of
    ``col`` per group (nulls ignored; all-null groups yield a null
    row — both matching ``F.median``).

    ``accuracy``: the GK-sketch accuracy for the bracketing pass; the
    bracket then spans ≲ 8n/accuracy ranks.  Larger = tighter bracket
    (less pass-2 data) but a bigger sketch.

    ``broadcast_stats``: True = hint-broadcast the per-group side
    tables (caller asserts group cardinality ≤
    ``partitioning.BROADCAST_GROUP_BOUND``),
    False = shuffle joins, None = one cheap guard job decides.
    """
    delta = 4.0 / accuracy
    stats = df.groupBy(grp).agg(
        F.count(col).alias("__n"),
        F.percentile_approx(
            col, [0.5 - delta, 0.5 + delta], accuracy
        ).alias("__b"),
    ).select(
        grp,
        "__n",
        F.col("__b")[0].alias("__lo"),
        F.col("__b")[1].alias("__hi"),
        # 1-based middle ranks: odd n -> both (n+1)/2; even -> n/2, n/2+1
        ((F.col("__n") + 1) / 2).cast("long").alias("__r1"),
        (F.col("__n") / 2 + 1).cast("long").alias("__r2"),
    )
    # r15: the stats table is referenced THREE times (bracket join,
    # rank join, all-null reattach) and column pruning SPECIALIZES each
    # copy (sketch-only / count-only / keys-only), so without a persist
    # each reference re-aggregates the full fact table — 3 fact passes
    # for one group-cardinality result.  The guard path of
    # partitioning.group_table_hint already persists for its count; do
    # the same on the caller-asserted paths (True/False), where the
    # guard never runs.  Group-cardinality rows only — cache-tier sized
    # at 100 TB.
    if broadcast_stats is not None:
        from nyc_taxi_data_clickhouse_spark.scratch import track_persist

        sem = stats._jdf.queryExecution().analyzed().semanticHash()
        stats = track_persist(f"median_stats:{grp}:{col}:{sem}", stats)
    hint = partitioning.group_table_hint(
        stats, broadcast_stats, label=f"median_stats:{grp}:{col}"
    )
    j = df.select(grp, col).join(hint(stats), grp)
    # ONE fused bracket pass (r15, guide §1.2 — fewer full passes):
    # group by (grp, in-bracket value) where every out-of-bracket or
    # null value collapses into one NULL-key row per group.  In-bracket
    # groups carry their multiplicity (__c); the NULL-key row carries
    # the below-bracket count (__lt) as a conditional sum.  This
    # replaces the former two independent aggregates (below-count and
    # in-bracket multiplicity), which each re-scanned the fact table —
    # at 100 TB, one full pass instead of two for identical outputs.
    #
    # The global rank then needs NO join-back of a below table: Spark
    # windows order ASC NULLS FIRST, so in the per-group cumulative
    # window the NULL-key row (carrying __lt, with __c = 0) sorts
    # ahead of every bracket value and a single running
    # sum(__lt + __c) IS below-count + in-bracket-cumulative — the
    # former below/inb branch split re-executed the fused aggregate
    # per consumer (column pruning specializes the two copies, so the
    # exchange is not reusable) and re-joined them; this form scans
    # the fact exactly once and windows the tiny bracket table.
    c = F.col(col)
    in_b = (c >= F.col("__lo")) & (c <= F.col("__hi"))
    fused = j.groupBy(
        grp, F.when(in_b, c).alias(col)
    ).agg(
        F.sum(F.when(in_b, 1).otherwise(0)).alias("__c"),
        F.sum(F.when(c < F.col("__lo"), 1).otherwise(0)).alias("__lt"),
    )
    w = Window.partitionBy(grp).orderBy(col)
    ranked = fused.withColumn(
        "__rank_hi", F.sum(F.col("__lt") + F.col("__c")).over(w)
    ).filter(c.isNotNull())
    sel = (
        ranked.join(
            hint(stats.select(grp, "__r1", "__r2")), grp
        )
        .groupBy(grp)
        .agg(
            F.min(
                F.when(F.col("__rank_hi") >= F.col("__r1"), F.col(col))
            ).alias("__v1"),
            F.min(
                F.when(F.col("__rank_hi") >= F.col("__r2"), F.col(col))
            ).alias("__v2"),
        )
    )
    # __v1/__v2 are the r1-th / r2-th smallest values overall: the
    # first bracket value whose global cumulative count reaches the
    # rank.  The half-integer bracket center guarantees both ranks
    # land inside the bracket for every n.  Groups whose values are
    # ALL null (count(col) = 0 — F.median returns a null row for
    # them, and so must we) have no bracket and no sel row; re-attach
    # them from the stats table, which has every group.  sel is
    # group-cardinality by construction, so it takes the same
    # broadcast-or-shuffle hint as the other per-group side tables
    # (un-hinted it planned sort-merge from r15's changed estimates).
    return (
        stats.select(grp)
        .join(hint(sel), grp, "left")
        .select(grp, ((F.col("__v1") + F.col("__v2")) / 2).alias(out))
    )


def exact_group_quantile(
    df: DataFrame,
    grp: str,
    col: str,
    q: float,
    accuracy: int = 2_000,
    out: str = "q",
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """Return ``(grp, out)`` with the exact interpolating q-quantile of
    ``col`` per group (nulls ignored; all-null groups yield a null row,
    both matching ``F.percentile`` / DuckDB ``quantile_cont``).

    Single-q convenience wrapper over :func:`exact_group_quantiles`;
    prefer :func:`exact_group_median` for q = 0.5 (minimal 3-pass
    plan), and the plural form when several quantiles of the same
    column are needed — k quantiles cost ONE pass-set there, not k.
    ``broadcast_stats`` as in :func:`exact_group_median`.
    """
    return exact_group_quantiles(
        df, grp, col, [q],
        accuracy=accuracy, outs=[out], broadcast_stats=broadcast_stats,
    )


def exact_group_quantiles(
    df: DataFrame,
    grp: str,
    col: str,
    qs: list[float],
    accuracy: int = 2_000,
    outs: list[str] | None = None,
    broadcast_stats: bool | None = None,
) -> DataFrame:
    """Return ``(grp, *outs)`` with the exact interpolating quantiles
    of ``col`` per group for EVERY q in ``qs`` — in one fused plan
    whose stage count is independent of ``len(qs)``:

    - ONE stats aggregate: a single GK sketch queried at all 2k
      bracket probes, per-q straddle ranks r1/r2 and blend weight w.
    - ONE below/above aggregate: per-q conditional ``sum(when(col <
      lo_i))`` counts, predecessor ``max(when(...))`` and (for groups
      under the sketch accuracy) successor ``min(when(...))`` — the
      per-q filtered passes of the single-q plan collapse into
      conditional expressions over one scan.
    - ONE candidate table: rows inside ANY bracket, plus each q's
      predecessor/successor value at count 0 (merged by value, so a
      neighbor that happens to sit inside another q's bracket keeps
      its true count).
    - ONE window sort with k conditional cumulative sums; per-q
      rank_hi via the same CASE semantics as the single-q plan
      (in-bracket: below-count + cum; predecessor: below-count;
      successor: group total n as the safe upper bound; every other
      out-of-bracket candidate: NULL, so it can never qualify).
    - ONE selection aggregate with 2k conditional mins.

    The naive alternative — k independent single-q plans joined on
    ``grp`` — scans the fact table ~4k times; this scans it twice
    (stats + the shared j pass feeding both aggregates) regardless of
    k, the right trade at 100 TB.  Semantics (null handling, integral-
    rank collapse, neighbor widening for sub-accuracy groups) are
    identical to the single-q plan, which delegates here.
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    if outs is None:
        outs = [f"q{i}" for i in range(len(qs))]
    if len(outs) != len(qs):
        raise ValueError("outs must match qs in length")
    delta = 4.0 / accuracy
    k = len(qs)
    probes: list[float] = []
    for q in qs:
        probes += [max(0.0, q - delta), min(1.0, q + delta)]

    # --- stats: n + all brackets from one sketch + per-q ranks -------
    n_c = F.col("__n")
    per_q_cols = []
    for i, q in enumerate(qs):
        # 0-based fractional target rank (n-1)·q straddled by 1-based
        # ranks r1 = floor+1 and r2, blended with weight w; integral
        # ranks collapse r2 onto r1 (the second value would be
        # numerically unused but must not nullify the blend via 0*NULL)
        idx = (n_c - 1) * F.lit(q)
        r1 = F.floor(idx).cast("long") + 1
        per_q_cols += [
            F.col("__b")[2 * i].alias(f"__lo{i}"),
            F.col("__b")[2 * i + 1].alias(f"__hi{i}"),
            r1.alias(f"__r1{i}"),
            F.when(idx == F.floor(idx), r1)
            .otherwise(F.least(r1 + 1, n_c))
            .alias(f"__r2{i}"),
            (idx - F.floor(idx)).alias(f"__w{i}"),
        ]
    stats = df.groupBy(grp).agg(
        F.count(col).alias("__n"),
        F.percentile_approx(col, probes, accuracy).alias("__b"),
    ).select(grp, "__n", *per_q_cols)
    # same 3-reference persist rationale as exact_group_median (r15)
    if broadcast_stats is not None:
        from nyc_taxi_data_clickhouse_spark.scratch import track_persist

        sem = stats._jdf.queryExecution().analyzed().semanticHash()
        stats = track_persist(f"quantiles_stats:{grp}:{col}:{sem}", stats)
    hint = partitioning.group_table_hint(
        stats, broadcast_stats, label=f"quantiles_stats:{grp}:{col}"
    )
    j = df.select(grp, col).join(hint(stats), grp)
    c = F.col(col)

    # --- one below/above aggregate for all qs ------------------------
    # (the single-q plan's per-q filtered passes, as conditional aggs)
    # r15 negative result: fusing this pass with the candidate pass
    # into one (grp, in-any-bracket value) aggregate + associative
    # re-agg (the exact_group_median trick, generalized per-q) measured
    # +14–20% at sf0.1 vs the persist-only baseline — with k quantiles
    # the fused aggregate evaluates 3k+1 conditional expressions per
    # corpus row against bracket-scale hash state, costing more than
    # the second (cheap, grp-keyed) pass saves locally.  Reverted on
    # measurement; the stats-table persist above (3 references, one
    # computation) is the part that won and stays.
    ba_exprs = []
    for i in range(k):
        lo, hi = F.col(f"__lo{i}"), F.col(f"__hi{i}")
        ba_exprs += [
            F.coalesce(
                F.sum(F.when(c < lo, F.lit(1)).otherwise(F.lit(0))),
                F.lit(0),
            ).cast("long").alias(f"__lt{i}"),
            F.max(F.when(c < lo, c)).alias(f"__p{i}"),
            # successor only for sub-accuracy groups (see single-q
            # rationale: the ±1-rank shortfall of a collapsed bracket)
            F.min(
                F.when((c > hi) & (F.col("__n") < accuracy), c)
            ).alias(f"__s{i}"),
        ]
    ba = j.groupBy(grp).agg(*ba_exprs)

    # --- candidate values: any bracket + per-q neighbors at count 0 --
    in_any = F.lit(False)
    for i in range(k):
        in_any = in_any | (
            (c >= F.col(f"__lo{i}")) & (c <= F.col(f"__hi{i}"))
        )
    inb = j.filter(in_any).select(grp, col, F.lit(1).cast("long").alias("__c"))
    # all 2k neighbors melted through ONE explode branch (not 2k
    # union branches): plan size and scan lineage stay independent
    # of k; nulls (no predecessor / successor pass gated off) drop out
    neigh = (
        ba.select(
            grp,
            F.explode(
                F.array(
                    *[F.col(f"__p{i}") for i in range(k)],
                    *[F.col(f"__s{i}") for i in range(k)],
                )
            ).alias(col),
        )
        .filter(F.col(col).isNotNull())
        .select(grp, col, F.lit(0).cast("long").alias("__c"))
    )
    cand = (
        inb.unionByName(neigh).groupBy(grp, col).agg(F.sum("__c").alias("__c"))
    )

    # --- one window sort, k conditional cumsums, per-q rank CASE -----
    w = Window.partitionBy(grp).orderBy(col)
    ranked = cand.join(hint(ba), grp).join(
        hint(stats), grp
    )
    rank_cols = []
    for i in range(k):
        lo, hi = F.col(f"__lo{i}"), F.col(f"__hi{i}")
        in_i = (c >= lo) & (c <= hi)
        cum_i = F.sum(F.when(in_i, F.col("__c")).otherwise(F.lit(0))).over(w)
        rank_cols.append(
            F.when(in_i, F.col(f"__lt{i}") + cum_i)
            .when(c.eqNullSafe(F.col(f"__p{i}")), F.col(f"__lt{i}"))
            .when(c.eqNullSafe(F.col(f"__s{i}")), F.col("__n"))
            .alias(f"__rank{i}")
        )
    ranked = ranked.select(
        grp, col, *[F.col(f"__r1{i}") for i in range(k)],
        *[F.col(f"__r2{i}") for i in range(k)],
        *[F.col(f"__w{i}") for i in range(k)], *rank_cols
    )

    # --- one selection aggregate -------------------------------------
    sel_exprs = []
    for i in range(k):
        rk = F.col(f"__rank{i}")
        sel_exprs += [
            F.min(F.when(rk >= F.col(f"__r1{i}"), c)).alias(f"__v1{i}"),
            F.min(F.when(rk >= F.col(f"__r2{i}"), c)).alias(f"__v2{i}"),
            F.first(F.col(f"__w{i}")).alias(f"__wf{i}"),
        ]
    sel = ranked.groupBy(grp).agg(*sel_exprs)
    # sel is group-cardinality — same hint rationale as the median's
    # reattach (un-hinted it can plan sort-merge)
    return (
        stats.select(grp)
        .join(hint(sel), grp, "left")
        .select(
            grp,
            *[
                (
                    F.col(f"__v1{i}")
                    + F.col(f"__wf{i}")
                    * (F.col(f"__v2{i}") - F.col(f"__v1{i}"))
                ).alias(outs[i])
                for i in range(k)
            ],
        )
    )
