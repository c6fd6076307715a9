"""Round-12 surface extensions — graph analytics over interaction
data, principled weighted sampling, and rule-attributed quality
filtering: the remaining standard stages of a 100 TB training-data
pipeline that the registry did not yet cover.

- ``graph_pagerank``: fixed-iteration PageRank over the user->item
  interaction graph derived from ``events`` (edge = user clicked item
  ``k`` of its JSON props).  The scale-honest shape: each iteration is
  one equi-join of edges with the current rank vector on ``src`` plus
  one hash re-aggregation on ``dst`` — never a collect of the rank
  vector, never a broadcast of anything but the two one-row scalars
  (node count, dangling mass).  Items have no out-edges, so the
  dangling-mass redistribution term is genuinely exercised.  At 100 TB
  pre-partition edges and ranks by the join key so the per-iteration
  exchange is reused, and checkpoint every few iterations to cut the
  lineage chain; 3 iterations keeps the oracle a finite chained-CTE
  unrolling (PageRank is not otherwise SQL-expressible).
- ``graph_triangle_count``: degree-ordered triangle counting.  Edges
  are oriented from the endpoint with smaller ``(degree, id)`` to the
  larger, which bounds every node's out-degree by O(sqrt(m)) on any
  graph (the classic arboricity argument), so the wedge self-join —
  the only superlinear step — is skew-bounded by construction instead
  of exploding on hub nodes.  Wedge generation and the closing-edge
  probe are both equi-joins; no cartesian anywhere.
- ``graph_label_propagation``: synchronous label propagation
  (community detection) — per iteration one (node, label) hash agg
  plus an argmin-by-struct re-aggregation, never a per-node window
  sort.
- ``weighted_sample_topk``: deterministic weighted sampling WITHOUT
  replacement (Efraimidis & Spirakis 2006, "Weighted random sampling
  with a reservoir": draw key u_i^(1/w_i), take the top k).  The
  uniform comes from a Knuth multiplicative hash of the id — no RNG
  state, so the sample is reproducible and the oracle can restate it.
  The top-k is ``ORDER BY key LIMIT k``, which Spark executes as
  TakeOrderedAndProject (per-partition heaps + driver merge of k rows
  per partition) — never a global sort of the corpus.
- ``weighted_sample_per_domain``: the same A-ES key ranked within
  each source domain (domain-capped selection — "no domain may
  dominate the mix"), one shuffle on the domain key.
- ``quality_rule_filter``: Gopher-style composite quality rules
  (word-count bounds, mean-word-length bounds, stopword floor, symbol
  ceiling, duplicate-token ceiling) with PER-RULE attribution flags,
  the filter-stage complement of ``text_quality``'s scoring.  Every
  threshold is evaluated by integer cross-multiplication
  (``sw * 100 >= wc * 5`` instead of ``sw/wc >= 0.05``), so the
  verdicts are exact in both engines with no float-comparison edge.
  Map-only: one pass, no shuffle, no UDF.

Reference: no analog (the reference is a 4-query taxi benchmark —
SURVEY §0); all entries are DuckDB-oracle-gated with the oracle
restating the identical arithmetic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.suite import load_events, load_table, register

# ---------------------------------------------------------------------------
# shared derivations
# ---------------------------------------------------------------------------

#: offset separating the item id space from the user id space in the
#: interaction graph (JSON ``k`` is 0..99; user ids are small ints)
ITEM_OFFSET = 1_000_000

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3


def interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed user->item edges from events: ``user_id ->
    ITEM_OFFSET + props.k``, distinct.  One JSON parse + one
    distinct — the normal provenance of a behavioural graph."""
    e = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.filter(k.isNotNull())
        .select(
            F.col("user_id").alias("src"),
            (F.lit(ITEM_OFFSET) + k).alias("dst"),
        )
        .distinct()
    )


# TRY_CAST + post-cast null filter matches Spark's semantics exactly:
# Spark's cast("long") yields NULL on a non-numeric k and the filter is
# on the CAST value, so a malformed k is silently dropped in both
# engines (a strict CAST here would instead error in DuckDB on input
# Spark quietly drops — ADVICE r12)
_EDGES_SQL = (
    "SELECT DISTINCT user_id AS src, "
    f"{ITEM_OFFSET} + TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst "
    "FROM events "
    "WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL"
)


def pagerank(edges: DataFrame, iters: int = PAGERANK_ITERS,
             damping: float = PAGERANK_DAMPING) -> DataFrame:
    """Fixed-iteration PageRank with uniform teleport and dangling-mass
    redistribution::

        pr'(v) = (1-d)/N + d * (sum_{u->v} pr(u)/outdeg(u) + dang/N)

    where ``dang`` is the rank mass sitting on nodes without out-edges.
    Returns (node, pr) with pr a double summing to 1 each iteration.

    Scale shape: per iteration one edges-to-ranks equi-join on ``src``,
    one hash agg on ``dst``, one join-back to the node list — all
    shuffles on the graph keys, nothing driver-side.  The two scalars
    (N, dangling mass) ride along as broadcast one-row frames, keeping
    the whole chain lazy (no ``collect`` in the loop).

    Reuse policy (same as dedup.py's connected components): edges /
    nodes and each iteration's rank vector are referenced 2-3
    times by the next iteration, so without reuse Catalyst re-executes
    the whole upstream per reference and the recompute COMPOUNDS 3x
    per iteration.  ``localCheckpoint(eager=True)`` both truncates the
    growing lineage and materializes each tier once — the measured
    winner over lazy persist (cache-manager barriers cost more than
    the checkpoint writes) and over no reuse (27x recompute of the
    derivation).  At 100 TB the rank vector is ~16 bytes/node —
    cluster cache-tier sized, the standard PageRank residency.

    r15 pass-structure rework (guide §1.2/§2.4 — fewer passes, fewer
    jobs; values byte-identical, oracle unchanged):

    - edges checkpoints FIRST: until r15 ``nodes`` was derived from
      the UN-checkpointed input, re-running the full upstream (events
      scan + JSON parse + distinct) a second time — the minhash
      3x-re-derivation class (VERDICT r14), one tier earlier.
    - the ITERATION-INVARIANT dangling flag is folded into the node
      derivation for free: the old ``union().distinct()`` was already
      one hash agg over both endpoint projections, and ``min(__d)``
      over the same exchange marks nodes that never appear as src.
      The flag rides the rank vector, so the per-iteration
      ranks-vs-outdeg ANTI-JOIN (1 join x iters) becomes a filter.
    - ``outdeg`` is now single-use (the hoisted edges_deg join), so
      its dedicated checkpoint job is gone.
    - the node count is already collected for the join-strategy gate —
      it re-enters the plan as a LITERAL, replacing the one-row n_df
      crossJoin broadcast in every iteration (same double arithmetic:
      1.0 / N with N integral either way).
    - the LAST iteration is not checkpointed: its only consumer is the
      caller's single output action, so the materialize-then-rescan
      paid one extra job for nothing."""
    # materialize the (possibly expensive) edge derivation ONCE, before
    # any setup tier forces a job over it
    edges = edges.localCheckpoint(eager=True)
    # node list WITH the dangling flag: a node is dangling iff it never
    # appears as src; min(__d) over the same single hash agg the old
    # distinct() already ran
    nodes = (
        edges.select(F.col("src").alias("node"), F.lit(0).alias("__d"))
        .union(edges.select(F.col("dst").alias("node"), F.lit(1).alias("__d")))
        .groupBy("node")
        .agg((F.min("__d") == 1).alias("__dang"))
        .localCheckpoint(eager=True)
    )
    # the edges-to-outdeg join is ITERATION-INVARIANT — hoist it out of
    # the loop and checkpoint, so each iteration joins the (src, dst,
    # outdeg) fact once with the rank vector instead of re-running the
    # full-edge-list degree join every pass (the r12 decade probe's
    # superlinear CPU tail came from exactly this)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = edges.join(outdeg, "src").select("src", "dst", "outdeg")
    # count-gated join strategy (partitioning.side_table_join_hint;
    # checkpointed localCheckpoint stats default to "huge", so without
    # the gate the planner falls back to sort-merge and re-SORTS the
    # edge list every iteration).  Below the bound the per-node side
    # tables broadcast (edges never shuffle); above it, edges are
    # pre-partitioned by the join key ONCE before the checkpoint and
    # the joins are hinted shuffle_hash with ranks as the build side —
    # no per-iteration sort of the edge list either way.  nodes is
    # checkpointed, so the gate count is a metadata-cheap scalar (the
    # dedup.py fixpoint-counter class of collect, not a data-path one).
    n_nodes = nodes.count()
    small = partitioning.side_table_join_hint(n_nodes)
    if small is not F.broadcast:
        edges_deg = edges_deg.repartition("src")
    edges_deg = edges_deg.localCheckpoint(eager=True)
    # N as a literal (n_nodes just collected for the gate); the `or 1`
    # only shields ANSI constant folding of 1.0/0 on an EMPTY graph,
    # where no row exists to observe the value
    n_lit = F.lit(n_nodes or 1)
    ranks = nodes.select(
        "node", (F.lit(1.0) / n_lit).alias("pr"), "__dang"
    )
    for i in range(iters):
        ranks = _pagerank_step(
            ranks, edges_deg, nodes, n_lit, small, damping
        )
        if i < iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", "pr")


def _pagerank_step(
    ranks: DataFrame,
    edges_deg: DataFrame,
    nodes: DataFrame,
    n_lit: Column,
    small: Callable[[DataFrame], DataFrame],
    damping: float,
) -> DataFrame:
    """One un-checkpointed PageRank iteration — factored out so tests
    can assert the physical join strategies (broadcast below the gate,
    shuffled-hash above) on the pre-checkpoint plan; the loop wraps
    all but the last in a ``localCheckpoint``.  ``ranks`` and
    ``nodes`` both carry the iteration-invariant ``__dang`` flag
    (nodes with no out-edges), so the dangling mass is a filtered
    1-row aggregate — no per-iteration anti-join."""
    dang = ranks.filter("__dang").agg(
        F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
    )
    contrib = (
        edges_deg.join(
            small(ranks.select(F.col("node").alias("src"), "pr")), "src"
        )
        .groupBy("dst")
        .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("contrib"))
    )
    return (
        nodes.join(small(contrib), nodes["node"] == contrib["dst"], "left")
        .crossJoin(F.broadcast(dang))
        .select(
            "node",
            (
                F.lit(1.0 - damping) / n_lit
                + F.lit(damping)
                * (
                    F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.col("dang") / n_lit
                )
            ).alias("pr"),
            "__dang",
        )
    )


def _pagerank_oracle_sql(iters: int, damping: float) -> str:
    """Chained-CTE unrolling of :func:`pagerank` in DuckDB SQL — one
    (dangN, contribN, prN) triple per iteration, identical arithmetic."""
    d = repr(damping)
    parts = [
        f"WITH e AS ({_EDGES_SQL}),",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),",
        "nn AS (SELECT count(*) AS n FROM nodes),",
        "pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn)",
    ]
    for i in range(iters):
        p, q = f"pr{i}", f"pr{i + 1}"
        parts.append(
            f", dang{i} AS (SELECT coalesce(sum(pr), 0.0) AS dang FROM {p} "
            f"LEFT JOIN deg ON {p}.node = deg.src WHERE deg.src IS NULL)"
        )
        parts.append(
            f", contrib{i} AS (SELECT e.dst AS node, "
            f"sum({p}.pr / deg.outdeg) AS contrib "
            f"FROM e JOIN {p} ON {p}.node = e.src "
            "JOIN deg ON deg.src = e.src GROUP BY e.dst)"
        )
        parts.append(
            f", {q} AS (SELECT nodes.node, "
            f"(1.0 - {d}) / nn.n + {d} * "
            f"(coalesce(contrib{i}.contrib, 0.0) + dang{i}.dang / nn.n) AS pr "
            f"FROM nodes CROSS JOIN nn CROSS JOIN dang{i} "
            f"LEFT JOIN contrib{i} ON contrib{i}.node = nodes.node)"
        )
    parts.append(
        f"SELECT node, round(pr, 6) AS pr FROM pr{iters}"
    )
    return "\n".join(parts)


@register(
    "graph_pagerank",
    _pagerank_oracle_sql(PAGERANK_ITERS, PAGERANK_DAMPING),
    doc="§7 graph: 3-iteration PageRank (d=0.85, uniform teleport, "
    "dangling mass redistributed) over the user->item interaction "
    "graph from events' JSON props.  Items are sinks, so the dangling "
    "term is live.  Each iteration = edges-ranks equi-join + dst hash "
    "agg + node join-back; the only broadcasts are the two one-row "
    "scalars, the loop never collects.  At 100 TB: co-partition edges "
    "and ranks on the key and checkpoint every few iterations.  "
    "Output rounded to 6 dp (double sum order differs cross-engine at "
    "~1e-15; values are ~1e-3-spaced).  SINGLE-ACTION CONTRACT "
    "(ADVICE r15): the final iteration is deliberately NOT "
    "checkpointed, so the returned frame assumes ONE output action — "
    "a consumer that runs several (count then collect, say) recomputes "
    "the last iteration per action; multi-action consumers should "
    "persist()/localCheckpoint() the result themselves.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = interaction_edges(spark, sf_dir)
    pr = pagerank(edges)
    return pr.select("node", F.round("pr", 6).alias("pr"))


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------


def social_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic undirected user-user graph from events: event
    ``i`` links ``user_id`` with ``(user_id + 1 + i % 7) % n_users``
    — a small-shift ring with bounded degree (<= 14) and plenty of
    triangles (shifts a, b, a+b all <= 7 close them).  Canonicalized
    to ``a < b``, distinct.  The modulus is the live user-id span
    (scalar subquery, broadcast) so the derivation scales with SF."""
    e = load_events(spark, sf_dir)
    m_df = e.agg((F.max("user_id") + 1).alias("m"))
    pairs = e.crossJoin(F.broadcast(m_df)).select(
        F.col("user_id").alias("u"),
        ((F.col("user_id") + 1 + F.col("event_id") % 7) % F.col("m")).alias("v"),
    )
    return (
        pairs.filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"),
            F.greatest("u", "v").alias("b"),
        )
        .distinct()
    )


_SOCIAL_EDGES_SQL = """
    WITH m AS (SELECT max(user_id) + 1 AS m FROM events),
    p AS (
      SELECT user_id AS u,
             (user_id + 1 + event_id % 7) % m.m AS v
      FROM events CROSS JOIN m),
    e AS (
      SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      FROM p WHERE u <> v)
"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected graph given canonical ``a < b``
    edges, via degree ordering: orient every edge from the endpoint
    with smaller ``(degree, id)`` toward the larger, generate wedges by
    self-joining oriented edges on their source, and probe each wedge's
    closing pair against the oriented edge set.  Each triangle has
    exactly one node with out-edges to both others under this order, so
    it is counted exactly once.

    Scale shape: orientation bounds out-degree by O(sqrt(m)) on any
    graph, so the wedge join — the one superlinear step — cannot
    explode on hub nodes (the reason this beats the naive 3-way join
    at 100 TB).  All steps are equi-joins and hash aggs.  ``edges``,
    ``deg`` and the oriented edge set are each referenced 2-3 times
    downstream (wedge sides + closing probe), so each is
    ``localCheckpoint``ed once — the repo's iterative/multi-reference
    reuse pattern (see dedup.py) and the measured winner over lazy
    persist and over recompute."""
    edges = edges.localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # count-gated join strategy, same rationale as pagerank:
    # checkpointed frames report "huge" stats, so without the gate the
    # planner sort-merges even a 150-node graph; below the bound the
    # degree table and the probe sides broadcast, above it they are
    # hinted shuffle_hash (the closing probe's build side is the
    # oriented edge list itself — never broadcastable at scale, but
    # hash-joinable without sorting either side).  deg is checkpointed,
    # so the gate count is a metadata-cheap scalar.
    small = partitioning.side_table_join_hint(deg.count())
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    with_deg = edges.join(small(da), "a").join(small(db), "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    ).localCheckpoint(eager=True)
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(small(e2), "u").filter(F.col("v") != F.col("w"))
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(small(closing), ["v", "w"]).agg(
        F.count("*").alias("n_triangles")
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


@register(
    "graph_triangle_count",
    _SOCIAL_EDGES_SQL
    + """
    , deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst
      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM (SELECT u1.src AS u, u1.dst AS v, u2.dst AS w
            FROM o u1 JOIN o u2 ON u1.src = u2.src AND u1.dst <> u2.dst) wedge
      JOIN o ON o.src = wedge.v AND o.dst = wedge.w)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           n_triangles
    FROM tri
    """,
    doc="§7 graph: exact triangle count via degree ordering — edges "
    "oriented low-(degree,id) -> high bound every out-degree by "
    "O(sqrt(m)), so the wedge self-join is skew-proof by construction "
    "(hub nodes never fan out).  Wedge probe is an equi-join on the "
    "closing pair.  Graph: deterministic small-shift user ring from "
    "events (degree <= 14, modulus = live user span via a broadcast "
    "scalar).  Single summary row, integer-exact.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(social_edges(spark, sf_dir))


LPA_ITERS = 2


def label_propagation(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation (community
    detection): every node starts labeled with its own id; each
    iteration every node adopts the most frequent label among its
    NEIGHBORS, ties broken by the smallest label.  ``edges`` are
    canonical undirected ``a < b`` pairs.  Returns (node, community).

    Scale shape: per iteration one (node, label) hash agg over the
    directed edge list and one argmin-by-struct re-aggregation — NO
    per-node window sort (``min(struct(-count, label))`` does the
    most-frequent-then-smallest selection inside the hash agg, one
    task-side pass, so a hub node never forces a single-task sort of
    its neighborhood).  Same checkpoint-per-iteration reuse policy as
    pagerank/connected-components.  Fixed iterations keep the oracle a
    finite chained-CTE unrolling."""
    und = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = und.select("node").distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        counts = (
            und.join(
                labels.withColumnRenamed("node", "nbr"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        # most-frequent label, smallest on ties: argmin of the struct
        # (-count, label) — a second hash agg, not a per-node window
        best = counts.groupBy("node").agg(
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
            )["l"].alias("new_label")
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("node", F.col("label").alias("community"))


def _lpa_oracle_sql(iters: int) -> str:
    """Chained-CTE unrolling of :func:`label_propagation` in DuckDB
    SQL: per iteration a (node, label) count + a row_number argmin
    (same (-count, label) order) + a coalesce join-back."""
    parts = [
        _SOCIAL_EDGES_SQL + ",",
        "und AS (SELECT a AS node, b AS nbr FROM e "
        "UNION ALL SELECT b, a FROM e),",
        "l0 AS (SELECT DISTINCT node, node AS label FROM und)",
    ]
    for i in range(iters):
        p, q = f"l{i}", f"l{i + 1}"
        parts.append(
            f", c{i} AS (SELECT und.node, {p}.label, count(*) AS c "
            f"FROM und JOIN {p} ON {p}.node = und.nbr "
            "GROUP BY und.node, {0}.label)".format(p)
        )
        parts.append(
            f", b{i} AS (SELECT node, label AS new_label FROM ("
            "SELECT node, label, row_number() OVER ("
            "PARTITION BY node ORDER BY c DESC, label) AS rn "
            f"FROM c{i}) WHERE rn = 1)"
        )
        parts.append(
            f", {q} AS (SELECT {p}.node, "
            f"coalesce(b{i}.new_label, {p}.label) AS label "
            f"FROM {p} LEFT JOIN b{i} ON b{i}.node = {p}.node)"
        )
    parts.append(
        f"SELECT node, label AS community FROM l{iters}"
    )
    return "\n".join(parts)


@register(
    "graph_label_propagation",
    _lpa_oracle_sql(LPA_ITERS),
    doc="§7 graph: synchronous label propagation (2 iterations, "
    "most-frequent neighbor label, smallest on ties) over the same "
    "deterministic user ring as graph_triangle_count.  The per-node "
    "argmin runs INSIDE a hash agg via min(struct(-count, label)) — "
    "no per-node window sort, so hub neighborhoods never serialize "
    "into one task.  Fixed iterations keep the oracle a chained-CTE "
    "unrolling; integer labels end to end, no float anywhere.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagation(social_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# weighted sampling (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------

#: Knuth's multiplicative hash constant (2^32 / phi, odd)
_KNUTH = 2_654_435_761
_SAMPLE_K = 50

# (id * KNUTH) mod 2^32 computed overflow-safely in int64 (ADVICE r12):
# the naive product overflows int64 for id > 2^63/KNUTH ~ 3.47e9 —
# Spark (non-ANSI) wraps silently into negative remainders (u <= 0,
# NaN keys) while DuckDB raises.  Reduce id mod 2^32 first, then split
# the 32x32 multiply into 16-bit halves: with x = xh*2^16 + xl,
#   x*K mod 2^32 = ((xh*K mod 2^16)*2^16 + xl*K mod 2^32) mod 2^32
# and every intermediate stays below 2^48 — exact in both engines for
# the FULL int64 id range, so the "reproducible across engines at
# 100 TB" claim holds past 3.5e9 docs.
#: pmod(doc_id, 2^32) in SQL — DuckDB's % is sign-preserving while
#: Spark's pmod is always non-negative, so the restatement must add
#: the modulus back before reducing again or a negative id would feed
#: pow() a negative base (NaN) only on the DuckDB side
_AES_X_SQL = "((doc_id % 4294967296 + 4294967296) % 4294967296)"
_AES_H_SQL = (
    f"(((({_AES_X_SQL} // 65536) * 2654435761) % 65536) * 65536"
    f" + (({_AES_X_SQL} % 65536) * 2654435761) % 4294967296)"
    " % 4294967296"
)


def aes_hash(id_col: Column) -> Column:
    """``(id * _KNUTH) mod 2^32`` with no int64 overflow anywhere in
    the id's range (split 16-bit halves, see module comment)."""
    x = F.pmod(id_col.cast("long"), F.lit(2**32))
    xh = F.floor(x / F.lit(65536)).cast("long")
    xl = x % F.lit(65536)
    return (
        (xh * F.lit(_KNUTH)) % F.lit(65536) * F.lit(65536)
        + (xl * F.lit(_KNUTH)) % F.lit(2**32)
    ) % F.lit(2**32)


def aes_key(id_col: Column | str, weight_col: Column | str) -> Column:
    """A-ES sampling key ``u^(1/w)`` with ``u`` a deterministic uniform
    in (0, 1] from a Knuth multiplicative hash of the id.  Taking the
    top k keys is exactly weighted sampling without replacement with
    inclusion probability proportional to w (Efraimidis & Spirakis
    2006).  Hash-derived u means no RNG state: reproducible across
    retries, partitionings, and engines — and the hash is computed
    overflow-safely so u stays in (0, 1] for every int64 id."""
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (aes_hash(i) + F.lit(1.0)) / F.lit(float(2**32))
    return F.pow(u, F.lit(1.0) / w)


@register(
    "weighted_sample_topk",
    f"""
    SELECT rank, doc_id, n_chars FROM (
      SELECT row_number() OVER (
               ORDER BY pow(({_AES_H_SQL} + 1.0)
                           / 4294967296.0, 1.0 / n_chars) DESC,
                        doc_id) AS rank,
             doc_id, n_chars
      FROM documents WHERE n_chars > 0)
    WHERE rank <= {_SAMPLE_K}
    """,
    doc="§7 sampling: weighted sampling without replacement "
    "(Efraimidis-Spirakis A-ES): key = u^(1/w), w = n_chars, u a "
    "Knuth-multiplicative-hash uniform of doc_id — deterministic, no "
    "RNG state, oracle-restatable.  Top-k is ORDER BY ... LIMIT k, "
    "which Spark runs as TakeOrderedAndProject (per-partition k-heaps "
    "+ driver merge of k*partitions rows), NOT a global sort — the "
    "100 TB-safe shape for any k that fits one machine.  Keys are "
    "well-separated (corpus gaps >> 1 ulp), so cross-engine libm "
    "differences cannot reorder the sample.",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = docs.select(
        "doc_id", "n_chars", aes_key("doc_id", "n_chars").alias("__key")
    )
    top = keyed.orderBy(F.col("__key").desc(), F.col("doc_id")).limit(_SAMPLE_K)
    w = Window.orderBy(F.col("__key").desc(), F.col("doc_id"))
    return top.select(
        F.row_number().over(w).alias("rank"), "doc_id", "n_chars"
    )


_PER_DOMAIN_K = 10


@register(
    "weighted_sample_per_domain",
    f"""
    SELECT source, rank, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY pow(({_AES_H_SQL} + 1.0)
                           / 4294967296.0, 1.0 / n_chars) DESC,
                        doc_id) AS rank
      FROM documents WHERE n_chars > 0)
    WHERE rank <= {_PER_DOMAIN_K}
    """,
    doc="§7 sampling: domain-capped A-ES — the same u^(1/w) key as "
    "weighted_sample_topk ranked WITHIN each source, keep the top 10 "
    "per domain (the 'no domain may dominate the mix' selection rule, "
    "the weighted complement of sample_stratified's proportional "
    "hash).  One shuffle on the domain key; rank never leaves its "
    "partition.  At 100 TB a heavy-hitter domain makes one window "
    "partition large — pre-filter with a per-(domain, input-partition) "
    "partial top-k before the window if a domain exceeds executor "
    "memory (same two-phase shape as the exact-median brackets).",
)
def weighted_sample_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = docs.select(
        "source", "doc_id", "n_chars",
        aes_key("doc_id", "n_chars").alias("__key"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("__key").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PER_DOMAIN_K)
        .select("source", "rank", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# rule-attributed quality filter (Gopher-style)
# ---------------------------------------------------------------------------

_TOKS_SQL = r"string_split_regex(lower(trim(text)), '[ \t\n\x0B\f\r]+')"
_STOPLIST_SQL = "['the', 'and', 'of', 'to', 'a', 'in', 'is', 'it', 'for', 'on']"

#: rule thresholds (integer cross-multiplied, see module doc)
_WC_MIN, _WC_MAX = 20, 90          # word-count bounds
_MWL_MIN, _MWL_MAX = 3, 10         # mean word length bounds (chars/word)
_STOP_PCT = 5                      # stopword ratio floor, percent
_SYM_PCT = 10                      # symbols-per-word ceiling, percent
_DUP_PCT = 60                      # duplicate-token fraction ceiling, percent


@register(
    "quality_rule_filter",
    f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS wc,
             CAST(len(list_distinct({_TOKS_SQL})) AS BIGINT) AS dc,
             CAST(len(list_filter({_TOKS_SQL},
                  t -> list_contains({_STOPLIST_SQL}, t))) AS BIGINT) AS sw,
             CAST(length(regexp_replace(trim(text),
                  '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS BIGINT) AS nonsp,
             CAST(length(regexp_replace(text,
                  '[A-Za-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS BIGINT) AS sym
      FROM documents WHERE length(trim(text)) > 0)
    SELECT doc_id, wc,
           (wc BETWEEN {_WC_MIN} AND {_WC_MAX}) AS r_word_count,
           (nonsp >= {_MWL_MIN} * wc AND nonsp <= {_MWL_MAX} * wc)
               AS r_mean_word_len,
           (sw * 100 >= {_STOP_PCT} * wc) AS r_stopwords,
           (sym * 100 <= {_SYM_PCT} * wc) AS r_symbols,
           ((wc - dc) * 100 <= {_DUP_PCT} * wc) AS r_dup_tokens,
           ((wc BETWEEN {_WC_MIN} AND {_WC_MAX})
            AND nonsp >= {_MWL_MIN} * wc AND nonsp <= {_MWL_MAX} * wc
            AND sw * 100 >= {_STOP_PCT} * wc
            AND sym * 100 <= {_SYM_PCT} * wc
            AND (wc - dc) * 100 <= {_DUP_PCT} * wc) AS keep
    FROM f
    """,
    doc="§7 quality: Gopher-style composite rule filter (Rae et al. "
    "2021 §A1.1 shape) with per-rule attribution — word-count bounds "
    "[20, 90], mean word length [3, 10] chars, stopword ratio >= 5%, "
    "symbol-to-word ratio <= 10%, duplicate-token fraction <= 60%; "
    "keep = all five.  Every threshold is an integer "
    "cross-multiplication (sw*100 >= 5*wc), never a float ratio, so "
    "verdicts are bit-exact cross-engine.  Map-only JVM built-ins: one "
    "pass, zero shuffle, zero UDF — the filter stage composes with "
    "token_budget_selection / domain mixing downstream.",
)
def quality_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = F.split(F.lower(F.trim("text")), r"[ \t\n\x0B\f\r]+")
    stop = F.array([F.lit(s) for s in
                    ("the", "and", "of", "to", "a", "in", "is", "it",
                     "for", "on")])
    pre = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("wc"),
        F.size(F.array_distinct(toks)).cast("long").alias("dc"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        .cast("long")
        .alias("sw"),
        F.length(
            F.regexp_replace(F.trim("text"), r"[ \t\n\x0B\f\r]+", "")
        ).cast("long").alias("nonsp"),
        F.length(
            F.regexp_replace("text", r"[A-Za-z0-9 \t\n\x0B\f\r]", "")
        ).cast("long").alias("sym"),
    )
    r_wc = F.col("wc").between(_WC_MIN, _WC_MAX)
    r_mwl = (F.col("nonsp") >= _MWL_MIN * F.col("wc")) & (
        F.col("nonsp") <= _MWL_MAX * F.col("wc")
    )
    r_stop = F.col("sw") * 100 >= _STOP_PCT * F.col("wc")
    r_sym = F.col("sym") * 100 <= _SYM_PCT * F.col("wc")
    r_dup = (F.col("wc") - F.col("dc")) * 100 <= _DUP_PCT * F.col("wc")
    return pre.select(
        "doc_id",
        "wc",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_stop.alias("r_stopwords"),
        r_sym.alias("r_symbols"),
        r_dup.alias("r_dup_tokens"),
        (r_wc & r_mwl & r_stop & r_sym & r_dup).alias("keep"),
    )
