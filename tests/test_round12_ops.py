"""PageRank, triangle counting, label propagation, A-ES weighted
sampling, the Gopher-style rule filter, and the G.711 mu-law codec —
edge semantics the suite oracles don't pin (hand graphs, per-rule
boundary docs, the full 256-codeword expand table)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark import partitioning
from nyc_taxi_data_clickhouse_spark.operators.graph import pagerank, triangle_count
from nyc_taxi_data_clickhouse_spark.operators.selection import KNUTH, aes_key


def _edges(spark, pairs, cols=("src", "dst")):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], f"{cols[0]} long, {cols[1]} long"
    )


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _pagerank_ref(edges, iters=3, d=0.85):
    """Independent dict-based reimplementation of the fixed-iteration
    PageRank recurrence (uniform teleport, dangling redistributed)."""
    nodes = sorted({u for e in edges for u in e})
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dang = sum(pr[v] for v in nodes if v not in out)
        nxt = {}
        for v in nodes:
            nxt[v] = (1 - d) / n + d * dang / n
        for u, vs in out.items():
            for v in vs:
                nxt[v] += d * pr[u] / len(vs)
        pr = nxt
    return pr


def test_pagerank_star_matches_reference(spark):
    # star with a dangling hub target: 1->2, 1->3, 2->3 (3 is a sink)
    edges = [(1, 2), (1, 3), (2, 3)]
    got = {
        r["node"]: r["pr"]
        for r in pagerank(_edges(spark, edges), iters=3).collect()
    }
    ref = _pagerank_ref(edges, iters=3)
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-12)


def test_pagerank_mass_conserved_and_cycle_uniform(spark):
    # directed 4-cycle: no dangling, symmetric -> uniform at every
    # iteration; total mass exactly 1
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    rows = pagerank(_edges(spark, edges), iters=2).collect()
    total = sum(r["pr"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-12)
    for r in rows:
        assert r["pr"] == pytest.approx(0.25, abs=1e-12)


def test_pagerank_join_gate_plan_shape(spark, monkeypatch):
    """Below the node-count gate the per-iteration joins broadcast the
    rank-vector side; above it they are shuffled-hash with ranks as
    the build side — never a per-iteration sort of the edge list.
    Both paths must also produce identical rank values."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_clickhouse_spark.operators.graph import _pagerank_step

    edges = _edges(spark, [(i, 100 + i % 5) for i in range(50)])
    nodes = (
        edges.select(F.col("src").alias("node"), F.lit(0).alias("__d"))
        .union(edges.select(F.col("dst").alias("node"), F.lit(1).alias("__d")))
        .groupBy("node")
        .agg((F.min("__d") == 1).alias("__dang"))
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    edges_deg = (
        edges.join(outdeg, "src")
        .select("src", "dst", "outdeg")
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    n_lit = F.lit(n_nodes or 1)
    ranks = nodes.select(
        "node", (F.lit(1.0) / n_lit).alias("pr"), "__dang"
    )
    bcast_plan = _pagerank_step(
        ranks, edges_deg, nodes, n_lit, F.broadcast, 0.85
    )._jdf.queryExecution().executedPlan().toString()
    shj_plan = _pagerank_step(
        ranks, edges_deg, nodes, n_lit,
        lambda d: d.hint("shuffle_hash"), 0.85,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bcast_plan
    assert "ShuffledHashJoin" not in bcast_plan
    assert "ShuffledHashJoin" in shj_plan
    assert "SortMergeJoin" not in shj_plan
    # value parity across the gate
    with monkeypatch.context() as m:
        m.setattr(partitioning, "BROADCAST_GROUP_BOUND", 1)
        lo = {
            r["node"]: round(r["pr"], 9)
            for r in pagerank(edges).collect()
        }
    hi = {
        r["node"]: round(r["pr"], 9)
        for r in pagerank(edges).collect()
    }
    assert lo == hi


def test_pagerank_all_dangling(spark):
    # one edge 1->2 and nothing else: 2 is dangling, its mass recycles
    edges = [(1, 2)]
    got = {
        r["node"]: r["pr"]
        for r in pagerank(_edges(spark, edges), iters=1).collect()
    }
    ref = _pagerank_ref(edges, iters=1)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-12)


try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:

    _edge_lists = st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    ).map(lambda ps: [(a, b) for a, b in ps if a != b])

    @settings(max_examples=10, deadline=None)
    @given(_edge_lists)
    def test_pagerank_matches_dict_reference_on_random_graphs(spark, edges):
        edges = sorted(set(edges))
        if not edges:
            return
        got = {
            r["node"]: r["pr"]
            for r in pagerank(_edges(spark, edges), iters=2).collect()
        }
        ref = _pagerank_ref(edges, iters=2)
        assert set(got) == set(ref)
        for v, want in ref.items():
            assert got[v] == pytest.approx(want, abs=1e-12)

    @settings(max_examples=10, deadline=None)
    @given(_edge_lists)
    def test_triangles_match_bruteforce_on_random_graphs(spark, edges):
        und = sorted({(min(a, b), max(a, b)) for a, b in edges})
        if not und:
            return
        es = set(und)
        nodes = sorted({u for e in und for u in e})
        import itertools

        want = sum(
            1
            for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in es and (b, c) in es and (a, c) in es
        )
        row = triangle_count(_edges(spark, und, cols=("a", "b"))).collect()[0]
        assert row["n_triangles"] == want
        assert row["n_edges"] == len(und)


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------


def _tri(spark, pairs):
    df = _edges(spark, pairs, cols=("a", "b"))
    return triangle_count(df).collect()[0]


def test_triangles_k4(spark):
    # K4: C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    row = _tri(spark, k4)
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_triangles_square_none(spark):
    row = _tri(spark, [(0, 1), (1, 2), (2, 3), (0, 3)])
    assert row["n_triangles"] == 0


def test_triangles_two_sharing_edge(spark):
    # triangles 0-1-2 and 1-2-3 share edge (1,2)
    row = _tri(spark, [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)])
    assert row["n_triangles"] == 2
    assert row["n_edges"] == 5


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def test_lpa_disjoint_triangles_converge_to_min_label(spark):
    from nyc_taxi_data_clickhouse_spark.operators.graph import label_propagation

    tris = [(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12)]
    got = {
        r["node"]: r["community"]
        for r in label_propagation(
            _edges(spark, tris, cols=("a", "b")), iters=2
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_lpa_path_sync_update_semantics(spark):
    """Path 0-1-2, synchronous updates: iter1 gives (1, 0, 1) — the
    middle node ties {0,2} and takes the min — iter2 gives (0, 1, 0).
    Pins that updates read the PREVIOUS iteration's labels, not a
    mid-iteration mix."""
    from nyc_taxi_data_clickhouse_spark.operators.graph import label_propagation

    path = [(0, 1), (1, 2)]
    it1 = {
        r["node"]: r["community"]
        for r in label_propagation(
            _edges(spark, path, cols=("a", "b")), iters=1
        ).collect()
    }
    assert it1 == {0: 1, 1: 0, 2: 1}
    it2 = {
        r["node"]: r["community"]
        for r in label_propagation(
            _edges(spark, path, cols=("a", "b")), iters=2
        ).collect()
    }
    assert it2 == {0: 0, 1: 1, 2: 0}


# ---------------------------------------------------------------------------
# A-ES weighted sampling
# ---------------------------------------------------------------------------


def test_aes_key_matches_python(spark):
    rows = [(i, 10 + 7 * i) for i in range(1, 20)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id", aes_key("doc_id", "n_chars").alias("k")
        ).collect()
    }
    for i, w in rows:
        u = ((i * KNUTH) % 2**32 + 1.0) / 2**32
        assert got[i] == pytest.approx(u ** (1.0 / w), rel=1e-15)


_HUGE_IDS = [
    1,
    2**31,
    3_470_000_000,        # just past 2^63 // KNUTH — naive product overflows
    2**32 - 1,
    2**32,
    2**40 + 12345,
    2**62 + 999,
    2**63 - 1,
    # negative ids: Spark pmod vs DuckDB's sign-preserving % — the
    # oracle restates pmod explicitly (selection._AES_X_SQL), and
    # Python's floored % is the shared reference
    -1,
    -(2**31),
    -(2**63) + 5,
]


def test_aes_hash_overflow_safe_full_int64_range(spark):
    """ADVICE r12: ids past ~3.47e9 overflow the naive int64 product
    (silently wrapping into negative remainders -> NaN keys).  The
    split-halves hash must equal Python bigint arithmetic and stay in
    [0, 2^32) for the FULL int64 id range."""
    from nyc_taxi_data_clickhouse_spark.operators.selection import aes_hash

    df = spark.createDataFrame([(i,) for i in _HUGE_IDS], "doc_id long")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", aes_hash(F.col("doc_id")).alias("h")
        ).collect()
    }
    for i in _HUGE_IDS:
        assert got[i] == (i * KNUTH) % 2**32, i
        assert 0 <= got[i] < 2**32


def test_aes_hash_oracle_sql_matches_on_huge_ids():
    """The DuckDB restatement must compute the identical hash on the
    same huge ids — and not raise on overflow (every intermediate in
    the split-halves form stays below 2^48)."""
    import duckdb

    from nyc_taxi_data_clickhouse_spark.operators.selection import _AES_H_SQL

    con = duckdb.connect()
    for i in _HUGE_IDS:
        (h,) = con.execute(
            f"SELECT {_AES_H_SQL} AS h FROM (SELECT CAST({i} AS BIGINT) AS doc_id)"
        ).fetchone()
        assert h == (i * KNUTH) % 2**32, i


def test_aes_key_positive_for_huge_ids(spark):
    """The end-to-end key u^(1/w) must be a real number in (0, 1] —
    never NaN — even where the naive hash would have gone negative."""

    df = spark.createDataFrame(
        [(i, 100) for i in _HUGE_IDS], "doc_id long, n_chars long"
    )
    ks = [r["k"] for r in df.select(aes_key("doc_id", "n_chars").alias("k")).collect()]
    assert all(0.0 < k <= 1.0 for k in ks), ks


def test_aes_heavier_weights_win_in_expectation():
    # weight 1000 vs weight 1: the heavy item's key u^(1/1000) is
    # near 1 for almost any u; over many id pairs the heavy item's
    # key beats the light item's almost always
    def u(i):
        return ((i * KNUTH) % 2**32 + 1.0) / 2**32

    wins = sum(
        1 for i in range(100) if u(i) ** (1 / 1000) > u(i + 100) ** (1 / 1)
    )
    assert wins > 90


def test_weighted_sample_per_domain_caps_and_ranks(spark, tmp_path):
    from nyc_taxi_data_clickhouse_spark.operators.selection import (
        _PER_DOMAIN_K,
        weighted_sample_per_domain,
    )

    # 2 domains x 15 docs, plus one empty-weight doc that must drop
    rows = [(i, "x" * (5 + i), ["a", "b"][i % 2]) for i in range(30)]
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows]
        + [(99, "", "en", "a", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = weighted_sample_per_domain(spark, str(tmp_path)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"a", "b"}
    for src, group in by_src.items():
        assert len(group) == _PER_DOMAIN_K
        assert sorted(r["rank"] for r in group) == list(
            range(1, _PER_DOMAIN_K + 1)
        )
        # ranks follow the A-ES key order within the domain
        def key(r):
            u = ((r["doc_id"] * KNUTH) % 2**32 + 1.0) / 2**32
            return u ** (1.0 / r["n_chars"])

        ordered = sorted(group, key=lambda r: (-key(r), r["doc_id"]))
        assert [r["doc_id"] for r in ordered] == [
            r["doc_id"] for r in sorted(group, key=lambda r: r["rank"])
        ]
    assert all(r["doc_id"] != 99 for r in out)


# ---------------------------------------------------------------------------
# quality rule filter (via the registered entry on a temp corpus)
# ---------------------------------------------------------------------------


def test_quality_rules_attribute_each_failure(spark, tmp_path):
    from nyc_taxi_data_clickhouse_spark.operators.curation import quality_rule_filter

    good = "the quick brown fox jumps over a lazy dog and then it " \
           "runs on far to the hills for a while in clear air " + \
           "with many more fine plain words here now then soon"
    rows = [
        (1, good),                                    # passes all
        (2, "the a of to in"),                        # too few words
        (3, ("the aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa " * 10).strip()),  # mwl high
        (4, " ".join(f"w{i}" for i in range(40))),    # no stopwords
        (5, good + " " + "#$%^&* " * 12),             # symbol soup
        (6, "the " + "dup " * 40 + "of it a to in"),  # dup tokens
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in quality_rule_filter(spark, str(tmp_path)).collect()}
    assert out[1]["keep"]
    assert not out[2]["r_word_count"] and not out[2]["keep"]
    assert not out[3]["r_mean_word_len"]
    assert not out[4]["r_stopwords"]
    assert not out[5]["r_symbols"]
    assert not out[6]["r_dup_tokens"]


# ---------------------------------------------------------------------------
# G.711 mu-law codec
# ---------------------------------------------------------------------------


def _mulaw_wav(codeword: int, n: int) -> bytes:
    data = bytes([codeword]) * n
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _expand(byte: int) -> int:
    u = ~byte & 0xFF
    mag = (((u & 0x0F) << 3) + 0x84 << ((u >> 4) & 7)) - 0x84
    return -mag if u & 0x80 else mag


def test_mulaw_full_codeword_table():
    """All 256 codewords expand to the spec values: 0x00 -> -32124,
    0xFF -> 0, 0x7F -> 0 (negative zero folds), sign symmetry."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    assert _expand(0x00) == -32124
    assert _expand(0xFF) == 0
    assert _expand(0x7F) == 0
    for c in range(256):
        out = decode_media(_mulaw_wav(c, 5), "audio/basic")
        assert out["kind"] == "audio"
        assert out["sample_rate"] == 8000
        assert out["n_samples"] == 5
        assert out["samples"] == [_expand(c)] * 5
        assert out["abs_sum"] == 5 * abs(_expand(c))
    # sign symmetry: clearing the sign bit of the WIRE byte negates
    for c in range(0x80):
        assert _expand(c) == -_expand(c | 0x80)


def _alaw_wav(codeword: int, n: int) -> bytes:
    data = bytes([codeword]) * n
    fmt = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _alaw_expand(byte: int) -> int:
    u = byte ^ 0x55
    man, seg = u & 0x0F, (u >> 4) & 7
    mag = man * 16 + 8 if seg == 0 else (man * 16 + 264) << (seg - 1)
    return mag if u & 0x80 else -mag


def test_alaw_full_codeword_table():
    """Canonical G.711 A-law anchors: 0x55 -> -8, 0xD5 -> +8,
    0x2A -> -32256, 0xAA -> +32256; full 256-codeword round trip and
    sign symmetry (bit 7 of the unscrambled byte SET = positive —
    inverted vs mu-law)."""
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    assert _alaw_expand(0x55) == -8
    assert _alaw_expand(0xD5) == 8
    assert _alaw_expand(0x2A) == -32256
    assert _alaw_expand(0xAA) == 32256
    for c in range(256):
        out = decode_media(_alaw_wav(c, 3), "audio/basic")
        assert out["kind"] == "audio" and out["sample_rate"] == 8000
        assert out["samples"] == [_alaw_expand(c)] * 3
        assert out["abs_sum"] == 3 * abs(_alaw_expand(c))
    for c in range(0x80):
        assert _alaw_expand(c) == -_alaw_expand(c | 0x80)


def test_mulaw_odd_length_word_padding():
    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    out = decode_media(_mulaw_wav(0x1D, 7), "audio/basic")
    assert out["n_samples"] == 7  # pad byte not decoded as a sample


def test_pcm_wav_path_unaffected():
    import io
    import wave

    from nyc_taxi_data_clickhouse_spark.operators.multimodal import decode_media

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(16000)
        f.writeframes(struct.pack("<h", 123) * 4)
    out = decode_media(buf.getvalue(), "audio/wav")
    assert out["n_samples"] == 4 and out["abs_sum"] == 492


def test_triangle_join_gate_plan_shape(spark, monkeypatch):
    """Below the node-count gate the degree and probe joins broadcast;
    above it they are shuffled-hash — never sort-merge (checkpointed
    frames report huge stats, which un-gated would sort-merge even a
    4-node graph).  Counts must be identical across the gate."""
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    lo_df = triangle_count(_edges(spark, k4, cols=("a", "b")))
    lo_plan = lo_df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in lo_plan
    assert "BroadcastHashJoin" in lo_plan
    monkeypatch.setattr(partitioning, "BROADCAST_GROUP_BOUND", 1)
    hi_df = triangle_count(_edges(spark, k4, cols=("a", "b")))
    hi_plan = hi_df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in hi_plan
    assert "ShuffledHashJoin" in hi_plan
    assert lo_df.collect() == hi_df.collect()
