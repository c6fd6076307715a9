"""Unit tests for bench.py's automatic regression tripwire
(VERDICT r4 item 5): per-query deltas vs the best prior-round
recording are computed inside the payload, not by hand."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)


def test_flags_only_material_slowdowns():
    prior = {"q1": 1.0, "q2": 0.1, "q3": 5.0, "q4": 2.0}
    now = {
        "q1": 1.5,   # +50% and +0.5s -> regression
        "q2": 0.2,   # +100% but only +0.1s -> under the 0.3s floor
        "q3": 5.4,   # +8% -> under the 15% threshold
        "q4": 1.0,   # improvement -> never a regression
        "q5": 9.9,   # no prior recording -> skipped
    }
    names, detail = bench.detect_regressions(now, prior)
    assert names == ["q1"]
    assert detail["q1"]["prior_best"] == 1.0
    assert detail["q1"]["now"] == 1.5
    assert detail["q1"]["ratio"] == 1.5


def test_prior_best_reads_committed_rounds():
    """The repo root carries BENCH_r01..r16 + locals; the per-query best
    must be the minimum across the same-sf, same-cpus history and
    exclude the current round.  Mirrors bench.prior_best_per_query's
    source preference: a payload's recorded "best" dict wins over its
    per-query means, and driver payloads nest the headline under
    "parsed"."""
    best = bench.prior_best_per_query(current_round=99, sf=0.1, cpus=32)
    assert "q1_group_count" in best
    import json

    mins: dict[str, float] = {}
    for payload in bench.history_payloads(99, sf=0.1, cpus=32):
        parsed = payload.get("parsed") or {}
        source = (
            payload.get("best")
            or payload.get("queries")
            or parsed.get("best")
            or parsed.get("queries")
            or {}
        )
        for k, v in source.items():
            if isinstance(v, (int, float)) and v > 0:
                mins[k] = min(mins.get(k, float("inf")), v)
    # accepted-baseline overrides raise the reference for attributed
    # drifts (BENCH_ACCEPTED.json)
    accepted = json.loads(
        (Path(bench.__file__).resolve().parent / "BENCH_ACCEPTED.json").read_text()
    )
    for k, row in accepted.items():
        if k in mins and row.get("round", 0) <= 99:
            mins[k] = max(mins[k], float(row["baseline"]))
    assert best == mins

    # excluding everything yields an empty reference set (accepts only
    # raise EXISTING references, never mint new ones)
    assert bench.prior_best_per_query(current_round=0) == {}


def test_accepted_baseline_raises_reference_only():
    """Accepted plateaus must lift the tripwire reference for the
    standing attributed FEATURE pins (r11 dropped the five drift pins
    after the best-of-runs payload cleared them) — and must never
    LOWER a reference or apply before their acceptance round."""
    best = bench.prior_best_per_query(current_round=99, sf=0.1, cpus=32)
    assert best["pii_scrub_documents"] == 1.15  # raised from the 4-pattern era
    assert best["url_canonical_dedup"] == 0.65  # raised from the 1-arm era
    # the dropped drift pins no longer lift anything: raw history rules
    assert best["term_cooccurrence"] < 1.81
    # before the acceptance round the raw history rules
    pre = bench.prior_best_per_query(current_round=5)
    assert pre["term_cooccurrence"] < 1.81

    # sf filter: only same-scale payloads feed the reference set
    sf01 = bench.prior_best_per_query(current_round=99, sf=0.1)
    assert sf01  # committed history is at sf0.1
    assert bench.prior_best_per_query(current_round=99, sf=123.0) == {}

    # cpus filter: the 8-core payloads (BENCH_local_r17.json, and the
    # suffixed BENCH_r15_c8/BENCH_r16_c8 reruns) never feed the 32-core
    # reference set
    history = bench.history_payloads(99, sf=0.1, cpus=32)
    assert history and all(p["cpus"] == 32 for p in history)
    # the c8 reruns are the only 8-core driver payloads (nested under
    # "parsed"); the filename pattern drops them
    assert not any("parsed" in p for p in bench.history_payloads(99, cpus=8))
    assert best["multimodal_y4m_video"] > 0.41  # r17's 8-core best
    assert bench.prior_best_per_query(current_round=99, sf=0.1, cpus=123) == {}


def test_drift_normalization_relaxes_reference():
    """VERDICT r8 item 2: a measured host slowdown scales the tripwire
    reference, so identical-code runs on a slow host hour don't flag;
    relief is capped so a real >=1.6x regression still trips."""
    prior = {"q1": 2.0, "q2": 1.0}
    now = {"q1": 2.5, "q2": 2.2}
    # no drift: both over 15% + the 0.3s floor -> both flag
    names, _ = bench.detect_regressions(now, prior)
    assert names == ["q1", "q2"]
    # host measured 1.3x slower: q1 (1.25x) is inside the drift, q2
    # (2.2x) is a real regression even after relief
    names, detail = bench.detect_regressions(now, prior, host_drift=1.3)
    assert names == ["q2"]
    assert detail["q2"]["drift_adjusted_ref"] == 1.3
    # relief never exceeds the cap: a 3x-slow host can't hide 2.2x
    names, _ = bench.detect_regressions(now, prior, host_drift=3.0)
    assert names == ["q2"]
    # drift below 1.0 (host FASTER now) never tightens the reference:
    # same verdict as the no-drift run
    names, _ = bench.detect_regressions(now, prior, host_drift=0.5)
    assert names == ["q1", "q2"]


def test_prior_scan_rate_anchor_reads_history():
    rate = bench.prior_scan_rate_anchor(current_round=99, sf=0.1)
    assert rate is None or rate > 0
    # excluding all rounds yields no anchor
    assert bench.prior_scan_rate_anchor(current_round=0) is None
    # the anchor is the MEDIAN of prior rounds, never the all-time best
    # (ADVICE r9: an extreme-value anchor systematically relaxes the
    # tripwire) — with >=3 recorded rounds the median must sit strictly
    # below the max unless all rates are equal
    rates = []
    for payload in bench.history_payloads(99, sf=0.1):
        r = payload.get("rows_per_sec_per_core") or (
            payload.get("parsed") or {}
        ).get("rows_per_sec_per_core")
        if isinstance(r, (int, float)) and r > 0:
            rates.append(float(r))
    if len(rates) >= 3 and max(rates) > min(rates):
        assert rate < max(rates)


def test_merge_best_of_runs_picks_per_query_best(tmp_path):
    """VERDICT r10 item 4: the committed payload is the per-query BEST
    across the round's full-suite runs — each query keeps the
    (mean, std, best) triple of the run with the lower best; the scan
    section follows the faster run; queries the payload has but this
    run did not execute are carried over UNCHANGED (a restricted
    BENCH_QUERIES rerun refines its subset without destroying the full
    payload), and such subset runs don't contribute a suite mean;
    sf/cpus mismatches and BENCH_MERGE=0 skip the merge."""
    import json

    path = tmp_path / "BENCH_local_r99.json"
    old = {
        "sf": 0.1,
        "cpus": 32,
        "value": 10.0,
        "queries": {"q1": 2.0, "q2": 3.0, "stale": 5.0},
        "stds": {"q1": 0.1, "q2": 0.2, "stale": 0.3},
        "best": {"q1": 1.8, "q2": 2.9, "stale": 4.5},
        "scan": {"rows_per_sec_per_core": {"a": 100.0, "b": 200.0}},
        "merged_runs": 2,
        "run_suite_means": [10.5, 10.0],
    }
    path.write_text(json.dumps(old))

    per_query = {"q1": 2.5, "q2": 2.4}
    stds = {"q1": 0.3, "q2": 0.1}
    bests = {"q1": 2.3, "q2": 2.2}   # q1 worse than old, q2 better
    scan = {"rows_per_sec_per_core": {"a": 90.0, "b": 150.0}}  # slower
    merged_scan, runs, means, history = bench.merge_best_of_runs(
        per_query, stds, bests, scan, ["q1", "q2"], path, 0.1, 32,
        known={"q1", "q2", "stale"},
    )
    # per-query best wins; the un-executed query is carried unchanged
    assert bests == {"q1": 1.8, "q2": 2.2, "stale": 4.5}
    assert per_query == {"q1": 2.0, "q2": 2.4, "stale": 5.0}
    assert stds == {"q1": 0.1, "q2": 0.1, "stale": 0.3}
    assert merged_scan is old["scan"] or merged_scan == old["scan"]  # faster
    # ADVICE r11: this run carried queries (subset rerun), so the
    # FULL-COVERAGE run count does not increment...
    assert runs == 2
    # ...and its subset sum is NOT a suite mean
    assert means == [10.5, 10.0]
    # VERDICT r11 item 4: the raw pre-merge single-run table is kept
    assert history[-1]["queries"] == {"q1": 2.5, "q2": 2.4}
    assert history[-1]["best"] == {"q1": 2.3, "q2": 2.2}
    assert history[-1]["full_coverage"] is False

    # ADVICE r11: carried names are filtered against the known set — a
    # query renamed/removed between runs drops out of the payload
    pq_f = {"q1": 2.5, "q2": 2.4}
    bests_f = {"q1": 2.3, "q2": 2.2}
    _, runs_f, means_f, _ = bench.merge_best_of_runs(
        pq_f, {"q1": 0.3, "q2": 0.1}, bests_f, None,
        ["q1", "q2"], path, 0.1, 32, known={"q1", "q2"},
    )
    assert "stale" not in pq_f and "stale" not in bests_f
    # nothing carried -> full-coverage run: count and mean both grow
    assert runs_f == 3
    assert means_f == [10.5, 10.0, 4.9]

    # sf mismatch -> no merge
    pq2 = {"q1": 9.0}
    _, runs2, _, hist2 = bench.merge_best_of_runs(
        pq2, {"q1": 0.0}, {"q1": 9.0}, None, ["q1"], path, 0.01, 32,
        known={"q1"},
    )
    assert runs2 == 1 and pq2 == {"q1": 9.0}
    assert len(hist2) == 1 and hist2[0]["full_coverage"] is True

    # BENCH_MERGE=0 -> no merge
    import os
    os.environ["BENCH_MERGE"] = "0"
    try:
        pq3 = {"q1": 9.0}
        _, runs3, _, _ = bench.merge_best_of_runs(
            pq3, {"q1": 0.0}, {"q1": 9.0}, None, ["q1"], path, 0.1, 32,
            known={"q1"},
        )
        assert runs3 == 1 and pq3 == {"q1": 9.0}
    finally:
        del os.environ["BENCH_MERGE"]


def test_bench_merge_zero_never_touches_committed_payload(tmp_path, monkeypatch):
    """VERDICT r12 item 8: a BENCH_MERGE=0 invocation must leave the
    round's committed BENCH_local_r{N}.json byte-identical — the r12
    incident was a smoke run clobbering the 4-run merged payload."""
    committed = '{"queries": {"q1": 1.0}, "merged_runs": 4}\n'
    path = tmp_path / "BENCH_local_r12.json"
    path.write_text(committed)

    monkeypatch.setenv("BENCH_MERGE", "0")
    wrote = bench.persist_payload(path, {"queries": {"q1": 9.9}})
    assert wrote is False
    assert path.read_text() == committed

    # and the guard must not block a normal merged run
    monkeypatch.delenv("BENCH_MERGE", raising=False)
    wrote = bench.persist_payload(path, {"queries": {"q1": 2.0}})
    assert wrote is True
    assert '"q1": 2.0' in path.read_text()
