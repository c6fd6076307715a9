"""probe.py: a bad flag fails before any session starts, and plan
captures of an entry that stages through scratch compare byte for
byte."""

from __future__ import annotations

import pytest

import probe
from tests.conftest import SF_SMOKE


def test_bad_flag_exits_2_naming_it_before_any_session(monkeypatch, capsys):
    monkeypatch.setattr(probe, "get_spark", lambda **_: pytest.fail("session started"))
    with pytest.raises(SystemExit) as exc:
        probe.main(["star", "--repeats", "0"])
    assert exc.value.code == 2
    assert "argument --repeats: expected a positive integer, got '0'" in (
        capsys.readouterr().err
    )


def test_two_captures_of_a_scratch_staged_entry_are_identical(spark):
    first, second = (
        next(probe.entry_plans(spark, ["jsonl_ingest"], SF_SMOKE, execute=False))[1]
        for _ in range(2)
    )
    assert first == second
    assert "<scratch>/jsonl_" in first
