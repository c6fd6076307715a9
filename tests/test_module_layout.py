"""Static layout guards: modules are named for what they do, the paths
COVERAGE.md points readers at exist, and no code needs the web UI.  No
SparkSession."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "nyc_taxi_data_clickhouse_spark"

#: files of the reference repository that COVERAGE.md cites for parity;
#: they are not part of this repo
REFERENCE_FILES = {"trans.py"}

#: the web UI's REST API and the override that turns the UI on: stage
#: metrics come from the status store (``metrics.py``), UI off
UI_MARKERS = ("/api/v1", "uiWebUrl", '"spark.ui.enabled": "true"')


def _resolves(name: str) -> bool:
    """``engine/`` is COVERAGE.md's abbreviation of the package; other
    paths are relative to the repo root or the package, and bare file
    names may live anywhere under the package (or at the root/tests)."""
    if name.startswith("engine/"):
        return (PACKAGE / name.removeprefix("engine/")).is_file()
    if "/" in name:
        return (ROOT / name).is_file() or (PACKAGE / name).is_file()
    return (
        (ROOT / name).is_file()
        or (ROOT / "tests" / name).is_file()
        or any(PACKAGE.rglob(name))
    )


def test_modules_named_by_concept_and_coverage_paths_exist():
    named_by_round = sorted(
        str(p.relative_to(ROOT))
        for p in PACKAGE.rglob("*")
        if "__pycache__" not in p.parts
        and (p.suffix == ".py" or p.is_dir())
        and re.search(r"round\d+", p.stem)
    )
    assert named_by_round == []

    text = (ROOT / "COVERAGE.md").read_text()
    names = set(re.findall(r"[A-Za-z0-9_./-]*[A-Za-z0-9_]\.py\b", text))
    missing = sorted(n for n in names - REFERENCE_FILES if not _resolves(n))
    assert missing == []


def test_no_code_reads_the_rest_api_or_turns_the_ui_on():
    this = Path(__file__).resolve()
    sources = [
        p
        for p in ROOT.rglob("*.py")
        if p != this
        and not any(
            part.startswith(".") or part == "perfbench"
            for part in p.relative_to(ROOT).parts
        )
    ]
    offenders = sorted(
        f"{p.relative_to(ROOT)}: {marker}"
        for p in sources
        for marker in UI_MARKERS
        if marker in p.read_text()
    )
    assert offenders == []
