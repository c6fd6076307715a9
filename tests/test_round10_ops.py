"""Selection primitives: token-budget cutoff and per-domain
percentile normalization — edge semantics the suite oracles don't pin."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.operators.selection import (
    quality_bucket,
    quality_percentile_by_domain,
    token_budget_selection,
    word_count,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang, "s", len(t)) for i, t, lang in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_quality_bucket_and_word_count(spark):
    rows = [
        (1, "clean prose here", "en"),       # all alpha+spaces
        (2, "a1b2c3", "en"),                  # half digits -> bucket 500
        (3, "12345", "en"),                   # no alpha -> 0
        (4, "", "en"),                        # empty -> NULL bucket
    ]
    got = {
        r["doc_id"]: (r["b"], r["w"])
        for r in _docs(spark, rows)
        .select("doc_id", quality_bucket("text").alias("b"),
                word_count("text").alias("w"))
        .collect()
    }
    assert got[1] == (875, 3)   # 14 alpha / 16 chars = 875
    assert got[2] == (500, 1)
    assert got[3] == (0, 1)
    assert got[4][0] is None


def test_token_budget_selection_includes_crossing_bucket(spark):
    """Budget = 40% of tokens; buckets are taken best-first and the
    bucket that CROSSES the budget is kept (its preceding cumulative
    is under budget), everything after it dropped."""
    # three quality tiers: all-alpha (1000), half (500), none (0);
    # token counts 4 / 4 / 12 -> total 20, budget = 8
    rows = (
        [(i, "pure alpha words here", "en") for i in range(1)]            # 4 toks @1000
        + [(10 + i, "a1 b2 c3 d4", "en") for i in range(1)]               # 4 toks @500... alpha ratio: 4 alpha/11 chars
        + [(20 + i, "11 22 33 44 55 66 77 88 99 00 12 34", "en") for i in range(1)]  # 12 toks @0
    )
    with tempfile.TemporaryDirectory() as d:
        _docs(spark, rows).write.parquet(f"{d}/documents.parquet")
        out = {r["bucket"]: r for r in token_budget_selection(spark, d).collect()}
    buckets = sorted(out, reverse=True)
    # top bucket (4 toks, cum 4 < 8): kept; middle (cum 8, preceding 4 < 8):
    # kept (crossing); bottom (preceding 8 >= 8): dropped
    assert out[buckets[0]]["kept"] is True
    assert out[buckets[1]]["kept"] is True
    assert out[buckets[2]]["kept"] is False
    assert out[buckets[2]]["cum_tokens"] == 20


def test_quality_percentile_is_domain_fair(spark):
    """The same absolute score lands at different percentiles in
    different domains; within a domain pct is the fraction strictly
    below, identical for same-bucket docs."""
    rows = (
        # domain A: buckets 0, 500, 1000  (one each)
        [(1, "123", "A"), (2, "a1", "A"), (3, "abc", "A")]
        # domain B: all-alpha only -> bucket 1000 is the FLOOR there
        + [(11, "abc", "B"), (12, "defg", "B")]
    )
    with tempfile.TemporaryDirectory() as d:
        _docs(spark, rows).write.parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in quality_percentile_by_domain(spark, d).collect()}
    assert [out[i]["pct"] for i in (1, 2, 3)] == [0.0, 1 / 3, 2 / 3]
    # bucket 1000 is the best of A (pct 2/3) but the floor of B (pct 0)
    assert out[11]["pct"] == 0.0 and out[12]["pct"] == 0.0
    assert out[3]["bucket"] == out[11]["bucket"] == 1000


def test_percentile_plan_broadcasts_cdf(spark):
    """The join back to documents must be a broadcast of the tiny CDF —
    a shuffle join here would reshuffle the corpus at 100 TB."""
    with tempfile.TemporaryDirectory() as d:
        _docs(spark, [(i, "some text", "en") for i in range(10)]).write.parquet(
            f"{d}/documents.parquet"
        )
        plan = (
            quality_percentile_by_domain(spark, d)
            ._jdf.queryExecution().executedPlan().toString()
        )
    assert "BroadcastHashJoin" in plan, plan
