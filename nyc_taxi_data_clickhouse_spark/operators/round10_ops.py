"""Round-10 surface extensions — budget- and fairness-aware corpus
selection, the step between scoring and training-set assembly in a
100 TB pipeline.

- ``token_budget_selection``: pick the quality cutoff that fills a
  global TOKEN budget — "take the best documents until we have N
  tokens", the selection rule budget-constrained pretraining sets are
  actually built with (score thresholds are the artifact of this, not
  the input).  The scale-honest shape: a naive top-k by score is a
  global sort of the corpus; instead the score is quantized to 1 000
  buckets, a per-bucket (docs, tokens) histogram is aggregated (one
  small hash agg — the only full-data pass), and the cumulative walk
  to the budget happens on the ≤1 001-row histogram.  Granularity is
  1/1000 of the score range — at 100 TB nobody can justify a finer
  cutoff than that anyway.
- ``quality_percentile_by_domain``: per-domain percentile
  normalization of the quality score, so one global threshold does not
  empty small domains (domain-fair filtering).  Same histogram trick:
  a per-(domain, bucket) count + a cumulative over the tiny histogram
  + a BROADCAST join back gives every document its within-domain
  bucket-CDF percentile WITHOUT the per-domain global sort a
  percent_rank() window would need (one task per domain — the
  anti-pattern at scale).

Both entries share the score definition: the alphabetic-character
ratio quantized to ``floor(1000 * alpha_chars / chars)`` — a real,
cheap quality signal (prose scores high; digit soup, markup and
encoded blobs score low), integer-valued so every comparison and
cumulative below is exact in both engines.

Reference: no analog (the reference's 9-line trans.py has no text
surface — SURVEY §0); both entries are DuckDB-oracle-gated with the
oracle restating the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.suite import load_table, register


def quality_bucket(text: Column | str) -> Column:
    """``floor(1000 * alpha_chars / chars)`` as int; NULL for empty
    text.  Integer-valued so downstream cumulative arithmetic is exact
    cross-engine (the float division feeding floor() is one correctly
    rounded IEEE op in either engine)."""
    c = F.col(text) if isinstance(text, str) else text
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", ""))
    return F.when(
        F.length(c) > 0,
        F.floor(F.lit(1000.0) * alpha / F.length(c)).cast("int"),
    )


def word_count(text: Column | str) -> Column:
    """Whitespace token count (the repo's standard tokenizer split)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"[ \t\n\x0B\f\r]+")).cast("long")


@register(
    "token_budget_selection",
    r"""
    WITH scored AS (
      SELECT CAST(floor(1000.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / length(text)) AS INT) AS bucket,
             CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS toks
      FROM documents WHERE length(text) > 0),
    hist AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM scored GROUP BY bucket),
    walk AS (
      SELECT bucket, n_docs, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens,
             CAST((sum(n_tokens) OVER ()) * 2 // 5 AS BIGINT) AS budget
      FROM hist)
    SELECT bucket, n_docs, n_tokens, cum_tokens,
           cum_tokens - n_tokens < budget AS kept
    FROM walk
    """,
    doc="§7 selection: global token-budget cutoff — keep the highest-"
    "quality-score buckets until 40% of the corpus tokens are taken "
    "(budget = 2*total//5, integer-exact both engines).  One full-data "
    "pass builds the 1000-bucket (docs, tokens) histogram; the "
    "descending cumulative walk and the cutoff live on the tiny "
    "histogram (a single-partition window over <=1001 rows, never the "
    "corpus).  kept = the bucket's PRECEDING cumulative is under "
    "budget, so the crossing bucket is included — the deterministic "
    "closed form the oracle restates.  A naive top-k-by-score is a "
    "global corpus sort; this is the shape that replaces it at 100 TB.",
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    scored = docs.select(
        quality_bucket("text").alias("bucket"),
        word_count("text").alias("toks"),
    )
    hist = scored.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("toks").alias("n_tokens")
    )
    w_cum = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = hist.select(
        "bucket",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w_cum).alias("cum_tokens"),
        (F.sum("n_tokens").over(Window.partitionBy()) * 2).alias("__t2"),
    )
    budget = F.expr("__t2 div 5")
    return walk.select(
        "bucket",
        "n_docs",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") - F.col("n_tokens") < budget).alias("kept"),
    )


@register(
    "quality_percentile_by_domain",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(floor(1000.0 * length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / length(text)) AS INT) AS bucket
      FROM documents WHERE length(text) > 0),
    hist AS (
      SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n
      FROM scored GROUP BY lang, bucket),
    cdf AS (
      SELECT lang, bucket,
             sum(n) OVER (PARTITION BY lang ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) - n AS below,
             sum(n) OVER (PARTITION BY lang) AS n_lang
      FROM hist)
    SELECT s.doc_id, s.lang, s.bucket,
           c.below * 1.0 / c.n_lang AS pct
    FROM scored s JOIN cdf c ON s.lang = c.lang AND s.bucket = c.bucket
    """,
    doc="§7 selection: per-domain quality-percentile normalization — "
    "each document's within-domain bucket-CDF percentile (fraction of "
    "the domain scoring STRICTLY below its bucket), so one global "
    "percentile threshold filters every domain fairly instead of "
    "emptying the small ones.  Scale shape: per-(domain, bucket) "
    "count (one hash agg), cumulative over the tiny histogram, then "
    "the CDF joined back to the documents — NOT a percent_rank() "
    "window, whose per-domain global sort degenerates to one task per "
    "domain on a domain-skewed corpus.  The join-back broadcast is "
    "GATED on the CDF's row count (stats.py's group-count guard, "
    "VERDICT r10 item 2): a 10^7-domain crawl has a ~10^8-row CDF "
    "that must shuffle-join, not OOM the driver.  pct is an exact "
    "small-integer ratio (below/n) so the IEEE division is identical "
    "cross-engine.",
)
def quality_percentile_by_domain(
    spark: SparkSession,
    sf_dir: str,
    *,
    broadcast_side: bool | None = None,
) -> DataFrame:
    from nyc_taxi_data_clickhouse_spark.partitioning import group_table_hint

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    scored = docs.select(
        "doc_id", "lang", quality_bucket("text").alias("bucket")
    )
    hist = scored.groupBy("lang", "bucket").agg(F.count("*").alias("n"))
    w_cum = Window.partitionBy("lang").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = hist.select(
        "lang",
        "bucket",
        (F.sum("n").over(w_cum) - F.col("n")).alias("below"),
        F.sum("n").over(Window.partitionBy("lang")).alias("n_lang"),
    )
    # (domain, bucket) cardinality is unbounded on a real crawl, so the
    # broadcast must be guarded exactly like the per-group stats tables
    # in exact order statistics: count-gated, shuffle-join fallback.
    hint = group_table_hint(cdf, broadcast_side, label="domain_quality_cdf")
    return scored.join(hint(cdf), ["lang", "bucket"]).select(
        "doc_id",
        "lang",
        "bucket",
        (F.col("below") * 1.0 / F.col("n_lang")).alias("pct"),
    )
