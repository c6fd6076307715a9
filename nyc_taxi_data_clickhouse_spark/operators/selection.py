"""Corpus selection and sampling — the step between scoring and
training-set assembly in a 100 TB pipeline.

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

The two quality entries share the score definition: the
alphabetic-character ratio quantized to ``floor(1000 * alpha_chars /
chars)`` — a real, cheap quality signal (prose scores high; digit
soup, markup and encoded blobs score low), integer-valued so every
comparison and cumulative below is exact in both engines.  The
hash-bucket samplers elsewhere (train/val/test split, stratified and
temperature-scaled mixing) draw from :func:`doc_bucket`.

Reference: no analog (the reference's 9-line trans.py has no text
surface — SURVEY §0); every entry is DuckDB-oracle-gated with the
oracle restating the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_clickhouse_spark.operators.text import WS_RUN
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
    """Whitespace token count (the repo's standard tokenizer split,
    without the lowercasing, which cannot change the count)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), WS_RUN)).cast("long")


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
def quality_percentile_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    hint = group_table_hint(cdf, None, label="domain_quality_cdf")
    return scored.join(hint(cdf), ["lang", "bucket"]).select(
        "doc_id",
        "lang",
        "bucket",
        (F.col("below") * 1.0 / F.col("n_lang")).alias("pct"),
    )


# ---------------------------------------------------------------------------
# deterministic hashes: doc-id buckets and weighted sampling (A-ES)
# ---------------------------------------------------------------------------

#: Knuth's multiplicative hash constant (2^32 / phi, odd)
KNUTH = 2_654_435_761


def doc_bucket(id_col: str) -> Column:
    """``((id mod 1000003) * KNUTH) mod 100``: a doc id's fixed bucket
    in [0, 100) — the growth-stable membership hash the split and
    sampling entries threshold.  Mod-reducing before the Knuth multiply
    keeps the product within int64 for any doc_id: Spark wraps on
    overflow while DuckDB (HUGEINT) and other engines don't, which
    would silently diverge assignment above doc_id ~3.5e9."""
    return ((F.col(id_col) % 1000003) * F.lit(KNUTH)) % 100


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
    """``(id * KNUTH) mod 2^32`` with no int64 overflow anywhere in
    the id's range (split 16-bit halves, see the comment above)."""
    x = F.pmod(id_col.cast("long"), F.lit(2**32))
    xh = F.floor(x / F.lit(65536)).cast("long")
    xl = x % F.lit(65536)
    return (
        (xh * F.lit(KNUTH)) % F.lit(65536) * F.lit(65536)
        + (xl * F.lit(KNUTH)) % F.lit(2**32)
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
